"""Query registry: each operator from SURVEY.md §2 (and the beyond-
reference training-data operators) is declared once as a pair of
implementations — an idiomatic-PySpark DataFrame program and, where
SQL-expressible, the equivalent ANSI SQL string a DuckDB oracle runs on
the same parquet tables.

Contract requirements (driver correctness gate):
- identical column names/aliases on both sides;
- deterministic result sets (LIMIT only under a total order);
- floating aggregates quantized identically on both sides so the
  order-insensitive value hash is stable across engines;
- round(x, k) itself is NOT engine-portable on boundary decimals:
  Spark rounds the double's exact BigDecimal value HALF_UP, DuckDB
  builds multiply by 10^k in floats first and resolve ties however
  their libm/sprintf does (q48 flipped at sf0.1 on exact 6-decimal
  ratios; CORRECTNESS_r04's four red rows were all round() boundary
  flips against the driver's engine build). The portable form is
  floor(x·10^k + 0.5)/10^k — floor plus IEEE-754 basic ops, all
  correctly rounded by spec, hence bit-identical on ANY engine. Use
  `fround` below on the Spark side and the literal floor form in the
  oracle SQL; tests/test_roundproof.py enforces that no naked round(
  survives in either surface;
- timestamps/intervals projected as text/epoch numerics, never raw, to
  dodge engine-specific rendering.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _ensure_session_confs(spark: SparkSession) -> None:
    """Pin the session invariants every query relies on, defensively: the
    caller (e.g. the verify driver) may hand us an arbitrarily configured
    session. All three are runtime-settable SQL confs."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    # events.parquet carries INT64 TIMESTAMP(NANOS) which vanilla Spark
    # rejects; read as long and convert explicitly below.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # isAdjustedToUTC=false µs timestamps must surface as TimestampType,
    # not TIMESTAMP_NTZ: the operators use unix_micros(), and DuckDB reads
    # the same column as plain TIMESTAMP. Under a UTC session TZ the two
    # readings are µs-identical.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_session_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for fld in df.schema.fields:
        if fld.name == "ts" and fld.dataType.simpleString() == "bigint":
            # nanosAsLong surfaced a nanos-precision column: truncate to µs
            # (same precision DuckDB materializes) and restore TimestampType
            # integral division: double math would drift by ~0.25 µs at
            # 2024-era epochs, enough to break µs-exact oracle parity
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif fld.dataType.simpleString() == "timestamp_ntz":
            # a schema cached before _ensure_session_confs ran (or a caller
            # bypassing it) can still surface NTZ; the cast is exact under
            # the UTC session TZ pinned above
            df = df.withColumn(fld.name, F.col(fld.name).cast("timestamp"))
    return df


def decode_embedding(emb: DataFrame, *keep: str, subdim: Optional[int] = None) -> DataFrame:
    """One row per embedding component: ``(*keep, [sub,] pos, x0)``, its
    0-based position ``pos`` and value ``x0`` as a double. With
    ``subdim``, ``sub`` is the product-quantization sub-vector of the
    component (``pos / subdim``)."""
    sub = [] if subdim is None else [(F.col("pos") / subdim).cast("int").alias("sub")]
    return emb.select(*keep, F.posexplode("embedding").alias("pos", "xf")).select(
        *keep, *sub, "pos", F.col("xf").cast("double").alias("x0")
    )


def fround(col, scale: int = 0):
    """Engine-portable quantization: floor(x·10^scale + 0.5)/10^scale.

    Drop-in replacement for F.round on DOUBLE expressions. Unlike
    round(), every operation here (multiply, add, floor, divide) is an
    IEEE-754 basic op — correctly rounded by spec — so Spark and any
    oracle engine produce bit-identical doubles; there is no
    implementation-defined tie mode left to disagree on. Ties
    (x·10^k exactly *.5) resolve toward +inf on both engines by
    construction. scale=0 returns DOUBLE (matching SQL floor()'s
    DOUBLE-in/DOUBLE-out), so chained `.cast("long")` call sites keep
    their previous types. Oracle SQL must spell the identical literal
    form: floor((x) * 10000.0 + 0.5) / 10000.0.
    """
    if isinstance(col, str):
        col = F.col(col)
    if scale:
        m = F.lit(float(10**scale))
        return _floor_double(col * m + F.lit(0.5)) / m
    return _floor_double(col + F.lit(0.5))


def _floor_double(y):
    """SQL floor() that stays DOUBLE. Spark's floor returns LONG, which
    silently overflows past 2^63 (emb_norm_anova's edge corpus: s1^2/n
    ~ 4e24 became garbage) and maps NaN/inf to nonsense via the long
    cast. Every |double| >= 2^53 is already integral, so floor is the
    identity there — and the identity branch also forwards NaN/±inf
    exactly like DuckDB's floor."""
    big = F.lit(9007199254740992.0)  # 2^53
    return F.when(F.abs(y) < big, F.floor(y).cast("double")).otherwise(y)


def share_expr(num: str, den: str, scale: int = 4):
    """Overflow-safe, zero-guarded round-half-up share: the portable
    integer form round(num/den * 10^scale) = (num*2*10^scale + den) div
    (2*den), widened to DECIMAL(38,0) before the multiply. The widening
    matters at fleet scale: int64 `num * 20000` wraps silently (non-ANSI)
    once num exceeds ~4.6e14 — e.g. windowed revenue cents near TPC-H
    sf600 — while DuckDB's sum(BIGINT) is HUGEINT and stays exact, so the
    two surfaces would diverge exactly where the framework targets.
    DECIMAL(38,0) holds ~1e38: headroom of ~1e15x over the wrap point.
    The CASE guard mirrors DuckDB's error-vs-NULL divide-by-zero gap
    (DuckDB `//` raises, Spark div yields NULL): both surfaces now emit
    NULL on an empty/zero denominator. Spark's `div` (IntegralDivide) on
    decimals computes the exact integral quotient and returns LONG, so
    the output dtype is unchanged from the narrow form.

    `num`/`den` are SQL expression strings over the surrounding plan's
    columns. Pair every use with share_sql() in the oracle string.
    """
    m = 2 * 10**scale
    return F.expr(
        f"case when ({den}) > 0 then "
        f"(cast(({num}) as decimal(38,0)) * {m} + ({den}))"
        f" div (2 * cast(({den}) as decimal(38,0)))"
        f" else cast(null as bigint) end"
    )


def share_sql(num: str, den: str, scale: int = 4) -> str:
    """Oracle-side (DuckDB) fragment matching share_expr: HUGEINT is
    128-bit so the widening is a no-op cast there; the CASE guard turns
    DuckDB's divide-by-zero *error* into the NULL Spark produces."""
    m = 2 * 10**scale
    return (
        f"CAST(CASE WHEN ({den}) > 0 THEN "
        f"(CAST(({num}) AS HUGEINT) * {m} + ({den})) // (2 * CAST(({den}) AS HUGEINT))"
        f" ELSE NULL END AS BIGINT)"
    )


@dataclass
class QueryDef:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle_sql: Optional[str]  # None => non-SQL-expressible (rows-only check)
    description: str = ""


REGISTRY: dict[str, QueryDef] = {}


def register(
    name: str, oracle_sql: Optional[str], description: str = ""
) -> Callable[[Callable[[SparkSession, str], DataFrame]], Callable[[SparkSession, str], DataFrame]]:
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        # imported here: the operators package imports this module
        from ..operators.pins import owned

        fn = owned(fn)  # the returned DataFrame owns the query's pins
        REGISTRY[name] = QueryDef(name=name, spark_fn=fn, oracle_sql=oracle_sql, description=description)
        return fn

    return deco
