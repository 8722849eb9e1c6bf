"""The registry-wide sweep: every registered query is built ONCE at
SF_DIR, and that one frame is held to every registry-wide contract.

1. No decimal column. Spark SQL literals like ``1.0`` are DECIMAL,
   DuckDB's are DOUBLE, and the driver's value hash tells the two apart,
   so a decimal output column is a latent oracle mismatch.
2. No array, map or struct column. The driver canonicalizes results
   through pandas ``sort_values``, which throws ``unhashable type:
   'list'`` on such cells (q50_array_agg crashed the r5 harness).
3. pandas-dtype parity with the oracle. The driver hashes results after
   pandas conversion, and DuckDB's ``.df()`` maps HUGEINT (the result
   type of any uncast integer ``sum()``) to float64 while Spark stays
   int64, so ``5`` hashes as ``5.0`` on the oracle side and the row goes
   red although a ``fetchall()`` comparison is bit-exact (the
   CORRECTNESS_r06 root cause; tools/dtype_audit.py reproduces its red
   set from this check alone). Every oracle output column must bind
   (DuckDB ``DESCRIBE``, no execution) to a type whose pandas kind
   equals the Spark column's kind. Int widths may differ (int32 ``5``
   and int64 ``5`` canonicalize identically); int against float never.
4. It runs: ``count()`` completes.
5. It leaves nothing behind: once its result is dropped, the
   CacheManager is empty (every pin went with the result) and the
   session has no temp view the entry added.

Each entry ends with ``spark.catalog.clearCache()``, so an entry that
fails (5) does not hand its pins to the next one.
"""

from __future__ import annotations

import gc

import duckdb
import pytest

import duckdb_httpd_log_spark.operators  # noqa: F401
from duckdb_httpd_log_spark.plans.registry import REGISTRY, TABLES

from .conftest import SF_DIR

# DuckDB type -> pandas kind under the driver's .df() canonicalization.
# Types NOT in this map are banned from oracle output schemas outright:
# HUGEINT/UHUGEINT (integer sum() results!) and DECIMAL land in pandas
# as float64/object, FLOAT/REAL as float32 — none of which hash equal
# to the int64/float64 Spark's toPandas() produces for the same values.
_DUCK_KIND = {
    "TINYINT": "int",
    "SMALLINT": "int",
    "INTEGER": "int",
    "BIGINT": "int",
    "DOUBLE": "float",
    "VARCHAR": "str",
    "BOOLEAN": "bool",
    "DATE": "date",
    "TIMESTAMP": "ts",
}


def _spark_kind(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, T.DoubleType):
        return "float"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.TimestampType):
        return "ts"
    # FloatType (float32 repr drift) and DecimalType (pandas object)
    # are deliberately unmapped -> banned
    return f"BANNED:{dt.simpleString()}"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    yield con
    con.close()


def _schema_violations(df, oracle_sql, duck) -> list[str]:
    from pyspark.sql.types import ArrayType, DecimalType, MapType, StructType

    bad = []
    for fld in df.schema.fields:
        if isinstance(fld.dataType, DecimalType):
            bad.append(f"{fld.name}: decimal {fld.dataType.simpleString()}; cast to double")
        elif isinstance(fld.dataType, (ArrayType, MapType, StructType)):
            bad.append(
                f"{fld.name}: {fld.dataType.simpleString()} breaks the driver "
                f"canonicalizer; project to scalar columns or concat_ws strings"
            )
    if oracle_sql is None:
        return bad
    skinds = {f.name.lower(): _spark_kind(f.dataType) for f in df.schema.fields}
    for col, typ, *_ in duck.execute(f"DESCRIBE {oracle_sql}").fetchall():
        okind = _DUCK_KIND.get(typ.split("(")[0])
        skind = skinds.get(col.lower())
        if okind is None:
            bad.append(f"{col}: oracle type {typ} (pandas-unsafe)")
        elif skind != okind:
            bad.append(f"{col}: spark {skind} vs oracle {okind} ({typ}); driver hash flips red")
    return bad


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


@pytest.mark.parametrize("name", list(REGISTRY))
def test_registry_entry(spark, duck, name):
    qd = REGISTRY[name]
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # whatever ran before this entry
    views = _temp_views(spark)
    try:
        df = qd.spark_fn(spark, SF_DIR)
        assert df.columns, name
        bad = _schema_violations(df, qd.oracle_sql, duck)
        assert not bad, f"{name}: " + "; ".join(bad)
        assert df.count() >= 0, name
        del df
        gc.collect()
        assert cache.isEmpty(), f"{name}: pins outlive the dropped result"
        assert _temp_views(spark) <= views, f"{name}: temp views left behind"
    finally:
        spark.catalog.clearCache()


def test_second_call_does_a_first_calls_work(spark):
    """Each of these queries reads its pins several times. Dropping the
    first result releases them, so a second call runs as many Spark jobs
    as the first instead of reading the first call's leftovers."""
    sc = spark.sparkContext
    for name in ("events_funnel_latency", "q17_funnel", "text_winnow_dedup"):
        jobs = []
        for k in range(2):
            group = f"second-call-{name}-{k}"
            sc.setJobGroup(group, group)
            try:
                df = REGISTRY[name].spark_fn(spark, SF_DIR)
                df.count()
                del df
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        assert jobs[0] == jobs[1], f"{name}: {jobs[0]} jobs, then {jobs[1]}"
