"""CI guard: no engine-sensitive round() may reach a hashed surface.

Every red CORRECTNESS row across rounds 1-4 was the same disease:
``round(x, k)`` on a DOUBLE resolves boundary decimals differently
across engine builds (Spark = exact-BigDecimal HALF_UP; DuckDB builds =
float multiply + whatever the local libm/sprintf does), so any query
emitting it is a coin-flip against the driver's oracle that cannot be
reproduced locally. The portable form is floor(x*10^k + 0.5)/10^k —
floor plus IEEE-754 basic ops, all correctly rounded by spec, hence
bit-identical everywhere (registry.fround on the Spark side).

This test turns that discipline from tribal knowledge into CI:

1. every registered oracle SQL string must be free of ``round(``;
2. the operator sources must not call ``F.round`` / ``pyspark round``
   (use ``fround``), nor embed ``round(`` in F.expr SQL strings;
3. ``fround`` itself must agree with the literal SQL floor form on
   both engines, including the negative-tie direction.

Genuinely-safe uses (round on DECIMAL/INTEGER arguments) would go on
ALLOWLIST with a justification — currently none are needed.
"""

from __future__ import annotations

import re
from pathlib import Path

import pytest

import duckdb_httpd_log_spark.operators  # noqa: F401
from duckdb_httpd_log_spark.plans.registry import REGISTRY

OPS_DIR = Path(__file__).resolve().parent.parent / "duckdb_httpd_log_spark" / "operators"

# name -> reason; entries here are exempt from the oracle-SQL scan
ALLOWLIST: dict[str, str] = {}

_ROUND = re.compile(r"(?<![\w.])round\s*\(", re.IGNORECASE)


def test_no_round_in_oracle_sql():
    bad = [
        name
        for name, qd in REGISTRY.items()
        if qd.oracle_sql and name not in ALLOWLIST and _ROUND.search(qd.oracle_sql)
    ]
    assert not bad, (
        f"naked round( in oracle SQL of {bad}: use the floor(x*10^k + 0.5)/10^k "
        f"form (see plans/registry.py docstring) or add an ALLOWLIST entry"
    )


def _code_and_string_segments(text: str):
    """(kind, segment) pairs; comments dropped. Mirrors tools/roundproof.py."""
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "#":
            j = text.find("\n", i)
            j = n if j == -1 else j
            i = j
        elif c in "\"'":
            q = text[i : i + 3]
            if q == c * 3:
                j = text.find(q, i + 3)
                j = n if j == -1 else j + 3
            else:
                j = i + 1
                while j < n:
                    if text[j] == "\\":
                        j += 2
                        continue
                    if text[j] == c or text[j] == "\n":
                        j += 1
                        break
                    j += 1
            yield "string", text[i:j]
            i = j
        else:
            j = i
            while j < n and text[j] not in "#\"'":
                j += 1
            yield "code", text[i:j]
            i = j


def test_no_round_in_operator_sources():
    offenders = []
    for path in sorted(OPS_DIR.glob("*.py")):
        for kind, seg in _code_and_string_segments(path.read_text()):
            if kind == "code" and ("F.round(" in seg or re.search(r"(?<![\w.])round\s*\(", seg)):
                offenders.append(f"{path.name}: code round() call")
            elif kind == "string" and _ROUND.search(seg):
                offenders.append(f"{path.name}: round( in string {seg[:60]!r}")
    assert not offenders, offenders


def test_fround_matches_sql_floor_form(spark):
    import duckdb

    from pyspark.sql import functions as F
    from duckdb_httpd_log_spark.plans.registry import fround

    # boundary-heavy values: exact ties, negative ties, ratio boundaries
    vals = [0.12345, 0.12335, -0.12345, 2.5, -2.5, 0.00005, -0.00005,
            1.0 / 3.0, 2.0 / 3.0, 0.15, 2.675, -2.675, 123456.789]
    sdf = spark.createDataFrame([(v,) for v in vals], "x double").select(
        fround(F.col("x"), 4).alias("r4"), fround(F.col("x")).alias("r0")
    )
    srows = [(r.r4, r.r0) for r in sdf.orderBy("r4").collect()]
    con = duckdb.connect()
    orows = con.execute(
        "SELECT floor((x) * 10000.0 + 0.5) / 10000.0 AS r4, floor((x) + 0.5) AS r0 "
        "FROM (SELECT unnest(?) AS x) ORDER BY r4",
        [vals],
    ).fetchall()
    assert srows == [(a, b) for a, b in orows]


# --- libm guard (round 6) ---------------------------------------------------
# CORRECTNESS_r05 proved floor-form quantization is not enough when the
# quantized INPUT comes from libm: ln/exp are not correctly rounded, so
# the driver's engine build can differ by an ulp and flip a boundary.
# Every transcendental on a hashed surface must go through the pinned
# polynomial forms in plans/portable.py (pln/pexp — basic IEEE ops
# only, bit-identical across engines). This scan bans the libm
# functions outright in oracle SQL and in operator source code.
# (sqrt is correctly rounded BY SPEC — the cosine family keeps it.)

_LIBM_SQL = re.compile(r"(?<![\w.])(ln|log|log2|log10|log1p|log1{0,2}p?|exp|expm1|pow|power)\s*\(", re.IGNORECASE)
# Spark-side: F.log/F.exp/F.pow and their expr-string spellings.
# F.expr( / F.explode( must NOT trip the scan, hence the word boundary.
_LIBM_PY = re.compile(r"F\.(log|log2|log10|log1p|exp|expm1|pow|power)\(")


def test_no_libm_in_oracle_sql():
    bad = [
        name
        for name, qd in REGISTRY.items()
        if qd.oracle_sql and name not in ALLOWLIST and _LIBM_SQL.search(qd.oracle_sql)
    ]
    assert not bad, (
        f"libm transcendental in oracle SQL of {bad}: use plans/portable.py "
        f"pln/pexp (pinned polynomial, bit-identical across engines)"
    )


_SQLISH = re.compile(r"SELECT\s|floor\s*\(|CAST\s*\(", re.IGNORECASE)


def test_no_libm_in_operator_sources():
    """Code must not call F.log/F.exp/F.pow; SQL-bearing strings (the
    oracle SQL and F.expr snippets — identified by SELECT/floor/CAST
    markers) must not embed libm calls. Docstring PROSE mentioning
    ln(p/q) is exempt via the SQL-marker requirement."""
    offenders = []
    for path in sorted(OPS_DIR.glob("*.py")):
        for kind, seg in _code_and_string_segments(path.read_text()):
            if kind == "code" and _LIBM_PY.search(seg):
                offenders.append(f"{path.name}: {_LIBM_PY.search(seg).group(0)}")
            elif kind == "string" and _SQLISH.search(seg) and _LIBM_SQL.search(seg):
                offenders.append(
                    f"{path.name}: libm {_LIBM_SQL.search(seg).group(0)!r} in string {seg[:60]!r}"
                )
    assert not offenders, offenders


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
