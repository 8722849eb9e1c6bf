"""Round-4 analytics batch: corpus statistics (Good-Turing, winnowing
fingerprints), behavioral analytics (bounce rate, per-user entropy,
funnel latency), distribution monitoring (PSI drift, higher moments),
and association rules.

The reference engine (``/root/reference/src/httpd_log_table_function.cpp``)
is a scan extension; everything here is host-surface analytics a 100 TB
training/ops pipeline runs downstream of that scan. Scale discipline is
the same as the sibling modules:

- hash aggregations on bounded key domains only; pair joins bounded by
  basket/window size, never all-pairs;
- order-dependent double SUMs are quantized per-row to scaled BIGINTs
  (integer SUM is commutative across engines), one final double
  division pinned with identical parenthesization in both engines;
- integer ratios that could land on a quantization boundary go through the
  quantize-to-int-then-divide path (registry header rule);
- top-k output only under a total order (TakeOrderedAndProject).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.portable import dlit, pexp, pln, pln_ratio, pln_stages, stage_subselects, with_stages
from ..plans.registry import decode_embedding, fround, register, table
from .distrank import with_grouped_rank
from .events import funnel_firsts
from .pins import pin

# Portable-transcendental snippets (plans/portable.py): spliced
# verbatim into BOTH the oracle SQL and F.expr so neither engine's
# libm can reach a hashed output.
# Staged-column variants (r6 verdict item 4): bit-identical to the
# macros, ~5x smaller Catalyst trees; shared by the entropy family.
_PC_STAGES, _PC_LN = pln_stages("c", "pc")
_PN_STAGES, _PN_LN = pln_stages("n", "pn")
_ENT_TERM6 = f"CAST(floor((CAST(c AS DOUBLE) * {_PC_LN} * 1000000.0) + 0.5) AS BIGINT)"

# ---------------------------------------------------------------------------
# Good-Turing frequency-of-frequencies — the smoothing table every
# classic LM / vocabulary-health audit needs: N_r = how many distinct
# tokens occur exactly r times, the adjusted count r* = (r+1)N_{r+1}/N_r,
# and the probability mass held by count-r tokens. The corpus collapses
# to its vocabulary (one hash agg), then to the tiny r-histogram
# (second hash agg over ~10^2 distinct counts); the r+1 lookup is a
# self-join on that histogram — broadcast-sized at any corpus scale.
# Integer counts end-to-end; the two ratios are quantized int-first.
# ---------------------------------------------------------------------------
GT_TOP_R = 15


@register(
    "corpus_good_turing",
    f"""
    WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    tc AS (SELECT w, count(*) AS c FROM toks WHERE w <> '' GROUP BY w),
    fof AS (SELECT c AS r, count(*) AS n_r FROM tc GROUP BY c),
    tot AS (SELECT sum(c) AS n_tokens FROM tc)
    SELECT f.r, f.n_r,
           CAST(floor((CAST(f.r * f.n_r AS DOUBLE) * 1000000.0 / t.n_tokens) + 0.5) AS BIGINT)
               / 1000000.0 AS mass,
           CAST(floor((CAST((f.r + 1) * f2.n_r AS DOUBLE) * 1000000.0 / f.n_r) + 0.5) AS BIGINT)
               / 1000000.0 AS r_star
    FROM fof f
    LEFT JOIN fof f2 ON f2.r = f.r + 1, tot t
    ORDER BY f.r
    LIMIT {GT_TOP_R}
    """,
    "Good-Turing frequency-of-frequencies: N_r, probability mass, adjusted count r*",
)
def corpus_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # pinned: tc (vocabulary-sized) feeds fof AND tot — without
    # it each branch re-runs the full corpus explode+agg
    tc = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(pin)
    )
    fof = tc.groupBy(F.col("c").alias("r")).agg(F.count(F.lit(1)).alias("n_r"))
    tot = tc.agg(F.sum("c").alias("n_tokens"))
    nxt = fof.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("n_next"))
    mass = (
        fround(
            (F.col("r") * F.col("n_r")).cast("double")
            * F.lit(1000000.0)
            / F.col("n_tokens")
        ).cast("long")
        / F.lit(1000000.0)
    )
    r_star = (
        fround(
            ((F.col("r") + 1) * F.col("n_next")).cast("double")
            * F.lit(1000000.0)
            / F.col("n_r")
        ).cast("long")
        / F.lit(1000000.0)
    )
    return (
        fof.join(nxt, "r", "left")
        .crossJoin(F.broadcast(tot))
        .select("r", "n_r", mass.alias("mass"), r_star.alias("r_star"))
        .orderBy("r")
        .limit(GT_TOP_R)
    )


# ---------------------------------------------------------------------------
# Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03
# — the MOSS algorithm): hash every k-token shingle, slide a w-hash
# window, keep each window's minimum; the distinct kept hashes are the
# doc's fingerprint (guaranteed to catch any shared run >= w+k-1
# tokens). Shape: posexplode -> per-doc positional window min ->
# per-doc agg; partitions are doc-sized, no cross-doc shuffle beyond
# the doc_id hash. Hashes are 32-bit md5 prefixes so both engines
# derive identical values; the digest canonicalizes the set through a
# numeric sort before md5.
# ---------------------------------------------------------------------------
WINNOW_K = 3  # tokens per shingle
WINNOW_W = 4  # hashes per window


@register(
    "text_winnowing",
    f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
        SELECT doc_id, CAST(i AS INTEGER) AS pos,
               t[CAST(i AS INTEGER)] || ' ' || t[CAST(i + 1 AS INTEGER)] || ' '
                   || t[CAST(i + 2 AS INTEGER)] AS g
        FROM toks, LATERAL unnest(range(1, len(t) - {WINNOW_K - 2})) x(i)
        WHERE len(t) >= {WINNOW_K}
    ),
    hashed AS (
        SELECT doc_id, pos,
               ('0x' || substr(md5(g), 1, 8))::BIGINT AS h
        FROM grams
    ),
    wm AS (
        SELECT doc_id,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS mh
        FROM hashed
    ),
    fp AS (SELECT doc_id, mh FROM wm GROUP BY doc_id, mh),
    agg AS (
        SELECT doc_id, count(*) AS n_fp,
               md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY mh)) AS fp_digest
        FROM fp GROUP BY doc_id
    ),
    ng AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id)
    SELECT a.doc_id, g.n_grams, a.n_fp, a.fp_digest
    FROM agg a JOIN ng g USING (doc_id)
    ORDER BY a.doc_id
    """,
    "winnowing fingerprints (MOSS): window-min of shingle hashes, per-doc digest",
)
def text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= WINNOW_K
    )
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(t) - {WINNOW_K}),"
                " i -> concat(t[i], ' ', t[i + 1], ' ', t[i + 2]))"
            )
        ).alias("pos", "g"),
    )
    h = F.conv(F.substring(F.md5(F.col("g").cast("binary")), 1, 8), 16, 10).cast("long")
    hashed = grams.select("doc_id", "pos", h.alias("h"))
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WINNOW_W - 1)
    wm = hashed.select("doc_id", F.min("h").over(w).alias("mh"))
    agg = wm.groupBy("doc_id").agg(
        F.count_distinct("mh").alias("n_fp"),
        F.md5(
            F.array_join(
                F.expr("transform(array_sort(collect_set(mh)), x -> cast(x AS string))"),
                ",",
            ).cast("binary")
        ).alias("fp_digest"),
    )
    ng = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    return (
        agg.join(ng, "doc_id")
        .select("doc_id", "n_grams", "n_fp", "fp_digest")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Daily bounce rate — the sessionization consumer every web-analytics
# stack ships: share of sessions (q15's 30-min gap rule, restated
# verbatim so the semantics cannot drift) that contain exactly one
# event, attributed to the session's start day. All windows partition
# by user_id; the daily rollup is a hash agg on ~10^3 day keys. The
# rate is an integer ratio -> quantize-then-divide.
# ---------------------------------------------------------------------------
_GAP_US = 30 * 60 * 1_000_000  # q15's SESSION_GAP_MIN, restated


@register(
    "events_bounce_rate",
    f"""
    WITH ordered AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        FROM events
    ),
    marked AS (
        SELECT user_id, event_id, us,
               CASE WHEN prev_us IS NULL OR us - prev_us > {_GAP_US} THEN 1 ELSE 0 END AS is_new
        FROM ordered
    ),
    numbered AS (
        SELECT user_id, us,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        FROM marked
    ),
    sess AS (
        SELECT user_id, session_idx, min(us) AS start_us, count(*) AS n_events
        FROM numbered GROUP BY user_id, session_idx
    )
    SELECT CAST(CAST(make_timestamp(start_us) AS DATE) AS VARCHAR) AS day,
           count(*) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
           CAST(floor((CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                      * 1000000.0 / count(*)) + 0.5) AS BIGINT) / 1000000.0 AS bounce_rate
    FROM sess
    GROUP BY 1
    ORDER BY 1
    """,
    "daily bounce rate: share of 30-min-gap sessions with exactly one event",
)
def events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    wlag = Window.partitionBy("user_id").orderBy("us", "event_id")
    marked = ev.withColumn(
        "is_new",
        F.when(
            F.lag("us").over(wlag).isNull()
            | (F.col("us") - F.lag("us").over(wlag) > _GAP_US),
            1,
        ).otherwise(0),
    )
    numbered = marked.withColumn(
        "session_idx",
        F.sum("is_new").over(wlag.rowsBetween(Window.unboundedPreceding, 0)),
    )
    sess = numbered.groupBy("user_id", "session_idx").agg(
        F.min("us").alias("start_us"), F.count(F.lit(1)).alias("n_events")
    )
    n_bounces = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    daily = sess.groupBy(
        F.timestamp_micros("start_us").cast("date").cast("string").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        n_bounces.cast("long").alias("n_bounces"),
    )
    rate = (
        fround(
            F.col("n_bounces").cast("double") * F.lit(1000000.0) / F.col("n_sessions")
        ).cast("long")
        / F.lit(1000000.0)
    )
    return daily.select(
        "day", "n_sessions", "n_bounces", rate.alias("bounce_rate")
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Per-user behavioral entropy — navigation diversity over the
# event-type distribution (bots/scripted users skew low; the top-k
# most-diverse users surface exploratory accounts). Same scaled-integer
# entropy canonicalization as text_token_entropy: the Sigma c*ln(c)
# term is an integer SUM of per-(user,type) quantized terms, one final
# double division. Top-k under a total order.
# ---------------------------------------------------------------------------
USER_ENTROPY_TOP = 100


@register(
    "events_user_entropy",
    f"""
    WITH tc AS (
        SELECT user_id, event_type, count(*) AS c
        FROM events GROUP BY user_id, event_type
    ),
    tcs AS ({stage_subselects("SELECT user_id, c FROM tc", _PC_STAGES)}),
    agg AS (
        SELECT user_id, CAST(sum(c) AS BIGINT) AS n, count(*) AS n_types,
               sum({_ENT_TERM6}) AS s6
        FROM tcs GROUP BY user_id
    ),
    aggs AS ({stage_subselects("SELECT user_id, n, n_types, s6 FROM agg", _PN_STAGES)})
    SELECT user_id, n AS n_events, n_types,
           floor(({_PN_LN} - (CAST(s6 AS DOUBLE) / 1000000.0) / n) * 1e4 + 0.5) / 1e4
               AS type_entropy
    FROM aggs
    ORDER BY type_entropy DESC, user_id
    LIMIT {USER_ENTROPY_TOP}
    """,
    "per-user event-type entropy (behavioral diversity), top-k most diverse",
)
def events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    tc = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    tc = with_stages(tc, _PC_STAGES)
    agg = tc.groupBy("user_id").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.expr(_ENT_TERM6)).alias("s6"),
    )
    agg = with_stages(agg, _PN_STAGES)
    entropy = F.col(_PN_LN) - (
        F.col("s6").cast("double") / F.lit(1000000.0)
    ) / F.col("n")
    return (
        agg.select(
            "user_id",
            F.col("n").alias("n_events"),
            "n_types",
            fround(entropy, 4).alias("type_entropy"),
        )
        .orderBy(F.col("type_entropy").desc(), "user_id")
        .limit(USER_ENTROPY_TOP)
    )


# ---------------------------------------------------------------------------
# Higher-moment profile (skewness, excess kurtosis) per event type —
# the distribution-shape monitor behind drift alarms. Parity-exact
# cross-engine: value is quantized to cents (exact at source: the
# generator emits 2-dp doubles), power sums accumulate in 128-bit
# integers (HUGEINT / decimal(38,0) — both exact, both cast to the
# same double at the end), and the moment formulas are pinned with
# identical parenthesization. Values are winsorized to ±5e5 so the
# 4th-power sum provably fits the NARROWER of the two accumulators —
# Spark's decimal(38,0), max 10^38-1, not int128: (5e7 cents)^4 =
# 6.25e30 per row, x 10^7 rows/group = 6.25e37 < 10^38-1. (At the old
# ±1e6 clamp, (1e8)^4 x 10^6 rows = 1e38 fits DuckDB's HUGEINT
# (~1.7e38) but overflows Spark's decimal SUM to null — a latent
# cross-engine divergence flagged by the r4 ADVICE.) A no-op on the
# generator's <=600 range, and the statistically standard guard for
# raw-moment estimators. One hash agg over 5 groups; no second pass.
# ---------------------------------------------------------------------------
MOMENT_CLAMP = 500_000.0


@register(
    "q51_moments",
    f"""
    WITH v AS (
        SELECT event_type,
               CAST(CAST(floor((least(greatest(value, -{MOMENT_CLAMP}), {MOMENT_CLAMP})
                               * 100.0) + 0.5) AS BIGINT) AS HUGEINT) AS x
        FROM events
        WHERE value IS NOT NULL
    ),
    s AS (
        SELECT event_type, count(*) AS n,
               CAST(sum(x) AS DOUBLE) AS s1,
               CAST(sum(x * x) AS DOUBLE) AS s2,
               CAST(sum(x * x * x) AS DOUBLE) AS s3,
               CAST(sum(x * x * x * x) AS DOUBLE) AS s4
        FROM v GROUP BY event_type
    ),
    m AS (
        SELECT event_type, n,
               s1 / n AS mu,
               s2 / n - (s1 / n) * (s1 / n) AS m2,
               s3 / n - 3.0 * (s1 / n) * (s2 / n) + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
               s4 / n - 4.0 * (s1 / n) * (s3 / n)
                     + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
                     - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
        FROM s
    )
    SELECT event_type, n,
           CAST(floor((mu) + 0.5) AS BIGINT) / 100.0 AS mean_value,
           floor((sqrt(m2) / 100.0) * 1e4 + 0.5) / 1e4 AS stddev_pop,
           floor((m3 / (m2 * sqrt(m2))) * 1e4 + 0.5) / 1e4 AS skewness,
           floor((m4 / (m2 * m2) - 3.0) * 1e4 + 0.5) / 1e4 AS kurtosis_excess
    FROM m
    ORDER BY event_type
    """,
    "population skewness / excess kurtosis per event type from exact 128-bit power sums",
)
def q51_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    clamped = F.least(
        F.greatest(F.col("value"), F.lit(-MOMENT_CLAMP)), F.lit(MOMENT_CLAMP)
    )
    x = fround(clamped * 100.0).cast("long").cast("decimal(38,0)")
    v = ev.filter(F.col("value").isNotNull()).select("event_type", x.alias("x"))
    s = v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("s2"),
        F.sum(F.col("x") * F.col("x") * F.col("x")).cast("double").alias("s3"),
        F.sum(F.col("x") * F.col("x") * F.col("x") * F.col("x")).cast("double").alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - (F.col("s1") / n) * (F.col("s1") / n)
    m3 = (
        F.col("s3") / n
        - F.lit(3.0) * (F.col("s1") / n) * (F.col("s2") / n)
        + F.lit(2.0) * (F.col("s1") / n) * (F.col("s1") / n) * (F.col("s1") / n)
    )
    m4 = (
        F.col("s4") / n
        - F.lit(4.0) * (F.col("s1") / n) * (F.col("s3") / n)
        + F.lit(6.0) * (F.col("s1") / n) * (F.col("s1") / n) * (F.col("s2") / n)
        - F.lit(3.0)
        * (F.col("s1") / n)
        * (F.col("s1") / n)
        * (F.col("s1") / n)
        * (F.col("s1") / n)
    )
    m = s.select("event_type", "n", mu.alias("mu"), m2.alias("m2"), m3.alias("m3"), m4.alias("m4"))
    return m.select(
        "event_type",
        "n",
        (fround(F.col("mu")).cast("long") / F.lit(100.0)).alias("mean_value"),
        fround(F.sqrt("m2") / F.lit(100.0), 4).alias("stddev_pop"),
        fround(F.col("m3") / (F.col("m2") * F.sqrt("m2")), 4).alias("skewness"),
        fround(F.col("m4") / (F.col("m2") * F.col("m2")) - F.lit(3.0), 4).alias(
            "kurtosis_excess"
        ),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Population Stability Index — the production drift monitor (banking /
# ML-ops standard) comparing each source's length distribution against
# the reference source over fixed-width bins with add-one smoothing.
# Complements drift_ks_length (KS = max deviation; PSI = mass-weighted
# relative shift). Per-bin PSI terms are quantized to 1e-8-scaled
# BIGINTs so the cross-bin SUM is an integer sum; bin counts broadcast
# (n_sources x 13 rows).
# ---------------------------------------------------------------------------
PSI_BIN_W = 50
PSI_MAX_BIN = 12
PSI_REF_SOURCE = "src0"


def _psi_t8(a: str, n1: str, b: str, n2: str) -> str:
    """Per-bin PSI term (p - q) * ln(p/q) quantized to a 1e-8-scaled
    BIGINT, from INTEGER smoothed counts a/n1 (source) and b/n2 (ref):
    ln(p/q) = (pln(a) + pln(n2)) - (pln(b) + pln(n1)) — portable ln of
    integers only, identical op DAG on both engines.

    BOUNDED-FRAME pln: the term is evaluated only over the per-
    (source, bin) grid — n_sources x (PSI_MAX_BIN + 1) rows, ~13 per
    source after the histogram hash agg — so the macro expansion sits
    on a tiny plan leaf; staging would not move wall clock."""
    p = f"(CAST({a} AS DOUBLE) / {n1})"
    q = f"(CAST({b} AS DOUBLE) / {n2})"
    lnpq = f"(({pln(a)} + {pln(n2)}) - ({pln(b)} + {pln(n1)}))"
    return f"CAST(floor(((({p} - {q}) * {lnpq}) * 100000000.0) + 0.5) AS BIGINT)"


@register(
    "drift_psi_chars",
    f"""
    WITH binned AS (
        SELECT source, least(CAST(n_chars // {PSI_BIN_W} AS BIGINT), {PSI_MAX_BIN}) AS bin
        FROM documents
    ),
    counts AS (SELECT source, bin, count(*) AS c FROM binned GROUP BY source, bin),
    tot AS (SELECT source, sum(c) AS n FROM counts GROUP BY source),
    spine AS (
        SELECT s.source, b.bin
        FROM (SELECT DISTINCT source FROM documents) s,
             (SELECT unnest(range(0, {PSI_MAX_BIN + 1})) AS bin) b
    ),
    smoothed AS (
        SELECT sp.source, sp.bin,
               CAST(coalesce(c.c, 0) + 1 AS BIGINT) AS a,
               CAST(t.n + {PSI_MAX_BIN + 1} AS BIGINT) AS n1
        FROM spine sp
        LEFT JOIN counts c ON sp.source = c.source AND sp.bin = c.bin
        JOIN tot t ON sp.source = t.source
    ),
    ref AS (SELECT bin, a AS b, n1 AS n2 FROM smoothed WHERE source = '{PSI_REF_SOURCE}'),
    terms AS (
        SELECT s.source,
               {_psi_t8('s.a', 's.n1', 'r.b', 'r.n2')} AS t8
        FROM smoothed s JOIN ref r ON s.bin = r.bin
        WHERE s.source <> '{PSI_REF_SOURCE}'
    )
    SELECT source, CAST(sum(t8) AS DOUBLE) / 100000000.0 AS psi
    FROM terms
    GROUP BY source
    ORDER BY source
    """,
    "Population Stability Index of each source's length distribution vs the reference source",
)
def drift_psi_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    binned = docs.select(
        "source",
        F.least(
            (F.col("n_chars") / PSI_BIN_W).cast("long"), F.lit(PSI_MAX_BIN).cast("long")
        ).alias("bin"),
    )
    counts = binned.groupBy("source", "bin").agg(F.count(F.lit(1)).alias("c"))
    tot = counts.groupBy("source").agg(F.sum("c").alias("n"))
    spine = (
        docs.select("source")
        .distinct()
        .crossJoin(
            spark.range(0, PSI_MAX_BIN + 1).select(F.col("id").alias("bin"))
        )
    )
    # pinned: smoothed (n_sources x 13 rows) feeds ref AND the
    # comparison side — one scan chain instead of two
    smoothed = (
        spine.join(counts, ["source", "bin"], "left")
        .join(tot, "source")
        .select(
            "source",
            "bin",
            (F.coalesce("c", F.lit(0)) + 1).cast("long").alias("a"),
            (F.col("n") + F.lit(PSI_MAX_BIN + 1)).cast("long").alias("n1"),
        )
        .transform(pin)
    )
    ref = smoothed.filter(F.col("source") == PSI_REF_SOURCE).select(
        "bin", F.col("a").alias("b"), F.col("n1").alias("n2")
    )
    terms = (
        smoothed.filter(F.col("source") != PSI_REF_SOURCE)
        .join(F.broadcast(ref), "bin")
        .select("source", F.expr(_psi_t8("a", "n1", "b", "n2")).alias("t8"))
    )
    return (
        terms.groupBy("source")
        .agg((F.sum("t8").cast("double") / F.lit(100000000.0)).alias("psi"))
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Association rules over co-ordered parts — basket_part_pairs' consumer:
# support -> directed confidence + lift. Item counts and the basket
# total are broadcast-sized dimension aggregates; ratios go through the
# quantize-then-divide path because support/item counts are small
# integers that CAN land on exact rounding boundaries.
# ---------------------------------------------------------------------------
RULES_TOP = 25


@register(
    "basket_rules",
    f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    nb AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM li),
    ic AS (SELECT l_partkey, count(*) AS n_item FROM li GROUP BY l_partkey),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS support
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    )
    SELECT p.part_a, p.part_b, p.support,
           CAST(floor((CAST(p.support AS DOUBLE) * 1000000.0 / ia.n_item) + 0.5) AS BIGINT)
               / 1000000.0 AS conf_a_b,
           CAST(floor((CAST(p.support AS DOUBLE) * 1000000.0 / ib.n_item) + 0.5) AS BIGINT)
               / 1000000.0 AS conf_b_a,
           CAST(floor((CAST(p.support AS DOUBLE) * nb.n_baskets * 1000000.0
                      / (CAST(ia.n_item AS DOUBLE) * ib.n_item)) + 0.5) AS BIGINT)
               / 1000000.0 AS lift
    FROM pairs p
    JOIN ic ia ON p.part_a = ia.l_partkey
    JOIN ic ib ON p.part_b = ib.l_partkey, nb
    ORDER BY p.support DESC, p.part_a, p.part_b
    LIMIT {RULES_TOP}
    """,
    "association rules: confidence and lift over top co-ordered part pairs",
)
def basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pinned: the deduped (order, part) set feeds nb, ic, and
    # both pair-join sides — one scan + distinct instead of four
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .transform(pin)
    )
    nb = li.agg(F.count_distinct("l_orderkey").alias("n_baskets"))
    ic = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item"))
    a = li.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    ia = ic.select(F.col("l_partkey").alias("part_a"), F.col("n_item").alias("na"))
    ib = ic.select(F.col("l_partkey").alias("part_b"), F.col("n_item").alias("nb_"))
    sup = F.col("support").cast("double")

    def q6(col):
        return fround(col).cast("long") / F.lit(1000000.0)

    return (
        pairs.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .crossJoin(F.broadcast(nb))
        .select(
            "part_a",
            "part_b",
            "support",
            q6(sup * F.lit(1000000.0) / F.col("na")).alias("conf_a_b"),
            q6(sup * F.lit(1000000.0) / F.col("nb_")).alias("conf_b_a"),
            q6(
                sup
                * F.col("n_baskets")
                * F.lit(1000000.0)
                / (F.col("na").cast("double") * F.col("nb_"))
            ).alias("lift"),
        )
        .orderBy(F.col("support").desc(), "part_a", "part_b")
        .limit(RULES_TOP)
    )


# ---------------------------------------------------------------------------
# Funnel stage latency — q17's consumer: the distribution (exact
# discrete quartiles + p90 over integer microseconds, portable with no
# float surface) of time-to-convert for view->click and click->purchase.
# Shape: the per-user first-timestamp chain is q17's join cascade;
# quantile ranks run through the grouped two-phase scan (distrank.
# with_grouped_rank) — stage has exactly 2 values, so the naive
# Window.partitionBy("stage") would sort the whole converted
# population in 2 tasks at scale. Rank positions at each lat_us value
# are identical to the window form, so the oracle (which states the
# naive window) hash-matches unchanged.
# ---------------------------------------------------------------------------
@register(
    "events_funnel_latency",
    """
    WITH v AS (
        SELECT user_id, min(epoch_us(ts)) AS v_us FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, min(epoch_us(e.ts)) AS c_us
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND epoch_us(e.ts) >= v.v_us
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, min(epoch_us(e.ts)) AS p_us
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= c.c_us
        GROUP BY e.user_id
    ),
    lat AS (
        SELECT 'view_to_click' AS stage, c.c_us - v.v_us AS lat_us
        FROM c JOIN v ON c.user_id = v.user_id
        UNION ALL
        SELECT 'click_to_purchase' AS stage, p.p_us - c.c_us AS lat_us
        FROM p JOIN c ON p.user_id = c.user_id
    ),
    ranked AS (
        SELECT stage, lat_us,
               row_number() OVER (PARTITION BY stage ORDER BY lat_us) AS rn,
               count(*) OVER (PARTITION BY stage) AS n
        FROM lat
    )
    SELECT stage, max(n) AS n_users,
           min(CASE WHEN rn >= CAST(ceil(0.25 * n) AS BIGINT) THEN lat_us END) AS p25_us,
           min(CASE WHEN rn >= CAST(ceil(0.50 * n) AS BIGINT) THEN lat_us END) AS p50_us,
           min(CASE WHEN rn >= CAST(ceil(0.75 * n) AS BIGINT) THEN lat_us END) AS p75_us,
           min(CASE WHEN rn >= CAST(ceil(0.90 * n) AS BIGINT) THEN lat_us END) AS p90_us
    FROM ranked
    GROUP BY stage
    ORDER BY stage
    """,
    "funnel conversion-latency distribution: exact discrete quantiles per stage",
)
def events_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r15 (guide §2.4/§5, r14-verdict item 1): v is read by c AND vc, c
    # by p, vc AND cp, and lat is read up to 3x by the two-phase rank
    # (bounds sample, counts pass, final join) — unpinned, each
    # reference re-derived its full events-scan join cascade (16
    # parquet scans in the pre-execution plan, collapsing only via
    # AQE's runtime ReusedExchange rescue). funnel_firsts pins v and c.
    v, c, p = funnel_firsts(spark, sf_dir)
    vc = (
        c.join(v, "user_id")
        .select(
            F.lit("view_to_click").alias("stage"),
            (F.col("c_us") - F.col("v_us")).alias("lat_us"),
        )
    )
    cp = (
        p.join(c, "user_id")
        .select(
            F.lit("click_to_purchase").alias("stage"),
            (F.col("p_us") - F.col("c_us")).alias("lat_us"),
        )
    )
    lat = vc.unionAll(cp).transform(pin)
    ranked = with_grouped_rank(
        spark, lat, ["stage"], [F.col("lat_us")], rn_col="rn", n_col="n"
    ).select("stage", "lat_us", "rn", "n")

    def pick(pq: float):
        pos = F.ceil(F.lit(pq) * F.col("n")).cast("long")
        return F.min(F.when(F.col("rn") >= pos, F.col("lat_us")))

    return (
        ranked.groupBy("stage")
        .agg(
            F.max("n").alias("n_users"),
            pick(0.25).alias("p25_us"),
            pick(0.50).alias("p50_us"),
            pick(0.75).alias("p75_us"),
            pick(0.90).alias("p90_us"),
        )
        .orderBy("stage")
    )


# ---------------------------------------------------------------------------
# PQ asymmetric-distance search with exact refine — the memory-bounded
# two-stage ANN pipeline (IVFADC+R): corpus vectors are represented by
# 4 subspace codes (16 centroids each); stage 1 ranks ALL candidates
# by integer ADC (the query's tiny (sub, code) distance table summed
# per subspace — raw corpus floats never touched) and keeps the top
# PQANN_CAND; stage 2 re-ranks only those candidates by exact cosine.
# Vectors are unit-normalized first so squared-L2 ADC ranking is
# cosine ranking (||a-b||^2 = 2 - 2cos on the unit sphere); the refine
# stage reuses ann_cosine_topk's pinned dot/norm expressions, so the
# output contract (q_id, c_id, cosine) is directly comparable and the
# recall floor is pinned in tests (0.92 at sf0.01 vs brute force).
# Every ADC distance is an integer SUM of quantized squared diffs ->
# the candidate cut compares integers, no cross-engine float ties.
# Shape: codes are 4 rows/vector; the dt join is against a broadcast
# 4x16x|Q| table; one (q_id, c_id) hash agg; refine touches
# |Q| x PQANN_CAND rows — constant per query at any corpus size.
# ---------------------------------------------------------------------------
PQANN_SUBDIM = 16  # DIM 64 / 4 subspaces
PQANN_CODES = 16
PQANN_SALT = "pqann:"
PQANN_QUERIES = 5
PQANN_CAND = 200  # ADC candidates handed to the exact refine stage
PQANN_TOP = 5


@register(
    "ann_pq_topk",
    f"""
    WITH seeds AS (
        SELECT vec_id, embedding,
               row_number() OVER (ORDER BY md5('{PQANN_SALT}' || CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM embeddings
        QUALIFY rn <= {PQANN_CODES}
    ),
    rawvals AS (
        SELECT vec_id, (CAST(i AS INTEGER) - 1) // {PQANN_SUBDIM} AS sub,
               CAST(i AS INTEGER) - 1 AS pos,
               CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS x0
        FROM embeddings, LATERAL unnest(range(1, len(embedding) + 1)) t(i)
    ),
    nrm AS (SELECT vec_id, greatest(sqrt(sum(x0 * x0)), 1e-300) AS nv
            FROM rawvals GROUP BY vec_id),
    vals AS (
        SELECT r.vec_id, r.sub, r.pos, r.x0 / n.nv AS x
        FROM rawvals r JOIN nrm n ON r.vec_id = n.vec_id
    ),
    cen AS (
        SELECT (CAST(i AS INTEGER) - 1) // {PQANN_SUBDIM} AS sub,
               s.rn - 1 AS code,
               CAST(i AS INTEGER) - 1 AS pos,
               CAST(s.embedding[CAST(i AS INTEGER)] AS DOUBLE) / n.nv AS c
        FROM seeds s JOIN nrm n ON s.vec_id = n.vec_id,
             LATERAL unnest(range(1, len(embedding) + 1)) t(i)
    ),
    d AS (
        SELECT v.vec_id, v.sub, c.code,
               sum(CAST(floor(((v.x - c.c) * (v.x - c.c) * 1000000000.0) + 0.5) AS BIGINT)) AS q9
        FROM vals v JOIN cen c ON v.pos = c.pos
        GROUP BY v.vec_id, v.sub, c.code
    ),
    assigned AS (
        SELECT vec_id, sub, code
        FROM (SELECT vec_id, sub, code,
                     row_number() OVER (PARTITION BY vec_id, sub ORDER BY q9, code) AS rk
              FROM d)
        WHERE rk = 1
    ),
    dt AS (
        SELECT vec_id AS q_id, sub, code, q9 FROM d WHERE vec_id < {PQANN_QUERIES}
    ),
    adc AS (
        SELECT dt.q_id, a.vec_id AS c_id, sum(dt.q9) AS adc9
        FROM assigned a JOIN dt ON a.sub = dt.sub AND a.code = dt.code
        WHERE a.vec_id <> dt.q_id
        GROUP BY dt.q_id, a.vec_id
    ),
    cand AS (
        SELECT q_id, c_id
        FROM (SELECT q_id, c_id,
                     row_number() OVER (PARTITION BY q_id ORDER BY adc9, c_id) AS rn
              FROM adc)
        WHERE rn <= {PQANN_CAND}
    ),
    refined AS (
        SELECT cand.q_id, cand.c_id,
               floor((list_sum([q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE
                           for i in range(1, len(q.embedding) + 1)])
                 / (sqrt(list_sum([q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE
                                   for i in range(1, len(q.embedding) + 1)]))
                    * sqrt(list_sum([c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE
                                     for i in range(1, len(c.embedding) + 1)])))) * 1e4 + 0.5) / 1e4 AS cosine
        FROM cand
        JOIN embeddings q ON q.vec_id = cand.q_id
        JOIN embeddings c ON c.vec_id = cand.c_id
    )
    SELECT q_id, c_id, cosine
    FROM (SELECT q_id, c_id, cosine,
                 row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rn
          FROM refined)
    WHERE rn <= {PQANN_TOP}
    ORDER BY q_id, cosine DESC, c_id
    """,
    "two-stage PQ ANN: unit-sphere integer ADC candidates + exact cosine refine, top-k",
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    md5key = F.md5(F.concat(F.lit(PQANN_SALT), F.col("vec_id").cast("string")).cast("binary"))
    seeds = (
        emb.select("vec_id", "embedding", md5key.alias("mk"))
        .orderBy("mk", "vec_id")
        .limit(PQANN_CODES)
        .withColumn("rn", F.row_number().over(Window.orderBy("mk", "vec_id")))
    )
    rawvals = decode_embedding(emb, "vec_id", subdim=PQANN_SUBDIM)
    nrm = rawvals.groupBy("vec_id").agg(
        F.greatest(F.sqrt(F.sum(F.col("x0") * F.col("x0"))), F.lit(1e-300)).alias("nv")
    )
    cen = (
        seeds.join(nrm, "vec_id")
        .select(
            (F.col("rn") - 1).alias("code"),
            "nv",
            F.posexplode("embedding").alias("pos", "cf"),
        )
        .select("code", "pos", (F.col("cf").cast("double") / F.col("nv")).alias("c"))
    )
    vals = rawvals.join(nrm, "vec_id").select(
        "vec_id", "sub", "pos", (F.col("x0") / F.col("nv")).alias("x")
    )
    q9 = fround(
        (F.col("x") - F.col("c")) * (F.col("x") - F.col("c")) * F.lit(1000000000.0)
    ).cast("long")
    # pinned: d (N x subs x codes distance rows) feeds the code
    # assignment AND the query distance table — without it the
    # posexplode + centroid join runs twice
    d = (
        vals.join(F.broadcast(cen), "pos")
        .select("vec_id", "sub", "code", q9.alias("t9"))
        .groupBy("vec_id", "sub", "code")
        .agg(F.sum("t9").alias("q9"))
        .transform(pin)
    )
    rk_w = Window.partitionBy("vec_id", "sub").orderBy("q9", "code")
    assigned = (
        d.withColumn("rk", F.row_number().over(rk_w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "sub", "code")
    )
    dt = d.filter(F.col("vec_id") < PQANN_QUERIES).select(
        F.col("vec_id").alias("q_id"), "sub", "code", "q9"
    )
    adc = (
        assigned.join(F.broadcast(dt), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", F.col("vec_id").alias("c_id"))
        .agg(F.sum("q9").alias("adc9"))
    )
    wq = Window.partitionBy("q_id").orderBy("adc9", "c_id")
    cand = (
        adc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= PQANN_CAND)
        .select("q_id", "c_id")
    )
    from .similarity import _DOT, _NORM

    qv = emb.filter(F.col("vec_id") < PQANN_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    cv = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("ce"))
    refined = (
        cand.join(F.broadcast(qv), "q_id")
        .join(cv, "c_id")
        .select(
            "q_id",
            "c_id",
            fround(
                F.expr(_DOT)
                / (F.expr(_NORM.format(v="qe")) * F.expr(_NORM.format(v="ce"))),
                4,
            ).alias("cosine"),
        )
    )
    wr = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), "c_id")
    return (
        refined.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= PQANN_TOP)
        .select("q_id", "c_id", "cosine")
        .orderBy("q_id", F.col("cosine").desc(), "c_id")
    )


# ---------------------------------------------------------------------------
# Sparse tf-idf cosine pairs — the lexical similarity complement to the
# dense-embedding ANN family: document pairs scored by tf-idf-weighted
# dot product over SHARED terms only (join on term, never all-pairs).
# Terms are 3-token shingles, not unigrams: the generator's vocabulary
# is closed (~31 words, each in ~78% of docs), so every unigram blows
# past any df cap while the 31^3 shingle space stays sparse at every
# SF. The document-frequency cap bounds the per-term fan-out exactly
# like dedup_ngram_jaccard's DF_CAP: a term in d docs contributes
# O(d^2) pairs, so capping df turns the worst case from O(N^2) into
# O(cap * n_terms) — the standard sparse-similarity scale trick.
# Weights are quantized to 1e4-scaled BIGINTs; dots and norms are
# integer SUMs; one final pinned double expression.
# ---------------------------------------------------------------------------
TFIDF_DF_CAP = 50
TFIDF_PAIR_TOP = 50


@register(
    "corpus_tfidf_pairs",
    f"""
    WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    toks AS (
        SELECT doc_id,
               t[CAST(i AS INTEGER)] || ' ' || t[CAST(i + 1 AS INTEGER)] || ' '
                   || t[CAST(i + 2 AS INTEGER)] AS w
        FROM t0, LATERAL unnest(range(1, len(t) - 1)) x(i)
        WHERE len(t) >= 3
    ),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY doc_id, w),
    n_docs AS (SELECT count(*) AS n FROM documents),
    df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
    wts AS (
        SELECT t.doc_id, t.w,
               CAST(floor((t.tf * ({pln_ratio('n.n', 'd.df')}) * 10000.0) + 0.5) AS BIGINT) AS w4
        FROM tf t JOIN df d ON t.w = d.w, n_docs n
        WHERE d.df <= {TFIDF_DF_CAP}
    ),
    norms AS (SELECT doc_id, sum(w4 * w4) AS ss FROM wts GROUP BY doc_id),
    dots AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               sum(a.w4 * b.w4) AS dot, count(*) AS n_shared
        FROM wts a JOIN wts b ON a.w = b.w AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, n_shared,
           floor((CAST(dot AS DOUBLE)
                 / (sqrt(CAST(na.ss AS DOUBLE)) * sqrt(CAST(nb.ss AS DOUBLE)))) * 1e4 + 0.5) / 1e4 AS cosine
    FROM dots
    JOIN norms na ON doc_a = na.doc_id
    JOIN norms nb ON doc_b = nb.doc_id
    ORDER BY cosine DESC, doc_a, doc_b
    LIMIT {TFIDF_PAIR_TOP}
    """,
    "sparse tf-idf cosine pairs: df-capped term join, integer dots/norms, top-k",
)
def corpus_tfidf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= 3
    )
    tf = (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 3),"
                    " i -> concat(t[i], ' ', t[i + 1], ' ', t[i + 2]))"
                )
            ).alias("w"),
        )
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))
    df = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    w4 = fround(
        F.col("tf") * F.expr(pln_ratio("n", "df")) * F.lit(10000.0)
    ).cast("long")
    # pinned: wts feeds norms and BOTH pair-join sides; without it the
    # tokenize + two hash aggs re-run three times (12 parquet scans in
    # the unpinned plan). Materialize-once is what a
    # production pipeline would snapshot anyway.
    # r15 (guide §2.3/§2.4, r14-verdict item 5): materialize it
    # PRE-PARTITIONED on the term key — the a/b projections below then
    # satisfy the pair join's distribution straight from the stored
    # partitioning, so the candidate join re-shuffles NEITHER side
    # (previously both sides re-exchanged the same rows by w). The
    # repartition costs one exchange at pin time; the per-term fan-out
    # is DF-capped, so the pre-partitioned join gives up nothing to
    # AQE's skew splitting.
    wts = (
        tf.join(df, "w")
        .filter(F.col("df") <= TFIDF_DF_CAP)
        .crossJoin(F.broadcast(n_docs))
        .select("doc_id", "w", w4.alias("w4"))
        .repartition(F.col("w"))
        .transform(pin)
    )
    norms = wts.groupBy("doc_id").agg(F.sum(F.col("w4") * F.col("w4")).alias("ss"))
    a = wts.select(F.col("doc_id").alias("doc_a"), "w", F.col("w4").alias("wa"))
    b = wts.select(F.col("doc_id").alias("doc_b"), "w", F.col("w4").alias("wb"))
    dots = (
        a.join(b, "w")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"), F.count(F.lit(1)).alias("n_shared"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("ss").alias("ssa"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("ssb"))
    cosine = fround(
        F.col("dot").cast("double")
        / (F.sqrt(F.col("ssa").cast("double")) * F.sqrt(F.col("ssb").cast("double"))),
        4,
    )
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", "n_shared", cosine.alias("cosine"))
        .orderBy(F.col("cosine").desc(), "doc_a", "doc_b")
        .limit(TFIDF_PAIR_TOP)
    )


# ---------------------------------------------------------------------------
# Session sequence-pattern mining — the MATCH_RECOGNIZE-lite every
# product-analytics stack runs: each session (q15 gap rule) becomes an
# ordered event-initial string ('vcp...' = view,click,purchase),
# truncated to its first 8 events; top patterns by frequency. The
# per-session string build is an ordered in-partition aggregation
# (array_sort over (us, event_id) structs — no collect_list order
# nondeterminism); pattern counting is a hash agg on short strings.
# ---------------------------------------------------------------------------
PATTERN_PREFIX = 8
PATTERN_TOP = 20


@register(
    "events_session_patterns",
    f"""
    WITH ordered AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        FROM events
    ),
    marked AS (
        SELECT user_id, event_id, event_type, us,
               CASE WHEN prev_us IS NULL OR us - prev_us > {_GAP_US} THEN 1 ELSE 0 END AS is_new
        FROM ordered
    ),
    numbered AS (
        SELECT user_id, event_id, event_type, us,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        FROM marked
    ),
    sess AS (
        SELECT user_id, session_idx,
               substr(string_agg(substr(event_type, 1, 1), '' ORDER BY us, event_id),
                      1, {PATTERN_PREFIX}) AS pattern
        FROM numbered GROUP BY user_id, session_idx
    )
    SELECT pattern, count(*) AS n_sessions
    FROM sess
    GROUP BY pattern
    ORDER BY n_sessions DESC, pattern
    LIMIT {PATTERN_TOP}
    """,
    "session sequence patterns: ordered event-initial strings per session, top-k by frequency",
)
def events_session_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    wlag = Window.partitionBy("user_id").orderBy("us", "event_id")
    numbered = ev.withColumn(
        "is_new",
        F.when(
            F.lag("us").over(wlag).isNull()
            | (F.col("us") - F.lag("us").over(wlag) > _GAP_US),
            1,
        ).otherwise(0),
    ).withColumn(
        "session_idx",
        F.sum("is_new").over(wlag.rowsBetween(Window.unboundedPreceding, 0)),
    )
    sess = numbered.groupBy("user_id", "session_idx").agg(
        F.substring(
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list(struct(us, event_id,"
                    " substring(event_type, 1, 1) AS letter))), x -> x.letter)"
                ),
                "",
            ),
            1,
            PATTERN_PREFIX,
        ).alias("pattern")
    )
    return (
        sess.groupBy("pattern")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "pattern")
        .limit(PATTERN_TOP)
    )


# ---------------------------------------------------------------------------
# Markov conditional entropy — how predictable is the NEXT event given
# the current one (q27_transition_matrix's information-theoretic
# summary; low entropy = scripted/bot flows). Per from-type entropy
# over the next-event distribution, same scaled-integer
# canonicalization as every entropy in this repo, plus the
# row-count-weighted corpus average H(next|cur) as a separate row
# ('__overall__' — integer-weighted sum of per-type quantized
# entropies, one division).
# ---------------------------------------------------------------------------
@register(
    "events_markov_entropy",
    f"""
    WITH seq AS (
        SELECT event_type AS cur,
               lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        FROM events
    ),
    tc AS (SELECT cur, nxt, count(*) AS c FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt),
    tcs AS ({stage_subselects("SELECT cur, c FROM tc", _PC_STAGES)}),
    agg AS (
        SELECT cur, CAST(sum(c) AS BIGINT) AS n,
               sum({_ENT_TERM6}) AS s6
        FROM tcs GROUP BY cur
    ),
    aggs AS ({stage_subselects("SELECT cur, n, s6 FROM agg", _PN_STAGES)}),
    pertype AS (
        SELECT cur, n,
               CAST(floor((({_PN_LN} - (CAST(s6 AS DOUBLE) / 1000000.0) / n)
                          * 10000.0) + 0.5) AS BIGINT) AS h4
        FROM aggs
    )
    SELECT cur AS from_type, n AS n_transitions, h4 / 10000.0 AS cond_entropy
    FROM pertype
    UNION ALL
    SELECT '__overall__' AS from_type, CAST(sum(n) AS BIGINT) AS n_transitions,
           CAST(floor((CAST(sum(n * h4) AS DOUBLE) / sum(n)) + 0.5) AS BIGINT) / 10000.0 AS cond_entropy
    FROM pertype
    ORDER BY from_type
    """,
    "Markov conditional entropy H(next|current) per event type + weighted overall",
)
def events_markov_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"), F.lead("event_type").over(wseq).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    tc = seq.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("c"))
    tc = with_stages(tc, _PC_STAGES)
    agg = tc.groupBy("cur").agg(
        F.sum("c").alias("n"), F.sum(F.expr(_ENT_TERM6)).alias("s6")
    )
    agg = with_stages(agg, _PN_STAGES)
    h4 = fround(
        (
            F.col(_PN_LN)
            - (F.col("s6").cast("double") / F.lit(1000000.0)) / F.col("n")
        )
        * F.lit(10000.0)
    ).cast("long")
    # pinned: the 5-row per-type table feeds both output
    # branches; without it the transition window re-runs for each
    pertype = agg.select("cur", "n", h4.alias("h4")).transform(pin)
    per_rows = pertype.select(
        F.col("cur").alias("from_type"),
        F.col("n").alias("n_transitions"),
        (F.col("h4") / F.lit(10000.0)).alias("cond_entropy"),
    )
    overall = pertype.agg(
        F.sum("n").alias("n_transitions"),
        (
            fround(
                F.sum(F.col("n") * F.col("h4")).cast("double") / F.sum("n")
            ).cast("long")
            / F.lit(10000.0)
        ).alias("cond_entropy"),
    ).select(
        F.lit("__overall__").alias("from_type"), "n_transitions", "cond_entropy"
    )
    return per_rows.unionAll(overall).orderBy("from_type")


# ---------------------------------------------------------------------------
# Repeat-purchase gap distribution — inter-order time per returning
# customer, bucketed by week (the replenishment-cycle profile behind
# churn models). One per-customer lag window, then a hash agg on 13
# bucket keys; the share ratio goes through quantize-then-divide.
# ---------------------------------------------------------------------------
GAP_BUCKET_DAYS = 7
GAP_MAX_BUCKET = 12


@register(
    "orders_repeat_gap",
    f"""
    WITH seq AS (
        SELECT o_custkey,
               date_diff('day',
                         lag(o_orderdate) OVER (PARTITION BY o_custkey
                                                ORDER BY o_orderdate, o_orderkey),
                         o_orderdate) AS gap_days
        FROM orders
    ),
    gaps AS (
        SELECT least(CAST(gap_days // {GAP_BUCKET_DAYS} AS BIGINT), {GAP_MAX_BUCKET}) AS bucket
        FROM seq WHERE gap_days IS NOT NULL
    ),
    tot AS (SELECT count(*) AS n FROM gaps)
    SELECT g.bucket AS gap_weeks, count(*) AS n_gaps,
           CAST(floor((CAST(count(*) AS DOUBLE) * 1000000.0 / t.n) + 0.5) AS BIGINT)
               / 1000000.0 AS share
    FROM gaps g, tot t
    GROUP BY g.bucket, t.n
    ORDER BY g.bucket
    """,
    "repeat-purchase gap distribution: per-customer inter-order days, weekly buckets",
)
def orders_repeat_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    wlag = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = orders.select(
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(wlag)
        ).alias("gap_days")
    ).filter(F.col("gap_days").isNotNull())
    gaps = seq.select(
        F.least(
            (F.col("gap_days") / GAP_BUCKET_DAYS).cast("long"),
            F.lit(GAP_MAX_BUCKET).cast("long"),
        ).alias("gap_weeks")
    )
    tot = gaps.agg(F.count(F.lit(1)).alias("n"))
    share = (
        fround(F.col("n_gaps").cast("double") * F.lit(1000000.0) / F.col("n")).cast("long")
        / F.lit(1000000.0)
    )
    return (
        gaps.groupBy("gap_weeks")
        .agg(F.count(F.lit(1)).alias("n_gaps"))
        .crossJoin(F.broadcast(tot))
        .select("gap_weeks", "n_gaps", share.alias("share"))
        .orderBy("gap_weeks")
    )


# ---------------------------------------------------------------------------
# Multimodal caption-pair curation — the LAION-style (media, caption)
# training-pair construction step: align each opaque payload with its
# caption text, apply the keep gate (caption length + payload size),
# and report per-kind keep/drop accounting. The Spark side goes
# through the SAME binary_table fabrication as the other multimodal
# ops (payload bytes stay executor-side; only octet counts aggregate);
# the oracle derives identical facts from the text column (ASCII
# convention documented at multimodal_chunk_audio).
# ---------------------------------------------------------------------------
PAIR_MIN_TOKENS = 5
PAIR_MIN_BYTES = 100


@register(
    "multimodal_caption_pairs",
    f"""
    WITH pairs AS (
        SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS kind,
               len(string_split(text, ' ')) AS caption_tokens,
               octet_length(encode(text)) AS n_bytes
        FROM documents
    ),
    gated AS (
        SELECT kind,
               CASE WHEN caption_tokens >= {PAIR_MIN_TOKENS}
                         AND n_bytes >= {PAIR_MIN_BYTES} THEN 1 ELSE 0 END AS keep,
               caption_tokens, n_bytes
        FROM pairs
    )
    SELECT kind, keep, count(*) AS n_pairs,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           CAST(floor((CAST(sum(caption_tokens) AS DOUBLE) * 100.0 / count(*)) + 0.5) AS BIGINT)
               / 100.0 AS avg_caption_tokens
    FROM gated
    GROUP BY kind, keep
    ORDER BY kind, keep
    """,
    "multimodal training-pair curation: per-kind keep/drop gate over aligned payload+caption",
)
def multimodal_caption_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .multimodal import binary_table

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    bt = binary_table(spark, sf_dir).select("doc_id", "kind", F.octet_length("payload").alias("n_bytes"))
    pairs = bt.join(docs, "doc_id").select(
        "kind", F.size(F.split("text", " ")).alias("caption_tokens"), "n_bytes"
    )
    gated = pairs.select(
        "kind",
        F.when(
            (F.col("caption_tokens") >= PAIR_MIN_TOKENS)
            & (F.col("n_bytes") >= PAIR_MIN_BYTES),
            1,
        )
        .otherwise(0)
        .alias("keep"),
        "caption_tokens",
        "n_bytes",
    )
    avg_tok = (
        fround(
            F.sum("caption_tokens").cast("double") * F.lit(100.0) / F.count(F.lit(1))
        ).cast("long")
        / F.lit(100.0)
    )
    return (
        gated.groupBy("kind", "keep")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
            avg_tok.alias("avg_caption_tokens"),
        )
        .orderBy("kind", "keep")
    )


# ---------------------------------------------------------------------------
# Interpolated (continuous) percentiles — PERCENTILE_CONT re-expressed
# manually in BOTH engines so the interpolation arithmetic is pinned
# (native quantile_cont implementations differ in edge handling):
# h = (n-1)p, value = lo + (hi-lo)*frac over exact integer cents, one
# quantized rounding at the end. Complements q46's discrete
# percentiles. The oracle states the naive per-priority window; the
# Spark side ranks via the grouped two-phase scan (distrank.
# with_grouped_rank) — o_orderpriority has 5 distinct values, so
# Window.partitionBy("grp") would sort ALL orders in 5 tasks at the
# 100 TB design point. Rank positions at each cents value are
# identical to the window form, so the oracle hash-matches unchanged.
# ---------------------------------------------------------------------------
@register(
    "q52_percentile_cont",
    """
    WITH v AS (
        SELECT o_orderpriority AS grp,
               CAST(floor((o_totalprice * 100.0) + 0.5) AS BIGINT) AS cents
        FROM orders
    ),
    ranked AS (
        SELECT grp, cents,
               row_number() OVER (PARTITION BY grp ORDER BY cents) AS rn,
               count(*) OVER (PARTITION BY grp) AS n
        FROM v
    ),
    picked AS (
        SELECT grp, max(n) AS n,
               min(CASE WHEN rn = CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1 THEN cents END) AS lo50,
               min(CASE WHEN rn = CAST(ceil(0.5 * (n - 1)) AS BIGINT) + 1 THEN cents END) AS hi50,
               min(CASE WHEN rn = CAST(floor(0.95 * (n - 1)) AS BIGINT) + 1 THEN cents END) AS lo95,
               min(CASE WHEN rn = CAST(ceil(0.95 * (n - 1)) AS BIGINT) + 1 THEN cents END) AS hi95
        FROM ranked
        GROUP BY grp
    )
    SELECT grp AS o_orderpriority, n AS n_orders,
           CAST(floor(((lo50 + (hi50 - lo50) * (0.5 * (n - 1) - floor(0.5 * (n - 1))))
                      * 100.0) + 0.5) AS BIGINT) / 10000.0 AS p50,
           CAST(floor(((lo95 + (hi95 - lo95) * (0.95 * (n - 1) - floor(0.95 * (n - 1))))
                      * 100.0) + 0.5) AS BIGINT) / 10000.0 AS p95
    FROM picked
    ORDER BY o_orderpriority
    """,
    "interpolated percentiles (PERCENTILE_CONT semantics) pinned manually over integer cents",
)
def q52_percentile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    v = orders.select(
        F.col("o_orderpriority").alias("grp"),
        fround(F.col("o_totalprice") * 100.0).cast("long").alias("cents"),
    )
    ranked = with_grouped_rank(
        spark, v, ["grp"], [F.col("cents")], rn_col="rn", n_col="n"
    ).select("grp", "cents", "rn", "n")

    def lo(p):
        return F.min(
            F.when(
                F.col("rn")
                == F.floor(F.lit(p) * (F.col("n") - 1)).cast("long") + 1,
                F.col("cents"),
            )
        )

    def hi(p):
        return F.min(
            F.when(
                F.col("rn") == F.ceil(F.lit(p) * (F.col("n") - 1)).cast("long") + 1,
                F.col("cents"),
            )
        )

    picked = ranked.groupBy("grp").agg(
        F.max("n").alias("n"),
        lo(0.5).alias("lo50"),
        hi(0.5).alias("hi50"),
        lo(0.95).alias("lo95"),
        hi(0.95).alias("hi95"),
    )

    def interp(lo_c, hi_c, p):
        h = F.lit(p) * (F.col("n") - 1)
        frac = h - F.floor(h)
        return (
            fround((F.col(lo_c) + (F.col(hi_c) - F.col(lo_c)) * frac) * F.lit(100.0))
            .cast("long")
            / F.lit(10000.0)
        )

    return picked.select(
        F.col("grp").alias("o_orderpriority"),
        F.col("n").alias("n_orders"),
        interp("lo50", "hi50", 0.5).alias("p50"),
        interp("lo95", "hi95", 0.95).alias("p95"),
    ).orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# RFM segment migration — the growth-analytics matrix: customers are
# quintiled by monetary value in an early and a late period (fixed
# calendar pivot), and the transition counts show who upgraded,
# churned, or stayed. The oracle uses plain ntile(5); the Spark side
# derives the IDENTICAL tiers from a two-phase distributed rank
# (range-partition on the period+monetary order, per-partition offsets,
# partition-local row_number) plus the exact SQL ntile bucket formula
# (first n%k buckets one element larger) — a per-period global window
# would push each period's full customer set through one task at scale.
# All integer arithmetic; counts are integers.
# ---------------------------------------------------------------------------
RFM_PIVOT = "1998-05-01"  # midpoint of the generator's 1995..2001 span


@register(
    "orders_rfm_migration",
    f"""
    WITH spend AS (
        SELECT o_custkey,
               CASE WHEN o_orderdate < DATE '{RFM_PIVOT}' THEN 0 ELSE 1 END AS period,
               sum(CAST(floor((o_totalprice * 100.0) + 0.5) AS BIGINT)) AS cents
        FROM orders
        GROUP BY 1, 2
    ),
    classed AS (
        SELECT o_custkey, period,
               ntile(5) OVER (PARTITION BY period ORDER BY cents, o_custkey) AS tier
        FROM spend
    )
    SELECT e.tier AS tier_early, l.tier AS tier_late, count(*) AS n_customers
    FROM classed e
    JOIN classed l ON e.o_custkey = l.o_custkey AND e.period = 0 AND l.period = 1
    GROUP BY e.tier, l.tier
    ORDER BY tier_early, tier_late
    """,
    "RFM tier migration matrix: early vs late monetary quintile transition counts",
)
def orders_rfm_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    spend = orders.groupBy(
        "o_custkey",
        F.when(F.col("o_orderdate") < F.lit(RFM_PIVOT).cast("date"), 0)
        .otherwise(1)
        .alias("period"),
    ).agg(F.sum(fround(F.col("o_totalprice") * 100.0).cast("long")).alias("cents"))
    nparts = max(spark.sparkContext.defaultParallelism, 1)
    d = (
        spend.repartitionByRange(nparts, "period", "cents", "o_custkey")
        .withColumn("pid", F.spark_partition_id())
        .transform(pin)  # pin the partitioning for both passes
    )
    pc = d.groupBy("period", "pid").agg(F.count(F.lit(1)).alias("c"))
    woff = Window.partitionBy("period").orderBy("pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = pc.select(
        "period", "pid", F.coalesce(F.sum("c").over(woff), F.lit(0)).alias("off")
    )
    ntot = pc.groupBy("period").agg(F.sum("c").alias("n"))
    wloc = Window.partitionBy("pid", "period").orderBy("cents", "o_custkey")
    ranked = (
        d.join(F.broadcast(offs), ["period", "pid"])
        .join(F.broadcast(ntot), "period")
        .withColumn("rn", F.col("off") + F.row_number().over(wloc))
    )
    # exact SQL ntile(5): first n%5 buckets hold n div 5 + 1 rows
    tier = F.expr(
        "CASE WHEN rn <= (n div 5 + 1) * (n % 5)"
        "     THEN (rn - 1) div (n div 5 + 1) + 1"
        "     ELSE n % 5 + (rn - (n div 5 + 1) * (n % 5) - 1) div (n div 5) + 1 END"
    )
    # pinned: the classed table joins itself (early x late)
    classed = (
        ranked.select("o_custkey", "period", tier.cast("int").alias("tier"))
        .transform(pin)
    )
    e = classed.filter(F.col("period") == 0).select(
        "o_custkey", F.col("tier").alias("tier_early")
    )
    l = classed.filter(F.col("period") == 1).select(
        "o_custkey", F.col("tier").alias("tier_late")
    )
    return (
        e.join(l, "o_custkey")
        .groupBy("tier_early", "tier_late")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("tier_early", "tier_late")
    )


# ---------------------------------------------------------------------------
# Join-key skew report — the 100 TB ops diagnostic this whole repo's
# partitioning strategy depends on: for every hot join/agg key, the
# key cardinality, the heaviest key's row count, and the skew factor
# (max_count / mean_count). A skew factor >> shuffle-partition count
# means salting (q19's strategy) is mandatory. Each key is one
# two-level hash agg; the four diagnostics union into one card.
# ---------------------------------------------------------------------------
def _skew_sql(tbl: str, col: str) -> str:
    return f"""
        SELECT '{tbl}.{col}' AS key_col,
               count(*) AS n_keys,
               CAST(sum(c) AS BIGINT) AS n_rows,
               CAST(max(c) AS BIGINT) AS max_key_rows,
               CAST(floor((CAST(max(c) AS DOUBLE) * count(*) * 1000000.0 / sum(c)) + 0.5) AS BIGINT)
                   / 1000000.0 AS skew_factor
        FROM (SELECT {col}, count(*) AS c FROM {tbl} GROUP BY {col})
    """


@register(
    "dq_skew_report",
    " UNION ALL ".join(
        [
            _skew_sql("lineitem", "l_orderkey"),
            _skew_sql("lineitem", "l_partkey"),
            _skew_sql("orders", "o_custkey"),
            _skew_sql("events", "user_id"),
        ]
    )
    + " ORDER BY key_col",
    "join-key skew diagnostics: cardinality, heaviest key, skew factor per hot key",
)
def dq_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    def one(tbl: str, col: str) -> DataFrame:
        per = table(spark, sf_dir, tbl).groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        return per.agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("c").cast("long").alias("n_rows"),
            F.max("c").cast("long").alias("max_key_rows"),
        ).select(
            F.lit(f"{tbl}.{col}").alias("key_col"),
            "n_keys",
            "n_rows",
            "max_key_rows",
            (
                fround(
                    F.col("max_key_rows").cast("double")
                    * F.col("n_keys")
                    * F.lit(1000000.0)
                    / F.col("n_rows")
                ).cast("long")
                / F.lit(1000000.0)
            ).alias("skew_factor"),
        )

    parts = [
        one("lineitem", "l_orderkey"),
        one("lineitem", "l_partkey"),
        one("orders", "o_custkey"),
        one("events", "user_id"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("key_col")


# ---------------------------------------------------------------------------
# Embedding cluster purity — the clustering-quality eval: bucket every
# vector by the signs of its first four coordinates (a trivially
# engine-portable 16-cell partition — no codebook to drift), then score
# each bucket's label homogeneity: majority label, majority share, and
# label entropy (scaled-integer canonicalization). The contingency
# table is one (bucket, label) hash agg; everything downstream runs on
# its <=16*n_labels rows.
# ---------------------------------------------------------------------------
@register(
    "emb_cluster_purity",
    f"""
    WITH b AS (
        SELECT CAST(CASE WHEN embedding[1] > 0 THEN 8 ELSE 0 END
                    + CASE WHEN embedding[2] > 0 THEN 4 ELSE 0 END
                    + CASE WHEN embedding[3] > 0 THEN 2 ELSE 0 END
                    + CASE WHEN embedding[4] > 0 THEN 1 ELSE 0 END AS BIGINT) AS bucket,
               label
        FROM embeddings
    ),
    ct AS (SELECT bucket, label, count(*) AS c FROM b GROUP BY bucket, label),
    cts AS ({stage_subselects("SELECT bucket, c FROM ct", _PC_STAGES)}),
    agg AS (
        SELECT bucket, CAST(sum(c) AS BIGINT) AS n, max(c) AS maxc,
               sum({_ENT_TERM6}) AS s6
        FROM cts GROUP BY bucket
    ),
    aggs AS ({stage_subselects("SELECT bucket, n, maxc, s6 FROM agg", _PN_STAGES)}),
    maj AS (
        SELECT bucket, min(label) AS majority_label
        FROM ct JOIN agg USING (bucket)
        WHERE ct.c = agg.maxc
        GROUP BY bucket
    )
    SELECT a.bucket, a.n AS n_vecs, m.majority_label,
           CAST(floor((CAST(a.maxc AS DOUBLE) * 1000000.0 / a.n) + 0.5) AS BIGINT)
               / 1000000.0 AS majority_share,
           floor((a.{_PN_LN} - (CAST(a.s6 AS DOUBLE) / 1000000.0) / a.n) * 1e4 + 0.5) / 1e4
               AS label_entropy
    FROM aggs a JOIN maj m ON a.bucket = m.bucket
    ORDER BY a.bucket
    """,
    "clustering-quality eval: per-bucket majority label, share, and label entropy",
)
def emb_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    bucket = (
        F.when(e.getItem(0) > 0, 8).otherwise(0)
        + F.when(e.getItem(1) > 0, 4).otherwise(0)
        + F.when(e.getItem(2) > 0, 2).otherwise(0)
        + F.when(e.getItem(3) > 0, 1).otherwise(0)
    ).cast("long")
    ct = (
        emb.select(bucket.alias("bucket"), "label")
        .groupBy("bucket", "label")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(pin)  # feeds agg AND the majority pick
    )
    cts = ct
    cts = with_stages(cts, _PC_STAGES)
    agg = cts.groupBy("bucket").agg(
        F.sum("c").alias("n"),
        F.max("c").alias("maxc"),
        F.sum(F.expr(_ENT_TERM6)).alias("s6"),
    )
    maj = (
        ct.join(agg.select("bucket", "maxc"), "bucket")
        .filter(F.col("c") == F.col("maxc"))
        .groupBy("bucket")
        .agg(F.min("label").alias("majority_label"))
    )
    agg = with_stages(agg, _PN_STAGES)
    share = (
        fround(F.col("maxc").cast("double") * F.lit(1000000.0) / F.col("n")).cast("long")
        / F.lit(1000000.0)
    )
    entropy = F.col(_PN_LN) - (
        F.col("s6").cast("double") / F.lit(1000000.0)
    ) / F.col("n")
    return (
        agg.join(maj, "bucket")
        .select(
            "bucket",
            F.col("n").alias("n_vecs"),
            "majority_label",
            share.alias("majority_share"),
            fround(entropy, 4).alias("label_entropy"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# SLO error-budget burn — the SRE view of the reference's core domain
# (status-code monitoring on httpd logs, here over the events twin):
# daily error rate vs a fixed budget, the burn multiple, and the
# cumulative burn via an INTEGER running sum of per-day quantized burn
# (a double running sum would be order-dependent). One daily hash agg
# + one window over the tiny day spine.
# ---------------------------------------------------------------------------
SLO_BUDGET = 0.25  # error-rate budget (generator emits ~20% errors)


@register(
    "events_sla_burn",
    f"""
    WITH daily AS (
        SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
               count(*) AS n_events,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_errors
        FROM events
        GROUP BY 1
    ),
    burned AS (
        SELECT day, n_events, n_errors,
               CAST(floor((CAST(n_errors AS DOUBLE) * 1000000.0
                          / (n_events * {SLO_BUDGET})) + 0.5) AS BIGINT) AS burn6
        FROM daily
    )
    SELECT day, n_events, n_errors,
           burn6 / 1000000.0 AS burn_rate,
           CAST(sum(burn6) OVER (ORDER BY day
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) / 1000000.0 AS cum_burn
    FROM burned
    ORDER BY day
    """,
    "SLO error-budget burn: daily burn multiple + integer-summed cumulative burn",
)
def events_sla_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").cast("string").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("n_errors"),
    )
    burn6 = fround(
        F.col("n_errors").cast("double")
        * F.lit(1000000.0)
        / (F.col("n_events") * F.lit(SLO_BUDGET))
    ).cast("long")
    wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    burned = daily.select("day", "n_events", "n_errors", burn6.alias("burn6"))
    return burned.select(
        "day",
        "n_events",
        "n_errors",
        (F.col("burn6") / F.lit(1000000.0)).alias("burn_rate"),
        (F.sum("burn6").over(wcum).cast("long") / F.lit(1000000.0)).alias("cum_burn"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Funnel drop-off table — q17's aggregate consumer: users reaching each
# ordered stage, per-step conversion, and cumulative conversion. The
# stage cascade is q17's join chain; the final card is a 3-row
# conditional aggregate with quantize-then-divide ratios.
# ---------------------------------------------------------------------------
@register(
    "events_funnel_dropoff",
    """
    WITH v AS (
        SELECT user_id, min(epoch_us(ts)) AS v_us FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, min(epoch_us(e.ts)) AS c_us
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND epoch_us(e.ts) >= v.v_us
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, min(epoch_us(e.ts)) AS p_us
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= c.c_us
        GROUP BY e.user_id
    ),
    counts AS (
        SELECT (SELECT count(*) FROM v) AS n_view,
               (SELECT count(*) FROM c) AS n_click,
               (SELECT count(*) FROM p) AS n_purchase
    )
    SELECT stage, n_users,
           CAST(floor((CAST(n_users AS DOUBLE) * 1000000.0 / prev_users) + 0.5) AS BIGINT)
               / 1000000.0 AS step_conversion,
           CAST(floor((CAST(n_users AS DOUBLE) * 1000000.0 / first_users) + 0.5) AS BIGINT)
               / 1000000.0 AS cum_conversion
    FROM (
        SELECT 1 AS ord, 'view' AS stage, n_view AS n_users,
               n_view AS prev_users, n_view AS first_users FROM counts
        UNION ALL
        SELECT 2, 'click', n_click, n_view, n_view FROM counts
        UNION ALL
        SELECT 3, 'purchase', n_purchase, n_click, n_view FROM counts
    )
    ORDER BY ord
    """,
    "funnel drop-off card: users per ordered stage, step and cumulative conversion",
)
def events_funnel_dropoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r15 (guide §2.4, same class as events_funnel_latency): v feeds c
    # AND counts, c feeds p AND counts, and the 1-row counts frame is
    # consumed by each of the 3 per-stage selects — unpinned, every
    # reference re-derived the full events cascade. funnel_firsts pins
    # the per-user frames; the 1-row counts card is pinned here.
    v, c, p = funnel_firsts(spark, sf_dir)
    counts = (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase")))
        .transform(pin)
    )
    rows = None
    for ordv, stage, cur, prev, first in [
        (1, "view", "n_view", "n_view", "n_view"),
        (2, "click", "n_click", "n_view", "n_view"),
        (3, "purchase", "n_purchase", "n_click", "n_view"),
    ]:
        r = counts.select(
            F.lit(ordv).alias("ord"),
            F.lit(stage).alias("stage"),
            F.col(cur).alias("n_users"),
            F.col(prev).alias("prev_users"),
            F.col(first).alias("first_users"),
        )
        rows = r if rows is None else rows.unionAll(r)

    def q6(num, den):
        return (
            fround(F.col(num).cast("double") * F.lit(1000000.0) / F.col(den)).cast("long")
            / F.lit(1000000.0)
        )

    return (
        rows.select(
            "ord",
            "stage",
            "n_users",
            q6("n_users", "prev_users").alias("step_conversion"),
            q6("n_users", "first_users").alias("cum_conversion"),
        )
        .orderBy("ord")
        .drop("ord")
        .select("stage", "n_users", "step_conversion", "cum_conversion")
    )


# ---------------------------------------------------------------------------
# ABC (Pareto-class) analysis — parts classified by cumulative revenue
# share: A = first 80% of revenue, B = next 15%, C = tail. Cumulative
# cents stay integral so the class boundaries compare exact integers
# against integer thresholds (cum*100 <= total*80). The cumulative sum
# is a TWO-PHASE distributed prefix sum (range-partition on the revenue
# order, per-partition offsets via a window over the nparts-row totals,
# then partition-LOCAL cumulative windows) — a single global-ORDER-BY
# window would funnel the whole parts table through one task at 100 TB.
# Same decomposition as text_pack_sequences, but fully declarative (no
# mapInPandas, no driver collect).
# ---------------------------------------------------------------------------
@register(
    "orders_abc_analysis",
    """
    WITH rev AS (
        SELECT l_partkey,
               sum(CAST(floor((l_extendedprice * (1 - l_discount) * 100.0) + 0.5) AS BIGINT))
                   AS cents
        FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT sum(cents) AS total FROM rev),
    ranked AS (
        SELECT l_partkey, cents,
               sum(cents) OVER (ORDER BY cents DESC, l_partkey
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM rev
    ),
    classed AS (
        SELECT l_partkey, cents,
               CASE WHEN cum * 100 <= total * 80 THEN 'A'
                    WHEN cum * 100 <= total * 95 THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM ranked, tot
    )
    SELECT abc_class, count(*) AS n_parts,
           CAST(sum(cents) AS BIGINT) AS class_cents,
           CAST(floor((CAST(sum(cents) AS DOUBLE) * 1000000.0 / t.total) + 0.5) AS BIGINT)
               / 1000000.0 AS revenue_share
    FROM classed, tot t
    GROUP BY abc_class, t.total
    ORDER BY abc_class
    """,
    "ABC analysis: parts classed by cumulative revenue share (integer boundaries)",
)
def orders_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    cents = fround(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100.0
    ).cast("long")
    rev = li.groupBy("l_partkey").agg(F.sum(cents).alias("cents"))
    nparts = max(spark.sparkContext.defaultParallelism, 1)
    # range-shuffle once, pin the partitioning for both consumers
    # (per-partition totals + the local cumsum pass)
    d = (
        rev.repartitionByRange(nparts, F.col("cents").desc(), F.col("l_partkey"))
        .withColumn("pid", F.spark_partition_id())
        .transform(pin)
    )
    tot = d.agg(F.sum("cents").alias("total"))
    ptot = d.groupBy("pid").agg(F.sum("cents").alias("ps"))
    woff = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = ptot.select(
        "pid", F.coalesce(F.sum("ps").over(woff), F.lit(0)).alias("off")
    )
    wloc = Window.partitionBy("pid").orderBy(
        F.col("cents").desc(), "l_partkey"
    ).rowsBetween(Window.unboundedPreceding, 0)
    classed = (
        d.join(F.broadcast(offs), "pid")
        .withColumn("cum", F.col("off") + F.sum("cents").over(wloc))
        .crossJoin(F.broadcast(tot))
        .select(
            "cents",
            "total",
            F.when(F.col("cum") * 100 <= F.col("total") * 80, "A")
            .when(F.col("cum") * 100 <= F.col("total") * 95, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
    )
    share = (
        fround(
            F.sum("cents").cast("double") * F.lit(1000000.0) / F.max("total")
        ).cast("long")
        / F.lit(1000000.0)
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("cents").cast("long").alias("class_cents"),
            share.alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


# ---------------------------------------------------------------------------
# Per-dimension embedding profile — the feature-health monitor (dead
# dimensions, variance collapse, range drift) run before training on
# any embedding corpus: mean, population variance, and |max| per
# coordinate, plus the dimension's variance share. Means/variances use
# the scaled-integer sum discipline on magnitude-normalized values
# (exact max aggregate), one posexplode + (pos) hash agg — the corpus
# shuffles once on a 64-key domain.
# ---------------------------------------------------------------------------
EMB_DIM_TOP = 10


@register(
    "emb_dim_profile",
    f"""
    WITH raw AS (
        SELECT CAST(i AS INTEGER) - 1 AS pos,
               CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS x0
        FROM embeddings, LATERAL unnest(range(1, len(embedding) + 1)) t(i)
    ),
    m AS (SELECT greatest(max(abs(x0)), 1e-300) AS m0 FROM raw),
    vals AS (SELECT pos, x0 / m0 AS x FROM raw, m),
    s AS (
        SELECT pos, count(*) AS n,
               sum(CAST(floor((x * 1000000.0) + 0.5) AS BIGINT)) AS s6,
               sum(CAST(floor((x * x * 1000000000.0) + 0.5) AS BIGINT)) AS ss9,
               max(abs(x)) AS mabs
        FROM vals GROUP BY pos
    ),
    prof AS (
        SELECT pos, n,
               (CAST(s6 AS DOUBLE) / 1000000.0) / n AS mu,
               (CAST(ss9 AS DOUBLE) / 1000000000.0) / n
                   - ((CAST(s6 AS DOUBLE) / 1000000.0) / n)
                     * ((CAST(s6 AS DOUBLE) / 1000000.0) / n) AS var_,
               mabs
        FROM s
    ),
    tv AS (SELECT sum(CAST(floor((var_ * 1000000000.0) + 0.5) AS BIGINT)) AS tot9 FROM prof)
    SELECT pos AS dim, floor((m.m0 * mu) * 1e6 + 0.5) / 1e6 AS mean_val,
           floor((m.m0 * m.m0 * var_) * 1e6 + 0.5) / 1e6 AS var_pop,
           floor((m.m0 * mabs) * 1e6 + 0.5) / 1e6 AS max_abs,
           CAST(floor((CAST(CAST(floor((var_ * 1000000000.0) + 0.5) AS BIGINT) AS DOUBLE)
                      * 1000000.0 / tot9) + 0.5) AS BIGINT) / 1000000.0 AS var_share
    FROM prof, m, tv
    ORDER BY var_pop DESC, dim
    LIMIT {EMB_DIM_TOP}
    """,
    "per-dimension embedding health: mean, variance, |max|, variance share, top-k dims",
)
def emb_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    raw = decode_embedding(emb)
    m = raw.agg(F.greatest(F.max(F.abs("x0")), F.lit(1e-300)).alias("m0"))
    vals = raw.crossJoin(F.broadcast(m)).select(
        "pos", (F.col("x0") / F.col("m0")).alias("x")
    )
    s = vals.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(fround(F.col("x") * F.lit(1000000.0)).cast("long")).alias("s6"),
        F.sum(
            fround(F.col("x") * F.col("x") * F.lit(1000000000.0)).cast("long")
        ).alias("ss9"),
        F.max(F.abs("x")).alias("mabs"),
    )
    mu = (F.col("s6").cast("double") / F.lit(1000000.0)) / F.col("n")
    var_ = (F.col("ss9").cast("double") / F.lit(1000000000.0)) / F.col("n") - mu * mu
    # feeds the total-variance agg AND the output
    prof = pin(s.select("pos", "n", mu.alias("mu"), var_.alias("var_"), "mabs"))
    tv = prof.agg(
        F.sum(fround(F.col("var_") * F.lit(1000000000.0)).cast("long")).alias("tot9")
    )
    v9 = fround(F.col("var_") * F.lit(1000000000.0)).cast("long")
    var_share = (
        fround(v9.cast("double") * F.lit(1000000.0) / F.col("tot9")).cast("long")
        / F.lit(1000000.0)
    )
    return (
        prof.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(tv))
        .select(
            F.col("pos").alias("dim"),
            fround(F.col("m0") * F.col("mu"), 6).alias("mean_val"),
            fround(F.col("m0") * F.col("m0") * F.col("var_"), 6).alias("var_pop"),
            fround(F.col("m0") * F.col("mabs"), 6).alias("max_abs"),
            var_share.alias("var_share"),
        )
        .orderBy(F.col("var_pop").desc(), "dim")
        .limit(EMB_DIM_TOP)
    )


# ---------------------------------------------------------------------------
# New vs returning users per day — the daily acquisition/retention
# split: a user's first-ever day classifies each of their active days.
# First-seen is a per-user hash agg (no window over the event stream);
# the daily rollup is a hash agg on day keys; the ratio quantizes.
# ---------------------------------------------------------------------------
@register(
    "events_new_vs_returning",
    """
    WITH firstseen AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events GROUP BY user_id
    ),
    active AS (
        SELECT DISTINCT e.user_id, CAST(e.ts AS DATE) AS d
        FROM events e
    )
    SELECT CAST(a.d AS VARCHAR) AS day,
           CAST(sum(CASE WHEN a.d = f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
           CAST(sum(CASE WHEN a.d > f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_returning,
           CAST(floor((CAST(sum(CASE WHEN a.d = f.first_day THEN 1 ELSE 0 END) AS DOUBLE)
                      * 1000000.0 / count(*)) + 0.5) AS BIGINT) / 1000000.0 AS new_share
    FROM active a JOIN firstseen f ON a.user_id = f.user_id
    GROUP BY a.d
    ORDER BY a.d
    """,
    "daily new-vs-returning active users split with quantized new share",
)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    firstseen = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    active = ev.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    joined = active.join(firstseen, "user_id")
    n_new = F.sum(F.when(F.col("d") == F.col("first_day"), 1).otherwise(0)).cast("long")
    n_ret = F.sum(F.when(F.col("d") > F.col("first_day"), 1).otherwise(0)).cast("long")
    daily = joined.groupBy("d").agg(
        n_new.alias("n_new"), n_ret.alias("n_returning"), F.count(F.lit(1)).alias("n")
    )
    share = (
        fround(F.col("n_new").cast("double") * F.lit(1000000.0) / F.col("n")).cast("long")
        / F.lit(1000000.0)
    )
    return daily.select(
        F.col("d").cast("string").alias("day"),
        "n_new",
        "n_returning",
        share.alias("new_share"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Day-over-day revenue delta — the reporting staple on top of q45's
# zero-filled spine: absolute and percent change vs the previous
# calendar day. The lag window runs over the tiny day spine; the pct
# ratio quantizes (NULL on a zero/missing previous day).
# ---------------------------------------------------------------------------
@register(
    "orders_daily_delta",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               sum(CAST(floor((o_totalprice * 100.0) + 0.5) AS BIGINT)) AS cents
        FROM orders GROUP BY 1
    ),
    bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM daily),
    spine AS (
        SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
        FROM bounds
    ),
    filled AS (
        SELECT s.d, coalesce(a.cents, 0) AS cents
        FROM spine s LEFT JOIN daily a ON s.d = a.d
    ),
    lagged AS (
        SELECT d, cents, lag(cents) OVER (ORDER BY d) AS prev_cents
        FROM filled
    )
    SELECT CAST(d AS VARCHAR) AS day,
           floor((cents / 100.0) * 1e2 + 0.5) / 1e2 AS revenue,
           floor(((cents - prev_cents) / 100.0) * 1e2 + 0.5) / 1e2 AS delta,
           CASE WHEN prev_cents > 0
                THEN CAST(floor(((CAST(cents AS DOUBLE) - prev_cents) * 1000000.0
                                / prev_cents) + 0.5) AS BIGINT) / 1000000.0
                END AS pct_change
    FROM lagged
    ORDER BY d
    """,
    "day-over-day revenue delta and percent change over the zero-filled day spine",
)
def orders_daily_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(fround(F.col("o_totalprice") * 100.0).cast("long")).alias("cents")
    )
    spine = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1")).select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("d")
    )
    filled = spine.join(daily, "d", "left").select(
        "d", F.coalesce("cents", F.lit(0)).alias("cents")
    )
    wl = Window.orderBy("d")
    lagged = filled.withColumn("prev_cents", F.lag("cents").over(wl))
    pct = F.when(
        F.col("prev_cents") > 0,
        fround(
            (F.col("cents").cast("double") - F.col("prev_cents"))
            * F.lit(1000000.0)
            / F.col("prev_cents")
        ).cast("long")
        / F.lit(1000000.0),
    )
    return lagged.select(
        F.col("d").cast("string").alias("day"),
        fround(F.col("cents") / F.lit(100.0), 2).alias("revenue"),
        fround((F.col("cents") - F.col("prev_cents")) / F.lit(100.0), 2).alias("delta"),
        pct.alias("pct_change"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Semantic (embedding-space) duplicate clusters — the dense-vector twin
# of dedup_clusters: connected components over dedup_embedding's
# LSH-candidate + exact-cosine-verified pair graph, via the shared
# min-label-propagation loop (only node labels round-trip per
# iteration). The oracle nests the LIVE dedup_embedding SQL inside the
# same recursive-CTE fixpoint dedup_clusters pins, so the edge
# semantics can never drift between the pairwise and the clustered
# views.
# ---------------------------------------------------------------------------
def _emb_pairs_oracle() -> str:
    # importing the module (not just REGISTRY) guarantees registration:
    # operators/__init__ imports analytics BEFORE dedup alphabetically
    from . import dedup as _d  # noqa: F401
    from ..plans.registry import REGISTRY

    return REGISTRY["dedup_embedding"].oracle_sql


@register(
    "dedup_semantic_clusters",
    """
    WITH RECURSIVE pairs AS (
        SELECT vec_a, vec_b FROM ({EMB_PAIRS})
    ),
    sym AS (SELECT vec_a AS a, vec_b AS b FROM pairs
            UNION ALL SELECT vec_b, vec_a FROM pairs),
    reach(a, b) AS (
        SELECT a, b FROM sym
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    lab AS (SELECT a AS vec_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a)
    SELECT vec_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM lab
    ORDER BY vec_id
    """.replace("{EMB_PAIRS}", _emb_pairs_oracle()),
    "semantic dedup clusters: connected components over the embedding near-dup graph",
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import dedup_embedding, label_propagation

    pairs = dedup_embedding(spark, sf_dir).select("vec_a", "vec_b")
    return label_propagation(pairs, "vec_a", "vec_b", "vec_id").orderBy("vec_id")


# ---------------------------------------------------------------------------
# Cross-split NEAR-duplicate leakage — the train/test contamination
# auditors actually need: exact cross-split dups (dedup_cross_split)
# miss paraphrase-level leaks, so this composes the n-gram Jaccard
# near-dup pair graph with the deterministic split assignment and
# counts pairs whose endpoints landed in different splits. Both
# ingredient semantics are nested verbatim from their live registry
# oracles (split rule restated from text_split_assign's salt).
# ---------------------------------------------------------------------------
def _jaccard_pairs_oracle() -> str:
    from . import dedup as _d  # noqa: F401  (force registration)
    from ..plans.registry import REGISTRY

    return REGISTRY["dedup_ngram_jaccard"].oracle_sql


def _split_salt() -> str:
    from .textops import SPLIT_SALT

    return SPLIT_SALT


@register(
    "dedup_cross_split_near",
    """
    WITH pairs AS (SELECT doc_a, doc_b, jaccard FROM ({JAC_PAIRS})),
    splits AS (
        SELECT doc_id,
               CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split
        FROM (SELECT doc_id,
                     CAST(('0x' || substr(md5('{SALT}:' || CAST(doc_id AS VARCHAR)), 1, 8))
                          AS BIGINT) % 100 AS b
              FROM documents)
    )
    SELECT sa.split AS split_a, sb.split AS split_b,
           count(*) AS n_pairs,
           CAST(floor((CAST(sum(CAST(floor((p.jaccard * 10000.0) + 0.5) AS BIGINT)) AS DOUBLE)
                      / count(*)) + 0.5) AS BIGINT) / 10000.0 AS avg_jaccard
    FROM pairs p
    JOIN splits sa ON p.doc_a = sa.doc_id
    JOIN splits sb ON p.doc_b = sb.doc_id
    WHERE sa.split <> sb.split
    GROUP BY sa.split, sb.split
    ORDER BY split_a, split_b
    """.replace("{JAC_PAIRS}", _jaccard_pairs_oracle()).replace("{SALT}", _split_salt()),
    "train/val/test near-dup leakage: Jaccard pairs crossing split boundaries",
)
def dedup_cross_split_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import dedup_ngram_jaccard
    from .textops import text_split_assign

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b", "jaccard")
    # joined twice (both pair endpoints)
    splits = pin(text_split_assign(spark, sf_dir).select("doc_id", "split"))
    sa = splits.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    sb = splits.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    j4 = fround(F.col("jaccard") * F.lit(10000.0)).cast("long")
    avg_j = (
        fround(F.sum(j4).cast("double") / F.count(F.lit(1))).cast("long")
        / F.lit(10000.0)
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"), avg_j.alias("avg_jaccard"))
        .orderBy("split_a", "split_b")
    )


# ---------------------------------------------------------------------------
# Filtered ("hybrid") ANN — vector search under a metadata predicate,
# the retrieval pattern every RAG/search stack runs: top-k cosine
# neighbors restricted to candidates sharing the query's label. The
# filter lands BEFORE the distance math (predicate pushdown into the
# candidate scan), so the pair fan-out is |Q| x |label partition|, not
# |Q| x corpus. Same pinned dot/norm expressions as ann_cosine_topk.
# ---------------------------------------------------------------------------
FILT_QUERIES = 5
FILT_TOP = 5


@register(
    "ann_filtered_topk",
    f"""
    WITH q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS qe
               FROM embeddings WHERE vec_id < {FILT_QUERIES}),
    c AS (SELECT vec_id AS c_id, label AS c_label, embedding AS ce FROM embeddings),
    scored AS (
        SELECT q_id, c_id,
               floor((list_sum([qe[i]::DOUBLE * ce[i]::DOUBLE for i in range(1, len(qe) + 1)])
                 / (sqrt(list_sum([qe[i]::DOUBLE * qe[i]::DOUBLE for i in range(1, len(qe) + 1)]))
                    * sqrt(list_sum([ce[i]::DOUBLE * ce[i]::DOUBLE for i in range(1, len(ce) + 1)])))) * 1e4 + 0.5) / 1e4 AS cosine
        FROM q JOIN c ON q.q_label = c.c_label AND q.q_id <> c.c_id
    )
    SELECT q_id, c_id, cosine
    FROM (SELECT q_id, c_id, cosine,
                 row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rn
          FROM scored)
    WHERE rn <= {FILT_TOP}
    ORDER BY q_id, cosine DESC, c_id
    """,
    "filtered (hybrid) ANN: cosine top-k restricted to the query's label partition",
)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import _DOT, _NORM

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < FILT_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("qe"),
    )
    c = emb.select(
        F.col("vec_id").alias("c_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("ce"),
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("q_label") == F.col("c_label"))
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            fround(
                F.expr(_DOT)
                / (F.expr(_NORM.format(v="qe")) * F.expr(_NORM.format(v="ce"))),
                4,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), "c_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= FILT_TOP)
        .select("q_id", "c_id", "cosine")
        .orderBy("q_id", F.col("cosine").desc(), "c_id")
    )


# ---------------------------------------------------------------------------
# Order-to-ship latency distribution — the fulfillment SLA card: days
# from order placement to each line's ship date, exact discrete
# quantiles per order priority (q46's positional-pick mechanism over
# integer day counts — no float surface). The orders join broadcasts
# nothing blindly: it is a fact-to-fact equi-join on the orderkey both
# tables are naturally keyed by. The oracle states the naive
# per-priority rank window; the Spark side exploits that lat_days is a
# BOUNDED integer domain (calendar days between order and ship — a few
# thousand values regardless of row count) and computes the identical
# discrete quantiles by counting sort: one hash aggregate to
# (pri, lat_days) counts, then cumulative windows over that
# |priorities| x |day-domain| bounded set. The fact table is touched
# by exactly one partial+final agg — no fact-scale sort anywhere. The
# positional pick is value-identical: the value at rank position pos
# is the smallest lat_days whose cumulative count reaches pos.
# ---------------------------------------------------------------------------
@register(
    "orders_ship_latency",
    """
    WITH lat AS (
        SELECT o.o_orderpriority AS pri,
               date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE))
                   AS lat_days
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    ranked AS (
        SELECT pri, lat_days,
               row_number() OVER (PARTITION BY pri ORDER BY lat_days) AS rn,
               count(*) OVER (PARTITION BY pri) AS n
        FROM lat
    )
    SELECT pri AS o_orderpriority, max(n) AS n_lines,
           min(CASE WHEN rn >= CAST(ceil(0.50 * n) AS BIGINT) THEN lat_days END) AS p50_days,
           min(CASE WHEN rn >= CAST(ceil(0.90 * n) AS BIGINT) THEN lat_days END) AS p90_days,
           max(lat_days) AS max_days
    FROM ranked
    GROUP BY pri
    ORDER BY pri
    """,
    "order-to-ship latency: exact discrete quantiles of fulfillment days per priority",
)
def orders_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders_full = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    lat = li.join(orders_full, li.l_orderkey == orders_full.o_orderkey).select(
        F.col("o_orderpriority").alias("pri"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("lat_days"),
    )
    cnt = lat.groupBy("pri", "lat_days").agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        Window.partitionBy("pri")
        .orderBy("lat_days")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy("pri")
    r = cnt.select(
        "pri",
        "lat_days",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wn).alias("n"),
    )

    def pick(p: float):
        pos = F.ceil(F.lit(p) * F.col("n")).cast("long")
        return F.min(F.when(F.col("cum") >= pos, F.col("lat_days")))

    return (
        r.groupBy("pri")
        .agg(
            F.max("n").alias("n_lines"),
            pick(0.50).alias("p50_days"),
            pick(0.90).alias("p90_days"),
            F.max("lat_days").alias("max_days"),
        )
        .select(
            F.col("pri").alias("o_orderpriority"),
            "n_lines",
            "p50_days",
            "p90_days",
            "max_days",
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Language-ID confusion matrix — the classifier eval on top of
# text_language_id: predicted vs generator-labeled language counts plus
# per-true-label accuracy (quantize-then-divide). The prediction SQL is
# nested verbatim from the live registry entry, so the heuristic and
# its eval can never drift.
# ---------------------------------------------------------------------------
def _langid_oracle() -> str:
    from . import textops as _t  # noqa: F401  (force registration)
    from ..plans.registry import REGISTRY

    return REGISTRY["text_language_id"].oracle_sql


@register(
    "text_langid_confusion",
    """
    WITH preds AS (SELECT lang, predicted FROM ({LANGID})),
    ct AS (SELECT lang AS true_lang, predicted, count(*) AS n
           FROM preds GROUP BY lang, predicted),
    tot AS (SELECT true_lang, sum(n) AS n_true FROM ct GROUP BY true_lang)
    SELECT c.true_lang, c.predicted, c.n,
           CAST(floor((CAST(c.n AS DOUBLE) * 1000000.0 / t.n_true) + 0.5) AS BIGINT)
               / 1000000.0 AS share_of_true
    FROM ct c JOIN tot t ON c.true_lang = t.true_lang
    ORDER BY c.true_lang, c.predicted
    """.replace("{LANGID}", _langid_oracle()),
    "language-ID eval: predicted-vs-true confusion matrix with per-label shares",
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textops import text_language_id

    preds = text_language_id(spark, sf_dir).select(
        F.col("lang").alias("true_lang"), "predicted"
    )
    ct = preds.groupBy("true_lang", "predicted").agg(
        F.count(F.lit(1)).alias("n")
    ).transform(pin)  # feeds totals AND the output join
    tot = ct.groupBy("true_lang").agg(F.sum("n").alias("n_true"))
    share = (
        fround(F.col("n").cast("double") * F.lit(1000000.0) / F.col("n_true")).cast("long")
        / F.lit(1000000.0)
    )
    return (
        ct.join(tot, "true_lang")
        .select("true_lang", "predicted", "n", share.alias("share_of_true"))
        .orderBy("true_lang", "predicted")
    )


# ---------------------------------------------------------------------------
# Time-decay multi-touch attribution — the third classic model next to
# last-touch (events_attribution) and linear (events_attribution_linear):
# each touch in the 24 h pre-purchase window earns weight
# 2^(-age/half-life) (half-life 6 h), normalized per purchase. The
# purchase x touch inequality join reuses the q09/linear bin-bucket
# shape (shuffle-hash on (user, 24 h bin), probe own + previous bin).
# Weights quantize to 1e6 integers per touch BEFORE any cross-row sum;
# per-purchase shares are ratios of those integer sums, themselves
# re-quantized before the cross-purchase sum — no order-dependent
# double aggregate anywhere.
# ---------------------------------------------------------------------------
DECAY_WINDOW_US = 24 * 3600 * 1_000_000
DECAY_HALFLIFE_US = 6 * 3600 * 1_000_000
_LN2 = 0.6931471805599453
# decay exponent per µs of touch age, pre-folded to one pinned DOUBLE
# literal so the weight is exp(-d_us * RATE): one int->double cast, one
# multiply, then the portable exp polynomial — no libm on either engine
_DECAY_RATE = dlit(_LN2 / DECAY_HALFLIFE_US)
_DECAY_W6 = (
    f"CAST(floor(({pexp(f'(0.0e0 - (CAST(d_us AS DOUBLE) * {_DECAY_RATE}))')}"
    f" * 1000000.0) + 0.5) AS BIGINT)"
)


@register(
    "events_attribution_decay",
    f"""
    WITH touches AS (
        SELECT user_id, epoch_us(ts) AS t_us, event_type,
               epoch_us(ts) // {DECAY_WINDOW_US} AS bin
        FROM events WHERE event_type <> 'purchase'
    ),
    purchases AS (
        SELECT user_id, epoch_us(ts) AS p_us,
               CAST(floor((value * 100.0) + 0.5) AS BIGINT) AS cents,
               event_id
        FROM events WHERE event_type = 'purchase'
    ),
    probe AS (
        SELECT p.*, t.bin
        FROM purchases p,
             LATERAL unnest([p.p_us // {DECAY_WINDOW_US},
                             p.p_us // {DECAY_WINDOW_US} - 1]) t(bin)
    ),
    matched AS (
        SELECT pr.user_id, pr.event_id, pr.cents, t.event_type AS channel,
               pr.p_us - t.t_us AS d_us
        FROM probe pr
        JOIN touches t ON t.user_id = pr.user_id AND t.bin = pr.bin
        WHERE t.t_us < pr.p_us AND pr.p_us - t.t_us <= {DECAY_WINDOW_US}
    ),
    weighted AS (
        SELECT user_id, event_id, cents, channel, {_DECAY_W6} AS w6
        FROM matched
    ),
    per_purchase AS (
        SELECT user_id, event_id, cents, channel, sum(w6) AS wc,
               sum(sum(w6)) OVER (PARTITION BY user_id, event_id) AS wt
        FROM weighted
        GROUP BY user_id, event_id, cents, channel
    ),
    credited AS (
        SELECT channel,
               CAST(floor((CAST(wc AS DOUBLE) * 1000000.0 / wt) + 0.5) AS BIGINT) AS share6,
               CAST(floor((cents * CAST(wc AS DOUBLE) / wt) + 0.5) AS BIGINT) AS cents_part
        FROM per_purchase
    )
    SELECT channel,
           floor((CAST(sum(share6) AS BIGINT) / 1000000.0) * 1e4 + 0.5) / 1e4 AS credited_purchases,
           CAST(sum(cents_part) AS BIGINT) AS credited_cents
    FROM credited
    GROUP BY channel
    ORDER BY channel
    """,
    "time-decay multi-touch attribution: half-life-weighted credit, bin-bucketed join",
)
def events_attribution_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    touches = ev.filter(F.col("event_type") != "purchase").select(
        "user_id",
        F.unix_micros("ts").alias("t_us"),
        F.col("event_type").alias("channel"),
        (F.unix_micros("ts") / DECAY_WINDOW_US).cast("long").alias("bin"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros("ts").alias("p_us"),
        fround(F.col("value") * 100.0).cast("long").alias("cents"),
        "event_id",
    )
    probe = purchases.select(
        "*",
        F.explode(
            F.array(
                (F.col("p_us") / DECAY_WINDOW_US).cast("long"),
                (F.col("p_us") / DECAY_WINDOW_US).cast("long") - 1,
            )
        ).alias("bin"),
    )
    matched = (
        probe.join(touches, ["user_id", "bin"])
        .filter(
            (F.col("t_us") < F.col("p_us"))
            & (F.col("p_us") - F.col("t_us") <= DECAY_WINDOW_US)
        )
        .select(
            "user_id",
            "event_id",
            "cents",
            "channel",
            (F.col("p_us") - F.col("t_us")).alias("d_us"),
        )
        .select("user_id", "event_id", "cents", "channel", F.expr(_DECAY_W6).alias("w6"))
    )
    wp = Window.partitionBy("user_id", "event_id")
    per_purchase = (
        matched.groupBy("user_id", "event_id", "cents", "channel")
        .agg(F.sum("w6").alias("wc"))
        .withColumn("wt", F.sum("wc").over(wp))
    )
    share6 = fround(F.col("wc").cast("double") * F.lit(1000000.0) / F.col("wt")).cast(
        "long"
    )
    cents_part = fround(F.col("cents") * F.col("wc").cast("double") / F.col("wt")).cast(
        "long"
    )
    credited = per_purchase.select(
        "channel", share6.alias("share6"), cents_part.alias("cents_part")
    )
    return (
        credited.groupBy("channel")
        .agg(
            fround(F.sum("share6").cast("long") / F.lit(1000000.0), 4).alias(
                "credited_purchases"
            ),
            F.sum("cents_part").cast("long").alias("credited_cents"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# Session duration/size distribution — the roll-up card on top of the
# q15 gap rule: exact discrete quantiles of session duration
# (microseconds, integer) and of events-per-session, plus the
# single-event share. All windows partition by user; quantiles use the
# positional-pick mechanism over the (much smaller) session table.
# ---------------------------------------------------------------------------
@register(
    "events_session_stats",
    f"""
    WITH ordered AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        FROM events
    ),
    marked AS (
        SELECT user_id, event_id, us,
               CASE WHEN prev_us IS NULL OR us - prev_us > {_GAP_US} THEN 1 ELSE 0 END AS is_new
        FROM ordered
    ),
    numbered AS (
        SELECT user_id, us,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        FROM marked
    ),
    sess AS (
        SELECT user_id, session_idx,
               max(us) - min(us) AS dur_us, count(*) AS n_events
        FROM numbered GROUP BY user_id, session_idx
    ),
    ranked AS (
        SELECT dur_us, n_events,
               row_number() OVER (ORDER BY dur_us, user_id, session_idx) AS rd,
               row_number() OVER (ORDER BY n_events, user_id, session_idx) AS rc,
               count(*) OVER () AS n
        FROM sess
    )
    SELECT max(n) AS n_sessions,
           min(CASE WHEN rd >= CAST(ceil(0.50 * n) AS BIGINT) THEN dur_us END) AS p50_dur_us,
           min(CASE WHEN rd >= CAST(ceil(0.90 * n) AS BIGINT) THEN dur_us END) AS p90_dur_us,
           min(CASE WHEN rc >= CAST(ceil(0.50 * n) AS BIGINT) THEN n_events END) AS p50_events,
           min(CASE WHEN rc >= CAST(ceil(0.90 * n) AS BIGINT) THEN n_events END) AS p90_events,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_single_event
    FROM ranked
    """,
    "session duration / size distribution: exact quantiles over the session table",
)
def events_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    wlag = Window.partitionBy("user_id").orderBy("us", "event_id")
    numbered = ev.withColumn(
        "is_new",
        F.when(
            F.lag("us").over(wlag).isNull()
            | (F.col("us") - F.lag("us").over(wlag) > _GAP_US),
            1,
        ).otherwise(0),
    ).withColumn(
        "session_idx",
        F.sum("is_new").over(wlag.rowsBetween(Window.unboundedPreceding, 0)),
    )
    sess = numbered.groupBy("user_id", "session_idx").agg(
        (F.max("us") - F.min("us")).alias("dur_us"),
        F.count(F.lit(1)).alias("n_events"),
    )
    # the session table is |sessions| rows (~|events|/5 — NOT a bounded
    # dimension), so both global rank orders run through distrank's
    # two-phase range-partitioned scan instead of a single-task window;
    # bit-identical to the oracle's bare row_number() (r4 verdict #5)
    from .distrank import with_global_rank

    ranked = with_global_rank(
        spark, sess, [F.col("dur_us"), F.col("user_id"), F.col("session_idx")], rn_col="rd"
    )
    ranked = with_global_rank(
        spark,
        ranked,
        [F.col("n_events"), F.col("user_id"), F.col("session_idx")],
        rn_col="rc",
        n_col="n",
    ).select("dur_us", "n_events", "rd", "rc", "n")

    def pick(rank_col: str, val_col: str, p: float):
        pos = F.ceil(F.lit(p) * F.col("n")).cast("long")
        return F.min(F.when(F.col(rank_col) >= pos, F.col(val_col)))

    return ranked.agg(
        F.max("n").alias("n_sessions"),
        pick("rd", "dur_us", 0.50).alias("p50_dur_us"),
        pick("rd", "dur_us", 0.90).alias("p90_dur_us"),
        pick("rc", "n_events", 0.50).alias("p50_events"),
        pick("rc", "n_events", 0.90).alias("p90_events"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_single_event"),
    )


# ---------------------------------------------------------------------------
# Near-dup redundancy by source — which ingestion feeds are wasting
# tokens: per source, how many docs participate in >= 1 near-dup pair
# (the Jaccard pair SQL nested live from the registry) and the
# redundant share. The pair endpoints union through one distinct on
# doc_id; everything downstream is source-keyed hash aggs.
# ---------------------------------------------------------------------------
@register(
    "dedup_rate_by_source",
    """
    WITH pairs AS (SELECT doc_a, doc_b FROM ({JAC_PAIRS})),
    dup_docs AS (
        SELECT DISTINCT doc_id
        FROM (SELECT doc_a AS doc_id FROM pairs
              UNION ALL SELECT doc_b FROM pairs)
    ),
    per_source AS (
        SELECT d.source, count(*) AS n_docs,
               CAST(sum(CASE WHEN dd.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_docs
        FROM documents d LEFT JOIN dup_docs dd ON d.doc_id = dd.doc_id
        GROUP BY d.source
    )
    SELECT source, n_docs, n_dup_docs,
           CAST(floor((CAST(n_dup_docs AS DOUBLE) * 1000000.0 / n_docs) + 0.5) AS BIGINT)
               / 1000000.0 AS dup_share
    FROM per_source
    ORDER BY source
    """.replace("{JAC_PAIRS}", _jaccard_pairs_oracle()),
    "near-dup redundancy per ingestion source: docs in >= 1 Jaccard pair, share",
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import dedup_ngram_jaccard

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    dup_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    per_source = (
        docs.join(F.broadcast(dup_docs), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce("is_dup", F.lit(0))).cast("long").alias("n_dup_docs"),
        )
    )
    share = (
        fround(
            F.col("n_dup_docs").cast("double") * F.lit(1000000.0) / F.col("n_docs")
        ).cast("long")
        / F.lit(1000000.0)
    )
    return per_source.select(
        "source", "n_docs", "n_dup_docs", share.alias("dup_share")
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Inter-label centroid separation — the class-separability eval on the
# embedding space: per-label centroids from quantized-integer means
# (same discipline as emb_outlier_filter), then the full pairwise
# centroid-distance matrix — n_labels^2 rows of pure model-level math
# after one corpus pass.
# ---------------------------------------------------------------------------
@register(
    "emb_label_separation",
    """
    WITH raw AS (
        SELECT label, CAST(i AS INTEGER) - 1 AS pos,
               CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS x0
        FROM embeddings, LATERAL unnest(range(1, len(embedding) + 1)) t(i)
    ),
    m AS (SELECT greatest(max(abs(x0)), 1e-300) AS m0 FROM raw),
    vals AS (SELECT label, pos, x0 / m0 AS x FROM raw, m),
    cen AS (
        SELECT label, pos,
               (CAST(sum(CAST(floor((x * 1000000.0) + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0)
                   / count(*) AS c
        FROM vals GROUP BY label, pos
    ),
    d2 AS (
        SELECT a.label AS label_a, b.label AS label_b,
               sum(CAST(floor(((a.c - b.c) * (a.c - b.c) * 1000000000.0) + 0.5) AS BIGINT)) AS q9
        FROM cen a JOIN cen b ON a.pos = b.pos AND a.label < b.label
        GROUP BY a.label, b.label
    )
    SELECT label_a, label_b,
           floor((m.m0 * sqrt(CAST(q9 AS DOUBLE) / 1000000000.0)) * 1e6 + 0.5) / 1e6 AS centroid_dist
    FROM d2, m
    ORDER BY label_a, label_b
    """,
    "class-separability eval: pairwise label-centroid distances from quantized means",
)
def emb_label_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    raw = decode_embedding(emb, "label")
    m = raw.agg(F.greatest(F.max(F.abs("x0")), F.lit(1e-300)).alias("m0"))
    vals = raw.crossJoin(F.broadcast(m)).select(
        "label", "pos", (F.col("x0") / F.col("m0")).alias("x")
    )
    cen = vals.groupBy("label", "pos").agg(
        (
            (F.sum(fround(F.col("x") * F.lit(1000000.0)).cast("long")).cast("double")
             / F.lit(1000000.0))
            / F.count(F.lit(1))
        ).alias("c")
    )
    a = cen.select(F.col("label").alias("label_a"), "pos", F.col("c").alias("ca"))
    b = cen.select(F.col("label").alias("label_b"), "pos", F.col("c").alias("cb"))
    q9 = fround(
        (F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb")) * F.lit(1000000000.0)
    ).cast("long")
    d2 = (
        a.join(b, "pos")
        .filter(F.col("label_a") < F.col("label_b"))
        .select("label_a", "label_b", q9.alias("t9"))
        .groupBy("label_a", "label_b")
        .agg(F.sum("t9").alias("q9"))
    )
    return (
        d2.crossJoin(F.broadcast(m))
        .select(
            "label_a",
            "label_b",
            fround(
                F.col("m0") * F.sqrt(F.col("q9").cast("double") / F.lit(1000000000.0)), 6
            ).alias("centroid_dist"),
        )
        .orderBy("label_a", "label_b")
    )


# ---------------------------------------------------------------------------
# Discount-band uplift — the pricing-elasticity table (TPC-H q6's
# analytical sibling): lineitems bucketed by discount band, with
# average quantity and revenue per band through the quantize-then-
# divide path. One hash agg over ~11 band keys.
# ---------------------------------------------------------------------------
@register(
    "lineitem_discount_uplift",
    """
    WITH banded AS (
        SELECT CAST(floor((l_discount * 100.0) + 0.5) AS BIGINT) AS disc_pct,
               CAST(floor((l_quantity) + 0.5) AS BIGINT) AS qty,
               CAST(floor((l_extendedprice * (1 - l_discount) * 100.0) + 0.5) AS BIGINT) AS cents
        FROM lineitem
    )
    SELECT disc_pct, count(*) AS n_lines,
           CAST(floor((CAST(sum(qty) AS DOUBLE) * 100.0 / count(*)) + 0.5) AS BIGINT)
               / 100.0 AS avg_qty,
           CAST(floor((CAST(sum(cents) AS DOUBLE) / count(*)) + 0.5) AS BIGINT)
               / 100.0 AS avg_revenue
    FROM banded
    GROUP BY disc_pct
    ORDER BY disc_pct
    """,
    "discount-band uplift table: per-band line counts, average quantity and revenue",
)
def lineitem_discount_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    banded = li.select(
        fround(F.col("l_discount") * 100.0).cast("long").alias("disc_pct"),
        fround("l_quantity").cast("long").alias("qty"),
        fround(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100.0)
        .cast("long")
        .alias("cents"),
    )
    avg_qty = (
        fround(F.sum("qty").cast("double") * F.lit(100.0) / F.count(F.lit(1))).cast("long")
        / F.lit(100.0)
    )
    avg_rev = (
        fround(F.sum("cents").cast("double") / F.count(F.lit(1))).cast("long")
        / F.lit(100.0)
    )
    return (
        banded.groupBy("disc_pct")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            avg_qty.alias("avg_qty"),
            avg_rev.alias("avg_revenue"),
        )
        .orderBy("disc_pct")
    )


# ---------------------------------------------------------------------------
# Supplier concentration (HHI) per part brand — the market-concentration
# index (Herfindahl-Hirschman) over supplier revenue share within each
# brand: HHI = sum of squared shares, 10000 = monopoly. Shares are
# integer cents ratios; each squared-share term quantizes to a BIGINT
# before the per-brand SUM (order-independent), one final division.
# Shape: two nested hash aggs (brand x supplier -> brand) after one
# broadcast dimension join.
# ---------------------------------------------------------------------------
@register(
    "supplier_hhi",
    """
    WITH rev AS (
        SELECT p.p_brand AS brand, l.l_suppkey AS suppkey,
               sum(CAST(floor((l.l_extendedprice * (1 - l.l_discount) * 100.0) + 0.5) AS BIGINT))
                   AS cents
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand, l.l_suppkey
    ),
    tot AS (SELECT brand, sum(cents) AS total, count(*) AS n_suppliers
            FROM rev GROUP BY brand),
    terms AS (
        SELECT r.brand, t.n_suppliers,
               CAST(floor(((CAST(r.cents AS DOUBLE) / t.total)
                          * (CAST(r.cents AS DOUBLE) / t.total) * 100000000.0) + 0.5) AS BIGINT)
                   AS h8
        FROM rev r JOIN tot t ON r.brand = t.brand
    )
    SELECT brand, max(n_suppliers) AS n_suppliers,
           CAST(floor((CAST(sum(h8) AS DOUBLE) / 10000.0) + 0.5) AS BIGINT) / 10000.0 AS hhi
    FROM terms
    GROUP BY brand
    ORDER BY brand
    """,
    "supplier concentration: Herfindahl index of revenue share per part brand",
)
def supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        fround(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100.0)
        .cast("long")
        .alias("cents0"),
    )
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), F.col("l_suppkey").alias("suppkey"))
        .agg(F.sum("cents0").alias("cents"))
        .transform(pin)  # feeds totals AND the share terms
    )
    tot = rev.groupBy("brand").agg(
        F.sum("cents").alias("total"), F.count(F.lit(1)).alias("n_suppliers")
    )
    share = F.col("cents").cast("double") / F.col("total")
    h8 = fround(share * share * F.lit(100000000.0)).cast("long")
    terms = rev.join(tot, "brand").select("brand", "n_suppliers", h8.alias("h8"))
    hhi = (
        fround(F.sum("h8").cast("double") / F.lit(10000.0)).cast("long")
        / F.lit(10000.0)
    )
    return (
        terms.groupBy("brand")
        .agg(F.max("n_suppliers").alias("n_suppliers"), hhi.alias("hhi"))
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# percent_rank / cume_dist surface — the relative-standing window
# functions, pinned via their exact integer definitions ((rn-1)/(n-1)
# and rn_last/n) rather than the builtins, so both engines compute the
# identical quantized value. Grouped by order priority; ties share the
# cume_dist of their last peer (standard semantics, expressed with a
# max-over-ties join kept tiny by the value-domain grouping). The
# oracle states the naive per-priority window; the Spark side uses the
# grouped two-phase rank (distrank.with_grouped_rank) — 5 priority
# values over all orders would otherwise sort the fact table in 5
# tasks. (o_totalprice, o_orderkey) is a per-group total order, so the
# ranks are bit-identical to the window form.
# ---------------------------------------------------------------------------
@register(
    "q53_percent_rank",
    """
    WITH ranked AS (
        SELECT o_orderpriority AS pri,
               CAST(floor((o_totalprice * 100.0) + 0.5) AS BIGINT) AS cents,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey) AS rn,
               count(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM orders
    ),
    top3 AS (SELECT * FROM ranked WHERE rn <= 3 OR rn >= n - 2)
    SELECT pri AS o_orderpriority, rn, cents,
           CAST(floor((CAST(rn - 1 AS DOUBLE) * 1000000.0
                      / greatest(n - 1, 1)) + 0.5) AS BIGINT) / 1000000.0 AS pct_rank,
           CAST(floor((CAST(rn AS DOUBLE) * 1000000.0 / n) + 0.5) AS BIGINT)
               / 1000000.0 AS cume_dist_pos
    FROM top3
    ORDER BY o_orderpriority, rn
    """,
    "percent_rank / positional cume_dist via exact integer definitions, head+tail rows",
)
def q53_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    ranked = with_grouped_rank(
        spark,
        orders.select("o_orderpriority", "o_totalprice", "o_orderkey"),
        ["o_orderpriority"],
        [F.col("o_totalprice"), F.col("o_orderkey")],
        rn_col="rn",
        n_col="n",
    ).select(
        F.col("o_orderpriority").alias("pri"),
        fround(F.col("o_totalprice") * 100.0).cast("long").alias("cents"),
        "rn",
        "n",
    )
    top3 = ranked.filter((F.col("rn") <= 3) | (F.col("rn") >= F.col("n") - 2))
    pct = (
        fround(
            (F.col("rn") - 1).cast("double")
            * F.lit(1000000.0)
            / F.greatest(F.col("n") - 1, F.lit(1))
        ).cast("long")
        / F.lit(1000000.0)
    )
    cume = (
        fround(F.col("rn").cast("double") * F.lit(1000000.0) / F.col("n")).cast("long")
        / F.lit(1000000.0)
    )
    return top3.select(
        F.col("pri").alias("o_orderpriority"),
        "rn",
        "cents",
        pct.alias("pct_rank"),
        cume.alias("cume_dist_pos"),
    ).orderBy("o_orderpriority", "rn")


# ---------------------------------------------------------------------------
# Returns-rate trend — the reference domain's error-rate idiom applied
# to the order book: monthly share of lineitems flagged returned
# (l_returnflag = 'R'), with the quantized rate and a revenue split.
# One monthly hash agg; integer counts and cents end-to-end.
# ---------------------------------------------------------------------------
@register(
    "orders_returns_trend",
    """
    WITH monthly AS (
        SELECT CAST(strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS VARCHAR) AS month,
               count(*) AS n_lines,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_returned,
               CAST(sum(CASE WHEN l_returnflag = 'R'
                             THEN CAST(floor((l_extendedprice * 100.0) + 0.5) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS returned_cents
        FROM lineitem
        GROUP BY 1
    )
    SELECT month, n_lines, n_returned,
           CAST(floor((CAST(n_returned AS DOUBLE) * 1000000.0 / n_lines) + 0.5) AS BIGINT)
               / 1000000.0 AS return_rate,
           returned_cents
    FROM monthly
    ORDER BY month
    """,
    "monthly returns-rate trend with returned-revenue split",
)
def orders_returns_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        F.date_format(F.col("l_shipdate").cast("date"), "yyyy-MM").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("n_returned"),
        F.sum(
            F.when(
                F.col("l_returnflag") == "R",
                fround(F.col("l_extendedprice") * 100.0).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("returned_cents"),
    )
    rate = (
        fround(
            F.col("n_returned").cast("double") * F.lit(1000000.0) / F.col("n_lines")
        ).cast("long")
        / F.lit(1000000.0)
    )
    return monthly.select(
        "month", "n_lines", "n_returned", rate.alias("return_rate"), "returned_cents"
    ).orderBy("month")


# ---------------------------------------------------------------------------
# kNN label-consistency eval — the standard embedding-space sanity
# check (a good representation puts same-label points next to each
# other): for every label-0 query in the ann_knn_graph output (SQL
# nested live from the registry), how often the top-1 neighbor shares
# the label, plus the neighbor-label histogram. Everything after the
# nested graph is broadcast-sized label joins and one aggregate.
# ---------------------------------------------------------------------------
def _knn_oracle() -> str:
    from . import similarity as _s  # noqa: F401  (force registration)
    from ..plans.registry import REGISTRY

    return REGISTRY["ann_knn_graph"].oracle_sql


@register(
    "emb_knn_consistency",
    """
    WITH knn AS (SELECT vec_id, nn_id FROM ({KNN})),
    lab AS (SELECT vec_id AS nn_id, label AS nn_label FROM embeddings),
    joined AS (SELECT k.vec_id, l.nn_label FROM knn k JOIN lab l ON k.nn_id = l.nn_id)
    SELECT nn_label, count(*) AS n_queries,
           CAST(floor((CAST(count(*) AS DOUBLE) * 1000000.0
                      / (SELECT count(*) FROM joined)) + 0.5) AS BIGINT)
               / 1000000.0 AS share
    FROM joined
    GROUP BY nn_label
    ORDER BY nn_label
    """.replace("{KNN}", _knn_oracle()),
    "kNN label-consistency eval: neighbor-label histogram for label-0 queries",
)
def emb_knn_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import ann_knn_graph

    knn = ann_knn_graph(spark, sf_dir).select("vec_id", "nn_id")
    lab = table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("nn_id"), F.col("label").alias("nn_label")
    )
    joined = pin(knn.join(F.broadcast(lab), "nn_id"))  # feeds the total AND the histogram
    tot = joined.agg(F.count(F.lit(1)).alias("n_total"))
    share = (
        fround(
            F.col("n_queries").cast("double") * F.lit(1000000.0) / F.col("n_total")
        ).cast("long")
        / F.lit(1000000.0)
    )
    return (
        joined.groupBy("nn_label")
        .agg(F.count(F.lit(1)).alias("n_queries"))
        .crossJoin(F.broadcast(tot))
        .select("nn_label", "n_queries", share.alias("share"))
        .orderBy("nn_label")
    )


# ---------------------------------------------------------------------------
# Dedup pipeline accounting — the before/after card a curation run
# reports: corpus size, exact-duplicate rows removable (nested from
# dedup_exact's hash-group semantics), near-dup cluster membership and
# the rows clustering would additionally remove (members - clusters,
# nested from the live cluster fixpoint). Layered counts only — no
# double-counted "survivor" estimate; integers end-to-end.
# ---------------------------------------------------------------------------
def _clusters_oracle() -> str:
    from . import dedup as _d  # noqa: F401
    from ..plans.registry import REGISTRY

    return REGISTRY["dedup_clusters"].oracle_sql


@register(
    "pipeline_dedup_account",
    """
    WITH ex AS (
        SELECT count(*) AS n_docs,
               count(DISTINCT md5(text)) AS n_exact_groups
        FROM documents
    ),
    cl AS (SELECT doc_id, cluster_id FROM ({CLUSTERS})),
    cstats AS (
        SELECT count(*) AS n_near_members,
               count(DISTINCT cluster_id) AS n_near_clusters
        FROM cl
    )
    SELECT ex.n_docs,
           ex.n_exact_groups,
           CAST(ex.n_docs - ex.n_exact_groups AS BIGINT) AS n_exact_removable,
           cstats.n_near_members,
           cstats.n_near_clusters,
           CAST(cstats.n_near_members - cstats.n_near_clusters AS BIGINT)
               AS n_near_removable
    FROM ex, cstats
    """.replace("{CLUSTERS}", _clusters_oracle()),
    "dedup pipeline accounting: exact-group and near-dup-cluster removable counts",
)
def pipeline_dedup_account(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import dedup_clusters

    docs = table(spark, sf_dir, "documents")
    ex = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.md5(F.col("text").cast("binary"))).alias("n_exact_groups"),
    )
    cl = dedup_clusters(spark, sf_dir)
    cstats = cl.agg(
        F.count(F.lit(1)).alias("n_near_members"),
        F.count_distinct("cluster_id").alias("n_near_clusters"),
    )
    return ex.crossJoin(cstats).select(
        "n_docs",
        "n_exact_groups",
        (F.col("n_docs") - F.col("n_exact_groups")).cast("long").alias("n_exact_removable"),
        "n_near_members",
        "n_near_clusters",
        (F.col("n_near_members") - F.col("n_near_clusters"))
        .cast("long")
        .alias("n_near_removable"),
    )


# ---------------------------------------------------------------------------
# Weekly load heatmap — the (day-of-week x hour) traffic matrix behind
# capacity planning and anomaly baselines: counts and the quantized
# share of total per cell. One hash agg over a 168-key domain.
# ISO dow (Monday=1) pinned on both engines.
# ---------------------------------------------------------------------------
@register(
    "events_load_heatmap",
    """
    WITH cells AS (
        SELECT isodow(ts) AS dow, CAST(hour(ts) AS BIGINT) AS hr, count(*) AS n
        FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT sum(n) AS total FROM cells)
    SELECT CAST(c.dow AS BIGINT) AS dow, c.hr, c.n,
           CAST(floor((CAST(c.n AS DOUBLE) * 1000000.0 / t.total) + 0.5) AS BIGINT)
               / 1000000.0 AS share
    FROM cells c, tot t
    ORDER BY dow, hr
    """,
    "weekly load heatmap: (ISO day-of-week x hour) counts and quantized shares",
)
def events_load_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    # Spark dayofweek: Sunday=1; ISO (Monday=1) = ((dayofweek + 5) % 7) + 1
    dow = ((F.dayofweek("ts") + 5) % 7 + 1).cast("long")
    cells = ev.groupBy(
        dow.alias("dow"), F.hour("ts").cast("long").alias("hr")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = cells.agg(F.sum("n").alias("total"))
    share = (
        fround(F.col("n").cast("double") * F.lit(1000000.0) / F.col("total")).cast("long")
        / F.lit(1000000.0)
    )
    return (
        cells.crossJoin(F.broadcast(tot))
        .select("dow", "hr", "n", share.alias("share"))
        .orderBy("dow", "hr")
    )


# ---------------------------------------------------------------------------
# Error precursors — conditional error probability by the immediately
# preceding event type (which actions lead into failures): transition
# counts from the same per-user lead window as q27, P(error | prev)
# through the quantize-then-divide path, against the global error base
# rate for lift. 5x5-bounded aggregate after one window pass.
# ---------------------------------------------------------------------------
@register(
    "events_error_precursors",
    """
    WITH seq AS (
        SELECT event_type AS prev,
               lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        FROM events
    ),
    tc AS (
        SELECT prev, count(*) AS n_next,
               CAST(sum(CASE WHEN nxt = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_err
        FROM seq WHERE nxt IS NOT NULL GROUP BY prev
    ),
    base AS (SELECT sum(n_err) AS tot_err, sum(n_next) AS tot FROM tc)
    SELECT tc.prev, tc.n_next, tc.n_err,
           CAST(floor((CAST(tc.n_err AS DOUBLE) * 1000000.0 / tc.n_next) + 0.5) AS BIGINT)
               / 1000000.0 AS err_rate,
           CAST(floor(((CAST(tc.n_err AS DOUBLE) * b.tot * 1000000.0)
                      / (CAST(tc.n_next AS DOUBLE) * b.tot_err)) + 0.5) AS BIGINT)
               / 1000000.0 AS lift_vs_base
    FROM tc, base b
    ORDER BY tc.prev
    """,
    "error precursors: P(error | previous event type) with lift vs the base rate",
)
def events_error_precursors(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("prev"), F.lead("event_type").over(wseq).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    tc = seq.groupBy("prev").agg(
        F.count(F.lit(1)).alias("n_next"),
        F.sum(F.when(F.col("nxt") == "error", 1).otherwise(0)).cast("long").alias("n_err"),
    ).transform(pin)  # feeds the base rate AND the output
    base = tc.agg(F.sum("n_err").alias("tot_err"), F.sum("n_next").alias("tot"))
    rate = (
        fround(F.col("n_err").cast("double") * F.lit(1000000.0) / F.col("n_next")).cast("long")
        / F.lit(1000000.0)
    )
    lift = (
        fround(
            (F.col("n_err").cast("double") * F.col("tot") * F.lit(1000000.0))
            / (F.col("n_next").cast("double") * F.col("tot_err"))
        ).cast("long")
        / F.lit(1000000.0)
    )
    return (
        tc.crossJoin(F.broadcast(base))
        .select("prev", "n_next", "n_err", rate.alias("err_rate"), lift.alias("lift_vs_base"))
        .orderBy("prev")
    )


# ---------------------------------------------------------------------------
# ASCII / byte-width profile — the encoding-health card a multilingual
# curation run checks before tokenizer training: per source, character
# vs UTF-8 byte counts and the multi-byte excess share. Pure integer
# arithmetic from two builtin length functions; one source-keyed agg.
# ---------------------------------------------------------------------------
@register(
    "text_ascii_profile",
    """
    SELECT source, count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           CAST(sum(octet_length(encode(text)) - length(text)) AS BIGINT)
               AS multibyte_excess,
           CAST(floor((CAST(sum(octet_length(encode(text)) - length(text)) AS DOUBLE)
                      * 1000000.0 / greatest(sum(length(text)), 1)) + 0.5) AS BIGINT)
               / 1000000.0 AS excess_share
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    "encoding-health profile: per-source char vs UTF-8 byte counts, multibyte share",
)
def text_ascii_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    chars = F.length("text")
    bytes_ = F.octet_length(F.col("text").cast("binary"))
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(chars).cast("long").alias("total_chars"),
        F.sum(bytes_).cast("long").alias("total_bytes"),
        F.sum(bytes_ - chars).cast("long").alias("multibyte_excess"),
    )
    share = (
        fround(
            F.col("multibyte_excess").cast("double")
            * F.lit(1000000.0)
            / F.greatest(F.col("total_chars"), F.lit(1))
        ).cast("long")
        / F.lit(1000000.0)
    )
    return agg.select(
        "source",
        "n_docs",
        "total_chars",
        "total_bytes",
        "multibyte_excess",
        share.alias("excess_share"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Customer lifespan distribution — days between first and last order
# per customer, exact discrete quantiles plus the one-order share (the
# monetization-window stat behind LTV horizon choices). Per-customer
# span is one hash agg; quantiles rank the customer-sized span table
# (positional pick).
# ---------------------------------------------------------------------------
@register(
    "orders_customer_lifespan",
    """
    WITH span AS (
        SELECT o_custkey,
               date_diff('day', min(CAST(o_orderdate AS DATE)),
                         max(CAST(o_orderdate AS DATE))) AS span_days,
               count(*) AS n_orders
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT span_days, n_orders,
               row_number() OVER (ORDER BY span_days, o_custkey) AS rn,
               count(*) OVER () AS n
        FROM span
    )
    SELECT max(n) AS n_customers,
           min(CASE WHEN rn >= CAST(ceil(0.25 * n) AS BIGINT) THEN span_days END) AS p25_days,
           min(CASE WHEN rn >= CAST(ceil(0.50 * n) AS BIGINT) THEN span_days END) AS p50_days,
           min(CASE WHEN rn >= CAST(ceil(0.90 * n) AS BIGINT) THEN span_days END) AS p90_days,
           CAST(sum(CASE WHEN n_orders = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_single_order
    FROM ranked
    """,
    "customer lifespan: exact quantiles of first-to-last-order days, one-order share",
)
def orders_customer_lifespan(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    span = orders.groupBy("o_custkey").agg(
        F.datediff(
            F.max(F.col("o_orderdate").cast("date")),
            F.min(F.col("o_orderdate").cast("date")),
        ).alias("span_days"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    # customer-dimension table: global rank via distrank's two-phase
    # range-partitioned scan, not a single-task window (r4 verdict #5);
    # bit-identical to the oracle's bare row_number()
    from .distrank import with_global_rank

    ranked = with_global_rank(
        spark, span, [F.col("span_days"), F.col("o_custkey")], rn_col="rn", n_col="n"
    ).select("span_days", "n_orders", "rn", "n")

    def pick(p: float):
        pos = F.ceil(F.lit(p) * F.col("n")).cast("long")
        return F.min(F.when(F.col("rn") >= pos, F.col("span_days")))

    return ranked.agg(
        F.max("n").alias("n_customers"),
        pick(0.25).alias("p25_days"),
        pick(0.50).alias("p50_days"),
        pick(0.90).alias("p90_days"),
        F.sum(F.when(F.col("n_orders") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_single_order"),
    )


# ---------------------------------------------------------------------------
# Quality-gate dashboard by source — the curation report a feed owner
# reads: per source, keep rate and the failure count of EACH C4/Gopher
# rule (which gate is dropping this feed's documents). The per-doc rule
# SQL is nested live from text_quality_rules, so the gate and its
# dashboard can never disagree; the rollup is one source-keyed agg over
# boolean columns.
# ---------------------------------------------------------------------------
def _quality_rules_oracle() -> str:
    from . import textops as _t  # noqa: F401
    from ..plans.registry import REGISTRY

    return REGISTRY["text_quality_rules"].oracle_sql


@register(
    "text_quality_by_source",
    """
    WITH rules AS (
        SELECT doc_id, r_word_count, r_mean_len, r_stopword, r_repetition,
               r_numeric, keep
        FROM ({RULES})
    )
    SELECT d.source, count(*) AS n_docs,
           CAST(sum(CASE WHEN r.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           CAST(floor((CAST(sum(CASE WHEN r.keep THEN 1 ELSE 0 END) AS DOUBLE)
                      * 1000000.0 / count(*)) + 0.5) AS BIGINT) / 1000000.0 AS keep_rate,
           CAST(sum(CASE WHEN NOT r.r_word_count THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_word_count,
           CAST(sum(CASE WHEN NOT r.r_mean_len THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_mean_len,
           CAST(sum(CASE WHEN NOT r.r_stopword THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_stopword,
           CAST(sum(CASE WHEN NOT r.r_repetition THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_repetition,
           CAST(sum(CASE WHEN NOT r.r_numeric THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_numeric
    FROM rules r JOIN documents d ON r.doc_id = d.doc_id
    GROUP BY d.source
    ORDER BY d.source
    """.replace("{RULES}", _quality_rules_oracle()),
    "quality-gate dashboard: per-source keep rate + per-rule failure counts",
)
def text_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textops import text_quality_rules

    rules = text_quality_rules(spark, sf_dir).select(
        "doc_id", "r_word_count", "r_mean_len", "r_stopword", "r_repetition",
        "r_numeric", "keep",
    )
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")

    def fails(col: str):
        return F.sum(F.when(~F.col(col), 1).otherwise(0)).cast("long")

    agg = rules.join(docs, "doc_id").groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_keep"),
        fails("r_word_count").alias("fail_word_count"),
        fails("r_mean_len").alias("fail_mean_len"),
        fails("r_stopword").alias("fail_stopword"),
        fails("r_repetition").alias("fail_repetition"),
        fails("r_numeric").alias("fail_numeric"),
    )
    keep_rate = (
        fround(F.col("n_keep").cast("double") * F.lit(1000000.0) / F.col("n_docs")).cast("long")
        / F.lit(1000000.0)
    )
    return agg.select(
        "source",
        "n_docs",
        "n_keep",
        keep_rate.alias("keep_rate"),
        "fail_word_count",
        "fail_mean_len",
        "fail_stopword",
        "fail_repetition",
        "fail_numeric",
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Session entry/exit distribution — the "landing / exit page" report on
# the q15 session rule: which event types open and close sessions, with
# quantized shares. First/last per session come from min/max over the
# (us, event_id, type) total order encoded as a sortable struct — one
# agg per session, then a 5x5-bounded rollup.
# ---------------------------------------------------------------------------
@register(
    "events_session_transitions",
    f"""
    WITH ordered AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        FROM events
    ),
    marked AS (
        SELECT user_id, event_id, event_type, us,
               CASE WHEN prev_us IS NULL OR us - prev_us > {_GAP_US} THEN 1 ELSE 0 END AS is_new
        FROM ordered
    ),
    numbered AS (
        SELECT user_id, event_id, event_type, us,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        FROM marked
    ),
    sess AS (
        -- zero-padded (us, event_id) string key: sorts identically to
        -- the numeric tuple (both non-negative), and DuckDB's arg_min
        -- accepts VARCHAR keys where it rejects STRUCT keys
        SELECT user_id, session_idx,
               arg_min(event_type, lpad(CAST(us AS VARCHAR), 20, '0')
                                   || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS entry_type,
               arg_max(event_type, lpad(CAST(us AS VARCHAR), 20, '0')
                                   || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS exit_type
        FROM numbered GROUP BY user_id, session_idx
    ),
    ct AS (SELECT entry_type, exit_type, count(*) AS n FROM sess GROUP BY 1, 2),
    tot AS (SELECT sum(n) AS total FROM ct)
    SELECT c.entry_type, c.exit_type, c.n,
           CAST(floor((CAST(c.n AS DOUBLE) * 1000000.0 / t.total) + 0.5) AS BIGINT)
               / 1000000.0 AS share
    FROM ct c, tot t
    ORDER BY c.entry_type, c.exit_type
    """,
    "session entry/exit type matrix (landing-exit report) with quantized shares",
)
def events_session_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    wlag = Window.partitionBy("user_id").orderBy("us", "event_id")
    numbered = ev.withColumn(
        "is_new",
        F.when(
            F.lag("us").over(wlag).isNull()
            | (F.col("us") - F.lag("us").over(wlag) > _GAP_US),
            1,
        ).otherwise(0),
    ).withColumn(
        "session_idx",
        F.sum("is_new").over(wlag.rowsBetween(Window.unboundedPreceding, 0)),
    )
    key = F.struct("us", "event_id", "event_type")
    sess = numbered.groupBy("user_id", "session_idx").agg(
        F.min(key).getField("event_type").alias("entry_type"),
        F.max(key).getField("event_type").alias("exit_type"),
    )
    ct = sess.groupBy("entry_type", "exit_type").agg(
        F.count(F.lit(1)).alias("n")
    ).transform(pin)
    tot = ct.agg(F.sum("n").alias("total"))
    share = (
        fround(F.col("n").cast("double") * F.lit(1000000.0) / F.col("total")).cast("long")
        / F.lit(1000000.0)
    )
    return (
        ct.crossJoin(F.broadcast(tot))
        .select("entry_type", "exit_type", "n", share.alias("share"))
        .orderBy("entry_type", "exit_type")
    )


# ---------------------------------------------------------------------------
# Power-user concentration — the interpretable complement to the Gini
# coefficient: the event share held by the most-active 1% / 5% / 10% of
# users. Ranks ride the shared distrank two-phase path (never a
# single-task window over the user dimension); thresholds compare
# exact integers (rank*100 <= n*pct).
# ---------------------------------------------------------------------------
@register(
    "events_power_users_share",
    """
    WITH per_user AS (
        SELECT user_id, count(*) AS x FROM events GROUP BY user_id
    ),
    ranked AS (
        SELECT x, row_number() OVER (ORDER BY x DESC, user_id) AS rk,
               count(*) OVER () AS n, sum(x) OVER () AS total
        FROM per_user
    )
    SELECT max(n) AS n_users,
           CAST(max(total) AS BIGINT) AS n_events,
           CAST(floor((CAST(sum(CASE WHEN rk * 100 <= n * 1 THEN x ELSE 0 END) AS DOUBLE)
                      * 1000000.0 / max(total)) + 0.5) AS BIGINT) / 1000000.0 AS top1pct_share,
           CAST(floor((CAST(sum(CASE WHEN rk * 100 <= n * 5 THEN x ELSE 0 END) AS DOUBLE)
                      * 1000000.0 / max(total)) + 0.5) AS BIGINT) / 1000000.0 AS top5pct_share,
           CAST(floor((CAST(sum(CASE WHEN rk * 100 <= n * 10 THEN x ELSE 0 END) AS DOUBLE)
                      * 1000000.0 / max(total)) + 0.5) AS BIGINT) / 1000000.0 AS top10pct_share
    FROM ranked
    """,
    "power-user concentration: event share of the top 1/5/10% most-active users",
)
def events_power_users_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .distrank import with_global_rank

    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("x"))
    ranked = with_global_rank(
        spark,
        per_user,
        [(F.col("x"), False), F.col("user_id")],
        rn_col="rk",
        n_col="n",
    )
    tot = ranked.agg(F.sum("x").alias("total"))

    def top_share(pct: int):
        inside = F.sum(
            F.when(F.col("rk") * 100 <= F.col("n") * pct, F.col("x")).otherwise(0)
        )
        return (
            fround(inside.cast("double") * F.lit(1000000.0) / F.max("total")).cast("long")
            / F.lit(1000000.0)
        )

    return ranked.crossJoin(F.broadcast(tot)).agg(
        F.max("n").alias("n_users"),
        F.max("total").cast("long").alias("n_events"),
        top_share(1).alias("top1pct_share"),
        top_share(5).alias("top5pct_share"),
        top_share(10).alias("top10pct_share"),
    )


# ---------------------------------------------------------------------------
# Rolling 7-day conversion rate — q30's RANGE-frame machinery applied
# to the view->purchase ratio: daily counts roll up first (the window
# runs over the tiny day spine, not the event stream), then 7-day
# RANGE sums feed a quantized ratio.
# ---------------------------------------------------------------------------
@register(
    "events_rolling_conversion",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_views,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purch
        FROM events GROUP BY 1
    ),
    rolled AS (
        SELECT d,
               sum(n_views) OVER (ORDER BY d RANGE BETWEEN INTERVAL 6 DAY PRECEDING
                                  AND CURRENT ROW) AS v7,
               sum(n_purch) OVER (ORDER BY d RANGE BETWEEN INTERVAL 6 DAY PRECEDING
                                  AND CURRENT ROW) AS p7
        FROM daily
    )
    SELECT CAST(d AS VARCHAR) AS day,
           CAST(v7 AS BIGINT) AS views_7d, CAST(p7 AS BIGINT) AS purchases_7d,
           CAST(floor((CAST(p7 AS DOUBLE) * 1000000.0 / greatest(v7, 1)) + 0.5) AS BIGINT)
               / 1000000.0 AS conversion_7d
    FROM rolled
    ORDER BY d
    """,
    "rolling 7-day view->purchase conversion over the daily spine (RANGE frame)",
)
def events_rolling_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("n_views"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("n_purch"),
    )
    wroll = Window.orderBy(F.col("d").cast("timestamp").cast("long")).rangeBetween(
        -6 * 86400, 0
    )
    rolled = daily.select(
        "d",
        F.sum("n_views").over(wroll).alias("v7"),
        F.sum("n_purch").over(wroll).alias("p7"),
    )
    conv = (
        fround(
            F.col("p7").cast("double") * F.lit(1000000.0) / F.greatest(F.col("v7"), F.lit(1))
        ).cast("long")
        / F.lit(1000000.0)
    )
    return rolled.select(
        F.col("d").cast("string").alias("day"),
        F.col("v7").cast("long").alias("views_7d"),
        F.col("p7").cast("long").alias("purchases_7d"),
        conv.alias("conversion_7d"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Multimodal payload-size outliers — corrupted/truncated media
# detection: per kind, mean and population stddev of payload bytes
# from EXACT integer sums (bytes and bytes^2 fit BIGINT comfortably),
# then the count beyond +-3 sigma. The 3-sigma test cross-multiplies
# integers against the variance bound: |b - s1/n| > 3*sqrt((n*s2-s1^2)/n^2)
# squared and scaled by n^2 gives (b*n - s1)^2 > 9*(n*s2 - s1^2) —
# so no per-row float compare exists. Payload bytes never shuffle —
# only their per-kind moments do.
# ---------------------------------------------------------------------------
@register(
    "multimodal_size_outliers",
    """
    WITH bt AS (
        SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS kind,
               CAST(octet_length(encode(text)) AS BIGINT) AS b
        FROM documents
    ),
    s AS (
        SELECT kind, count(*) AS n, sum(b) AS s1, sum(b * b) AS s2
        FROM bt GROUP BY kind
    )
    SELECT bt.kind, max(s.n) AS n_payloads,
           CAST(floor((CAST(max(s.s1) AS DOUBLE) * 100.0 / max(s.n)) + 0.5) AS BIGINT)
               / 100.0 AS mean_bytes,
           CAST(sum(CASE WHEN CAST(bt.b * s.n - s.s1 AS HUGEINT)
                              * CAST(bt.b * s.n - s.s1 AS HUGEINT)
                              > CAST(9 AS HUGEINT)
                                * (CAST(s.n AS HUGEINT) * s.s2
                                   - CAST(s.s1 AS HUGEINT) * s.s1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM bt JOIN s ON bt.kind = s.kind
    GROUP BY bt.kind
    ORDER BY bt.kind
    """,
    "multimodal size outliers: +-3-sigma payload-byte test on exact integer moments",
)
def multimodal_size_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .multimodal import binary_table

    bt = binary_table(spark, sf_dir).select(
        "kind", F.octet_length("payload").cast("long").alias("b")
    )
    return size_outlier_stats(bt)


def size_outlier_stats(bt: DataFrame) -> DataFrame:
    """3-sigma payload-size fence over a (kind, b) DataFrame — factored
    out so the integer cross-multiplied inequality is unit-testable on a
    synthetic planted outlier (the fixture corpora have none)."""
    bt = pin(bt)  # feeds the moment agg AND the outlier scan
    s = bt.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("b").alias("s1"),
        F.sum(F.col("b") * F.col("b")).alias("s2"),
    )
    # 128-bit compare (HUGEINT / decimal(38,0)): dev^2 outgrows BIGINT
    # once byte counts x group sizes pass ~10^9, long before real media
    # corpora do
    dev = (F.col("b") * F.col("n") - F.col("s1")).cast("decimal(38,0)")
    bound = F.lit(9).cast("decimal(38,0)") * (
        F.col("n").cast("decimal(38,0)") * F.col("s2")
        - F.col("s1").cast("decimal(38,0)") * F.col("s1")
    )
    mean_b = (
        fround(F.max("s1").cast("double") * F.lit(100.0) / F.max("n")).cast("long")
        / F.lit(100.0)
    )
    return (
        bt.join(F.broadcast(s), "kind")
        .groupBy("kind")
        .agg(
            F.max("n").alias("n_payloads"),
            mean_b.alias("mean_bytes"),
            F.sum(F.when(dev * dev > bound, 1).otherwise(0)).cast("long").alias("n_outliers"),
        )
        .orderBy("kind")
    )


# ---------------------------------------------------------------------------
# Norm separability (one-way ANOVA F) — does vector magnitude alone
# separate the labels? Between/within variance ratio over per-vector
# norms. Norms are irrational, so each quantizes to a 1e6-scaled
# BIGINT first; every subsequent sum is an integer sum and the F
# statistic is one pinned double expression over exact group moments.
# ---------------------------------------------------------------------------
@register(
    "emb_norm_anova",
    """
    WITH raw AS (
        SELECT vec_id, label,
               CAST(floor((sqrt(list_sum([embedding[i]::DOUBLE * embedding[i]::DOUBLE
                                         for i in range(1, len(embedding) + 1)]))
                          * 1000000.0) + 0.5) AS BIGINT) AS n6
        FROM embeddings
    ),
    g AS (SELECT label, count(*) AS n,
                 sum(CAST(n6 AS HUGEINT)) AS s1,
                 sum(CAST(n6 AS HUGEINT) * n6) AS s2
          FROM raw GROUP BY label),
    tot AS (
        SELECT count(*) AS k, CAST(sum(n) AS BIGINT) AS n_all, sum(s1) AS s1_all,
               sum(CAST(floor((CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) + 0.5) AS HUGEINT))
                   AS ssb_part,
               sum(s2) AS s2_all
        FROM g
    )
    SELECT k AS n_labels, n_all AS n_vecs,
           floor(((CAST(ssb_part AS DOUBLE) - CAST(s1_all AS DOUBLE) * s1_all / n_all)
                 / (k - 1)
                 / ((CAST(s2_all AS DOUBLE) - ssb_part) / (n_all - k))) * 1e4 + 0.5) / 1e4 AS f_stat
    FROM tot
    """,
    "one-way ANOVA F of vector norms across labels (quantized-integer moments)",
)
def emb_norm_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    n6 = fround(
        F.sqrt(
            F.expr(
                "aggregate(embedding, cast(0.0 as double),"
                " (acc, x) -> acc + cast(x as double) * cast(x as double))"
            )
        )
        * F.lit(1000000.0)
    ).cast("long")
    raw = emb.select("label", n6.alias("n6"))
    # 128-bit sums (decimal(38,0) / HUGEINT): a 10^6-magnitude vector's
    # quantized norm is ~10^12 and its square overflows BIGINT
    n6d = F.col("n6").cast("decimal(38,0)")
    g = raw.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(n6d).alias("s1"),
        F.sum(n6d * F.col("n6")).alias("s2"),
    )
    ssb_part_term = fround(
        F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n")
    ).cast("decimal(38,0)")
    tot = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("n_all"),
        F.sum("s1").alias("s1_all"),
        F.sum(ssb_part_term).alias("ssb_part"),
        F.sum("s2").alias("s2_all"),
    )
    f_stat = fround(
        (
            F.col("ssb_part").cast("double")
            - F.col("s1_all").cast("double") * F.col("s1_all") / F.col("n_all")
        )
        / (F.col("k") - 1)
        / (
            (F.col("s2_all").cast("double") - F.col("ssb_part"))
            / (F.col("n_all") - F.col("k"))
        ),
        4,
    )
    return tot.select(
        F.col("k").alias("n_labels"),
        F.col("n_all").alias("n_vecs"),
        f_stat.alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# IQR (Tukey-fence) anomaly days — the robust monitor sibling of the
# z-score (q34), MAD (q39), and CUSUM (events_cusum_daily) detectors:
# daily event counts vs the 1.5xIQR fences. Quartiles are positional
# picks over the tiny day spine; the fence compare cross-multiplies
# integers (4*count vs 4*q3 + 6*(q3-q1)) so no float appears anywhere.
# ---------------------------------------------------------------------------
@register(
    "events_anomaly_iqr",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, count(*) AS n FROM events GROUP BY 1
    ),
    ranked AS (
        SELECT d, n,
               row_number() OVER (ORDER BY n, d) AS rn,
               count(*) OVER () AS cnt
        FROM daily
    ),
    q AS (
        SELECT min(CASE WHEN rn >= CAST(ceil(0.25 * cnt) AS BIGINT) THEN n END) AS q1,
               min(CASE WHEN rn >= CAST(ceil(0.75 * cnt) AS BIGINT) THEN n END) AS q3
        FROM ranked
    )
    SELECT CAST(daily.d AS VARCHAR) AS day, daily.n, q.q1, q.q3,
           CASE WHEN 2 * daily.n > 2 * q.q3 + 3 * (q.q3 - q.q1)
                  OR 2 * daily.n < 2 * q.q1 - 3 * (q.q3 - q.q1)
                THEN 1 ELSE 0 END AS is_anomaly
    FROM daily, q
    ORDER BY daily.d
    """,
    "Tukey-fence anomaly days: daily counts vs 1.5xIQR, integer-only compare",
)
def events_anomaly_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    ).transform(pin)  # feeds the quartiles AND the output
    wr = Window.orderBy("n", "d")
    ranked = daily.select(
        "n",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("cnt"),
    )

    def pick(p: float):
        pos = F.ceil(F.lit(p) * F.col("cnt")).cast("long")
        return F.min(F.when(F.col("rn") >= pos, F.col("n")))

    q = ranked.agg(pick(0.25).alias("q1"), pick(0.75).alias("q3"))
    iqr = F.col("q3") - F.col("q1")
    flag = F.when(
        (2 * F.col("n") > 2 * F.col("q3") + 3 * iqr)
        | (2 * F.col("n") < 2 * F.col("q1") - 3 * iqr),
        1,
    ).otherwise(0)
    return (
        daily.crossJoin(F.broadcast(q))
        .select(
            F.col("d").cast("string").alias("day"),
            "n",
            "q1",
            "q3",
            flag.alias("is_anomaly"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Shard balance audit — did the salted-hash sharding actually balance?
# Consumes shard_assign's live SQL and reports per-shard doc and token
# counts plus the max/min imbalance ratio as a single card (the thing
# an operator checks before kicking off a 1000-worker training read).
# ---------------------------------------------------------------------------
def _shard_oracle() -> str:
    from . import textops as _t  # noqa: F401
    from ..plans.registry import REGISTRY

    return REGISTRY["shard_assign"].oracle_sql


@register(
    "corpus_shard_balance",
    """
    WITH assign AS (SELECT doc_id, shard FROM ({SHARDS})),
    per AS (
        SELECT a.shard, count(*) AS n_docs,
               CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS n_tokens
        FROM assign a JOIN documents d ON a.doc_id = d.doc_id
        GROUP BY a.shard
    ),
    spread AS (
        SELECT count(*) AS n_shards,
               min(n_docs) AS min_docs, max(n_docs) AS max_docs,
               min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
        FROM per
    )
    SELECT n_shards, min_docs, max_docs, min_tokens, max_tokens,
           CAST(floor((CAST(max_tokens AS DOUBLE) * 10000.0
                      / greatest(min_tokens, 1)) + 0.5) AS BIGINT) / 10000.0
               AS token_imbalance
    FROM spread
    """.replace("{SHARDS}", _shard_oracle()),
    "shard balance audit: per-shard doc/token spread + imbalance ratio (live shard SQL)",
)
def corpus_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textops import shard_assign

    assign = shard_assign(spark, sf_dir).select("doc_id", "shard")
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tok")
    )
    per = (
        assign.join(docs, "doc_id")
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
    )
    spread = per.agg(
        F.count(F.lit(1)).alias("n_shards"),
        F.min("n_docs").alias("min_docs"),
        F.max("n_docs").alias("max_docs"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )
    imb = (
        fround(
            F.col("max_tokens").cast("double")
            * F.lit(10000.0)
            / F.greatest(F.col("min_tokens"), F.lit(1))
        ).cast("long")
        / F.lit(10000.0)
    )
    return spread.select(
        "n_shards",
        "min_docs",
        "max_docs",
        "min_tokens",
        "max_tokens",
        imb.alias("token_imbalance"),
    )


# ---------------------------------------------------------------------------
# First-week activation rate — the growth-funnel north-star: share of
# users who reach >= 3 events within 7 days of their first event.
# Per-user first-timestamp is one hash agg; the activation count is a
# second agg over a self-join-free filtered pass (events join their
# user's first_us via broadcastable per-user table).
# ---------------------------------------------------------------------------
ACTIVATION_EVENTS = 3
ACTIVATION_WINDOW_US = 7 * 24 * 3600 * 1_000_000


@register(
    "events_activation_rate",
    f"""
    WITH firstseen AS (
        SELECT user_id, min(epoch_us(ts)) AS first_us FROM events GROUP BY user_id
    ),
    in_window AS (
        SELECT e.user_id, count(*) AS n_w
        FROM events e JOIN firstseen f ON e.user_id = f.user_id
        WHERE epoch_us(e.ts) - f.first_us <= {ACTIVATION_WINDOW_US}
        GROUP BY e.user_id
    )
    SELECT count(*) AS n_users,
           CAST(sum(CASE WHEN n_w >= {ACTIVATION_EVENTS} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_activated,
           CAST(floor((CAST(sum(CASE WHEN n_w >= {ACTIVATION_EVENTS} THEN 1 ELSE 0 END)
                           AS DOUBLE) * 1000000.0 / count(*)) + 0.5) AS BIGINT)
               / 1000000.0 AS activation_rate
    FROM in_window
    """,
    "first-week activation: share of users with >= 3 events within 7 days of first touch",
)
def events_activation_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    firstseen = ev.groupBy("user_id").agg(F.min("us").alias("first_us"))
    in_window = (
        ev.join(firstseen, "user_id")
        .filter(F.col("us") - F.col("first_us") <= ACTIVATION_WINDOW_US)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    activated = F.sum(
        F.when(F.col("n_w") >= ACTIVATION_EVENTS, 1).otherwise(0)
    ).cast("long")
    rate = (
        fround(activated.cast("double") * F.lit(1000000.0) / F.count(F.lit(1))).cast("long")
        / F.lit(1000000.0)
    )
    return in_window.agg(
        F.count(F.lit(1)).alias("n_users"),
        activated.alias("n_activated"),
        rate.alias("activation_rate"),
    )


# ---------------------------------------------------------------------------
# Nation revenue growth — YoY growth per customer nation: the star join
# (orders -> customer -> nation, both dims broadcast) feeds a yearly
# cents rollup; growth is a lag over the tiny (nation x year) grid with
# the quantized-ratio discipline.
# ---------------------------------------------------------------------------
@register(
    "orders_nation_growth",
    """
    WITH yearly AS (
        SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS yr,
               sum(CAST(floor((o.o_totalprice * 100.0) + 0.5) AS BIGINT)) AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name, year(o.o_orderdate)
    ),
    lagged AS (
        SELECT nation, yr, cents,
               lag(cents) OVER (PARTITION BY nation ORDER BY yr) AS prev_cents
        FROM yearly
    )
    SELECT nation, yr, floor((cents / 100.0) * 1e2 + 0.5) / 1e2 AS revenue,
           CASE WHEN prev_cents > 0
                THEN CAST(floor(((CAST(cents AS DOUBLE) - prev_cents) * 1000000.0
                                / prev_cents) + 0.5) AS BIGINT) / 1000000.0
                END AS yoy_growth
    FROM lagged
    ORDER BY nation, yr
    """,
    "YoY revenue growth per customer nation (broadcast star join, quantized ratio)",
)
def orders_nation_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    yearly = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("yr"),
        )
        .agg(F.sum(fround(F.col("o_totalprice") * 100.0).cast("long")).alias("cents"))
    )
    wl = Window.partitionBy("nation").orderBy("yr")
    lagged = yearly.withColumn("prev_cents", F.lag("cents").over(wl))
    growth = F.when(
        F.col("prev_cents") > 0,
        fround(
            (F.col("cents").cast("double") - F.col("prev_cents"))
            * F.lit(1000000.0)
            / F.col("prev_cents")
        ).cast("long")
        / F.lit(1000000.0),
    )
    return lagged.select(
        "nation",
        "yr",
        fround(F.col("cents") / F.lit(100.0), 2).alias("revenue"),
        growth.alias("yoy_growth"),
    ).orderBy("nation", "yr")


# ---------------------------------------------------------------------------
# Per-user value deciles — the monetization distribution table: users
# decile-ranked by lifetime event value (distrank two-phase rank +
# exact ntile formula; the oracle uses plain ntile(10)), with each
# decile's user count, total cents, and share of all value.
# ---------------------------------------------------------------------------
@register(
    "events_value_deciles",
    """
    WITH per_user AS (
        SELECT user_id,
               sum(CAST(floor((value * 100.0) + 0.5) AS BIGINT)) AS cents
        FROM events WHERE value IS NOT NULL GROUP BY user_id
    ),
    classed AS (
        SELECT cents,
               ntile(10) OVER (ORDER BY cents, user_id) AS decile
        FROM per_user
    ),
    tot AS (SELECT sum(cents) AS total FROM per_user)
    SELECT c.decile, count(*) AS n_users,
           CAST(sum(c.cents) AS BIGINT) AS decile_cents,
           CAST(floor((CAST(sum(c.cents) AS DOUBLE) * 1000000.0 / t.total) + 0.5) AS BIGINT)
               / 1000000.0 AS value_share
    FROM classed c, tot t
    GROUP BY c.decile, t.total
    ORDER BY c.decile
    """,
    "per-user lifetime-value deciles via distrank + exact ntile, with value shares",
)
def events_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .distrank import ntile_expr, with_global_rank

    ev = table(spark, sf_dir, "events")
    per_user = (
        ev.filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(F.sum(fround(F.col("value") * 100.0).cast("long")).alias("cents"))
    )
    ranked = with_global_rank(
        spark, per_user, [F.col("cents"), F.col("user_id")], rn_col="rn", n_col="n"
    )
    classed = ranked.select(
        "cents", ntile_expr("rn", "n", 10).cast("int").alias("decile")
    )
    tot = per_user.agg(F.sum("cents").alias("total"))
    share = (
        fround(F.sum("cents").cast("double") * F.lit(1000000.0) / F.max("total")).cast("long")
        / F.lit(1000000.0)
    )
    return (
        classed.crossJoin(F.broadcast(tot))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("cents").cast("long").alias("decile_cents"),
            share.alias("value_share"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Rolling 7-day LOWER-median revenue — a robust rolling trend (median
# shrugs off the single-day spikes that wreck a rolling mean). Both
# engines build the 7-row window as an ARRAY, sort it, and take the
# lower median (position ceil(n/2)) — sidestepping engine-specific
# even-count interpolation entirely. The window runs over the tiny
# daily spine.
# ---------------------------------------------------------------------------
@register(
    "orders_rolling_median",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               sum(CAST(floor((o_totalprice * 100.0) + 0.5) AS BIGINT)) AS cents
        FROM orders GROUP BY 1
    ),
    windowed AS (
        SELECT d, cents,
               list(cents) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                   AS win
        FROM daily
    )
    SELECT CAST(d AS VARCHAR) AS day,
           floor((cents / 100.0) * 1e2 + 0.5) / 1e2 AS revenue,
           floor((list_sort(win)[CAST(ceil(len(win) / 2.0) AS INTEGER)] / 100.0) * 1e2 + 0.5) / 1e2
               AS median7_revenue
    FROM windowed
    ORDER BY d
    """,
    "rolling 7-day lower-median revenue via sorted window arrays (no interpolation)",
)
def orders_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(fround(F.col("o_totalprice") * 100.0).cast("long")).alias("cents")
    )
    ww = Window.orderBy("d").rowsBetween(-6, 0)
    windowed = daily.withColumn("win", F.collect_list("cents").over(ww))
    med = F.expr(
        "element_at(array_sort(win), cast(ceil(size(win) / 2.0) as int))"
    )
    return windowed.select(
        F.col("d").cast("string").alias("day"),
        fround(F.col("cents") / F.lit(100.0), 2).alias("revenue"),
        fround(med / F.lit(100.0), 2).alias("median7_revenue"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Leave-one-out peer comparison — each order's price against its
# priority class's average EXCLUDING itself ((sum - x)/(n - 1), the
# unbiased peer baseline): the classic self-excluding window pattern.
# Group sums are exact integer cents; the deviation ratio quantizes.
# Output keeps the 3 most above-peer orders per priority
# (TakeOrderedAndProject semantics via per-group rank). The oracle
# states both steps as naive per-priority windows; the Spark side
# replaces them with scale-safe equivalents — the unordered sum/count
# window becomes a 5-row hash aggregate broadcast back onto the fact
# (no per-group shuffle at all), and the top-3 rank goes through the
# grouped two-phase scan (distrank.with_grouped_rank). Both are
# value-identical, so the oracle hash-matches unchanged.
# ---------------------------------------------------------------------------
@register(
    "q55_loo_avg",
    """
    WITH g AS (
        SELECT o_orderpriority AS pri, o_orderkey,
               CAST(floor((o_totalprice * 100.0) + 0.5) AS BIGINT) AS cents,
               sum(CAST(floor((o_totalprice * 100.0) + 0.5) AS BIGINT))
                   OVER (PARTITION BY o_orderpriority) AS s,
               count(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM orders
    ),
    scored AS (
        SELECT pri, o_orderkey, cents,
               CAST(floor(((CAST(s - cents AS DOUBLE) / (n - 1))) + 0.5) AS BIGINT) AS peer_cents,
               CAST(floor((CAST(cents AS DOUBLE) * (n - 1) * 1000000.0
                          / (CAST(s AS DOUBLE) - cents)) + 0.5) AS BIGINT) / 1000000.0
                   AS ratio_vs_peers
        FROM g WHERE n > 1
    )
    SELECT pri AS o_orderpriority, o_orderkey,
           floor((cents / 100.0) * 1e2 + 0.5) / 1e2 AS totalprice,
           floor((peer_cents / 100.0) * 1e2 + 0.5) / 1e2 AS peer_avg,
           ratio_vs_peers
    FROM (SELECT *, row_number() OVER (PARTITION BY pri
                                       ORDER BY ratio_vs_peers DESC, o_orderkey) AS rk
          FROM scored)
    WHERE rk <= 3
    ORDER BY o_orderpriority, ratio_vs_peers DESC, o_orderkey
    """,
    "leave-one-out peer baseline: top orders vs their priority's self-excluding average",
)
def q55_loo_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    g0 = orders.select(
        F.col("o_orderpriority").alias("pri"),
        "o_orderkey",
        fround(F.col("o_totalprice") * 100.0).cast("long").alias("cents"),
    )
    tot = g0.groupBy("pri").agg(
        F.sum("cents").alias("s"), F.count(F.lit(1)).alias("n")
    )
    g = g0.join(F.broadcast(tot), "pri")
    peer_cents = fround(
        (F.col("s") - F.col("cents")).cast("double") / (F.col("n") - 1)
    ).cast("long")
    ratio = (
        fround(
            F.col("cents").cast("double")
            * (F.col("n") - 1)
            * F.lit(1000000.0)
            / (F.col("s").cast("double") - F.col("cents"))
        ).cast("long")
        / F.lit(1000000.0)
    )
    scored = g.filter(F.col("n") > 1).select(
        "pri",
        "o_orderkey",
        "cents",
        peer_cents.alias("peer_cents"),
        ratio.alias("ratio_vs_peers"),
    )
    return (
        with_grouped_rank(
            spark,
            scored,
            ["pri"],
            [(F.col("ratio_vs_peers"), False), F.col("o_orderkey")],
            rn_col="rk",
        )
        .filter(F.col("rk") <= 3)
        .select(
            F.col("pri").alias("o_orderpriority"),
            "o_orderkey",
            fround(F.col("cents") / F.lit(100.0), 2).alias("totalprice"),
            fround(F.col("peer_cents") / F.lit(100.0), 2).alias("peer_avg"),
            "ratio_vs_peers",
        )
        .orderBy("o_orderpriority", F.col("ratio_vs_peers").desc(), "o_orderkey")
    )


# ---------------------------------------------------------------------------
# Token-length histogram — the tokenizer diagnostic (length
# distribution drives BPE vocab sizing and fertility estimates):
# corpus-wide counts per character length, share quantized. The
# explode collapses immediately into a ~20-key hash agg.
# ---------------------------------------------------------------------------
@register(
    "text_token_len_hist",
    """
    WITH toks AS (
        SELECT length(unnest(string_split(text, ' '))) AS len
        FROM documents
    ),
    ct AS (SELECT len, count(*) AS n FROM toks WHERE len > 0 GROUP BY len),
    tot AS (SELECT sum(n) AS total FROM ct)
    SELECT c.len AS token_len, c.n,
           CAST(floor((CAST(c.n AS DOUBLE) * 1000000.0 / t.total) + 0.5) AS BIGINT)
               / 1000000.0 AS share
    FROM ct c, tot t
    ORDER BY c.len
    """,
    "token character-length histogram with quantized shares (tokenizer sizing input)",
)
def text_token_len_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    ct = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .select(F.length("w").alias("token_len"))
        .filter(F.col("token_len") > 0)
        .groupBy("token_len")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(pin)
    )
    tot = ct.agg(F.sum("n").alias("total"))
    share = (
        fround(F.col("n").cast("double") * F.lit(1000000.0) / F.col("total")).cast("long")
        / F.lit(1000000.0)
    )
    return (
        ct.crossJoin(F.broadcast(tot))
        .select("token_len", "n", share.alias("share"))
        .orderBy("token_len")
    )


# ---------------------------------------------------------------------------
# Day-of-week revenue index — orders_seasonality_index's weekly
# sibling: each ISO weekday's revenue vs the all-days mean (10000 =
# average day). Integer cents; quantize-then-divide.
# ---------------------------------------------------------------------------
@register(
    "orders_dow_index",
    """
    WITH dow AS (
        SELECT isodow(CAST(o_orderdate AS DATE)) AS d,
               count(*) AS n_orders,
               CAST(sum(CAST(floor((o_totalprice * 100.0) + 0.5) AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    tot AS (SELECT sum(cents) AS all_cents, count(*) AS n_days FROM dow)
    SELECT CAST(dow.d AS BIGINT) AS dow, dow.n_orders, dow.cents,
           CAST(floor((CAST(dow.cents AS DOUBLE) * t.n_days * 10000.0 / t.all_cents) + 0.5)
                AS BIGINT) / 10000.0 AS dow_index
    FROM dow, tot t
    ORDER BY dow
    """,
    "ISO day-of-week revenue indices vs the weekly mean, integer cents",
)
def orders_dow_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    dow = ((F.dayofweek(F.col("o_orderdate").cast("date")) + 5) % 7 + 1).cast("long")
    per = orders.groupBy(dow.alias("dow")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(fround(F.col("o_totalprice") * 100.0).cast("long")).alias("cents"),
    )
    tot = per.agg(F.sum("cents").alias("all_cents"), F.count(F.lit(1)).alias("n_days"))
    idx = (
        fround(
            F.col("cents").cast("double")
            * F.col("n_days")
            * F.lit(10000.0)
            / F.col("all_cents")
        ).cast("long")
        / F.lit(10000.0)
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select("dow", "n_orders", "cents", idx.alias("dow_index"))
        .orderBy("dow")
    )


# ---------------------------------------------------------------------------
# Conversion by landing type — which session ENTRY event converts:
# per entry type, the share of sessions that contain a purchase before
# they end. Reuses the q15 session machinery and the padded-key
# arg_min from events_session_transitions; the purchase flag is a
# per-session max, the rollup a 5-key agg.
# ---------------------------------------------------------------------------
@register(
    "events_conversion_by_entry",
    f"""
    WITH ordered AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        FROM events
    ),
    marked AS (
        SELECT user_id, event_id, event_type, us,
               CASE WHEN prev_us IS NULL OR us - prev_us > {_GAP_US} THEN 1 ELSE 0 END AS is_new
        FROM ordered
    ),
    numbered AS (
        SELECT user_id, event_id, event_type, us,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        FROM marked
    ),
    sess AS (
        SELECT user_id, session_idx,
               arg_min(event_type, lpad(CAST(us AS VARCHAR), 20, '0')
                                   || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS entry_type,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
        FROM numbered GROUP BY user_id, session_idx
    )
    SELECT entry_type, count(*) AS n_sessions,
           CAST(sum(converted) AS BIGINT) AS n_converted,
           CAST(floor((CAST(sum(converted) AS DOUBLE) * 1000000.0 / count(*)) + 0.5) AS BIGINT)
               / 1000000.0 AS conversion_rate
    FROM sess
    GROUP BY entry_type
    ORDER BY entry_type
    """,
    "conversion by landing type: purchase share of sessions per entry event",
)
def events_conversion_by_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    wlag = Window.partitionBy("user_id").orderBy("us", "event_id")
    numbered = ev.withColumn(
        "is_new",
        F.when(
            F.lag("us").over(wlag).isNull()
            | (F.col("us") - F.lag("us").over(wlag) > _GAP_US),
            1,
        ).otherwise(0),
    ).withColumn(
        "session_idx",
        F.sum("is_new").over(wlag.rowsBetween(Window.unboundedPreceding, 0)),
    )
    key = F.struct("us", "event_id", "event_type")
    sess = numbered.groupBy("user_id", "session_idx").agg(
        F.min(key).getField("event_type").alias("entry_type"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "converted"
        ),
    )
    rate = (
        fround(
            F.sum("converted").cast("double") * F.lit(1000000.0) / F.count(F.lit(1))
        ).cast("long")
        / F.lit(1000000.0)
    )
    return (
        sess.groupBy("entry_type")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("converted").cast("long").alias("n_converted"),
            rate.alias("conversion_rate"),
        )
        .orderBy("entry_type")
    )


# ---------------------------------------------------------------------------
# Priority mix trend — monthly composition of order priorities (mix
# shift is the slow-burn drift rate-based monitors miss): per (month,
# priority) counts with quantized within-month shares. One hash agg on
# a months x 5 domain.
# ---------------------------------------------------------------------------
@register(
    "orders_priority_mix_trend",
    """
    WITH m AS (
        SELECT CAST(strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS VARCHAR) AS month,
               o_orderpriority AS pri, count(*) AS n
        FROM orders GROUP BY 1, 2
    ),
    tot AS (SELECT month, sum(n) AS mn FROM m GROUP BY month)
    SELECT m.month, m.pri, m.n,
           CAST(floor((CAST(m.n AS DOUBLE) * 1000000.0 / t.mn) + 0.5) AS BIGINT)
               / 1000000.0 AS share
    FROM m JOIN tot t ON m.month = t.month
    ORDER BY m.month, m.pri
    """,
    "monthly order-priority mix with within-month shares (composition drift)",
)
def orders_priority_mix_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM").alias("month"),
        F.col("o_orderpriority").alias("pri"),
    ).agg(F.count(F.lit(1)).alias("n")).transform(pin)
    tot = m.groupBy("month").agg(F.sum("n").alias("mn"))
    share = (
        fround(F.col("n").cast("double") * F.lit(1000000.0) / F.col("mn")).cast("long")
        / F.lit(1000000.0)
    )
    return (
        m.join(F.broadcast(tot), "month")
        .select("month", "pri", "n", share.alias("share"))
        .orderBy("month", "pri")
    )


# ---------------------------------------------------------------------------
# Length quartiles per language — the per-group distribution card
# (q46's positional-pick mechanism partitioned by lang). The oracle
# states the naive per-lang rank window; the Spark side computes the
# identical quartiles by counting sort over the BOUNDED (lang,
# n_chars) domain — distinct character counts are capped by the
# longest document, not the corpus row count, so the cumulative
# window runs over a domain-sized set while the fact table is touched
# by exactly one partial+final hash agg (orders_ship_latency's
# recipe). The oracle's doc_id tiebreak is irrelevant to the picked
# values: positional picks read only n_chars, which is constant
# across tied rows.
# ---------------------------------------------------------------------------
@register(
    "text_len_quartiles_by_lang",
    """
    WITH ranked AS (
        SELECT lang, n_chars,
               row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
               count(*) OVER (PARTITION BY lang) AS n
        FROM documents
    )
    SELECT lang, max(n) AS n_docs,
           min(CASE WHEN rn >= CAST(ceil(0.25 * n) AS BIGINT) THEN n_chars END) AS p25_chars,
           min(CASE WHEN rn >= CAST(ceil(0.50 * n) AS BIGINT) THEN n_chars END) AS p50_chars,
           min(CASE WHEN rn >= CAST(ceil(0.75 * n) AS BIGINT) THEN n_chars END) AS p75_chars
    FROM ranked
    GROUP BY lang
    ORDER BY lang
    """,
    "per-language document-length quartiles (positional pick, partition-local ranks)",
)
def text_len_quartiles_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    cnt = docs.groupBy("lang", "n_chars").agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        Window.partitionBy("lang")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy("lang")
    r = cnt.select(
        "lang",
        "n_chars",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wn).alias("n"),
    )

    def pick(p: float):
        pos = F.ceil(F.lit(p) * F.col("n")).cast("long")
        return F.min(F.when(F.col("cum") >= pos, F.col("n_chars")))

    return (
        r.groupBy("lang")
        .agg(
            F.max("n").alias("n_docs"),
            pick(0.25).alias("p25_chars"),
            pick(0.50).alias("p50_chars"),
            pick(0.75).alias("p75_chars"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Log2 value histogram — order-of-magnitude event-value distribution
# via the bin() trick: bucket = len(bin(cents)) - 1 is EXACTLY
# floor(log2(cents)) computed with pure string/integer builtins, so no
# cross-engine libm floor(log(x)/log(2)) boundary can flip a bucket.
# ---------------------------------------------------------------------------
@register(
    "events_value_log_hist",
    """
    WITH v AS (
        SELECT CAST(floor((value * 100.0) + 0.5) AS BIGINT) AS cents
        FROM events WHERE value IS NOT NULL AND value > 0
    ),
    b AS (SELECT length(bin(cents)) - 1 AS bucket FROM v),
    ct AS (SELECT bucket, count(*) AS n FROM b GROUP BY bucket),
    tot AS (SELECT sum(n) AS total FROM ct)
    SELECT CAST(c.bucket AS BIGINT) AS log2_bucket, c.n,
           CAST(floor((CAST(c.n AS DOUBLE) * 1000000.0 / t.total) + 0.5) AS BIGINT)
               / 1000000.0 AS share
    FROM ct c, tot t
    ORDER BY log2_bucket
    """,
    "order-of-magnitude value histogram: exact floor(log2) buckets via bin-string length",
)
def events_value_log_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    cents = fround(F.col("value") * 100.0).cast("long")
    v = ev.filter(F.col("value").isNotNull() & (F.col("value") > 0)).select(
        cents.alias("cents")
    )
    bucket = (F.length(F.bin("cents")) - 1).cast("long")
    ct = v.select(bucket.alias("log2_bucket")).groupBy("log2_bucket").agg(
        F.count(F.lit(1)).alias("n")
    ).transform(pin)
    tot = ct.agg(F.sum("n").alias("total"))
    share = (
        fround(F.col("n").cast("double") * F.lit(1000000.0) / F.col("total")).cast("long")
        / F.lit(1000000.0)
    )
    return (
        ct.crossJoin(F.broadcast(tot))
        .select("log2_bucket", "n", share.alias("share"))
        .orderBy("log2_bucket")
    )


# ---------------------------------------------------------------------------
# First-order value vs lifetime value — does the first basket predict
# the customer? Pearson r over (first-order cents, total cents) per
# customer, from EXACT 128-bit integer moments (HUGEINT /
# decimal(38,0) — cents products overflow BIGINT beyond ~10^9
# customers) with one pinned double expression at the end. First-order
# pick uses the padded-key arg_min (ties broken by orderkey).
# ---------------------------------------------------------------------------
@register(
    "orders_first_vs_ltv_corr",
    """
    WITH per_cust AS (
        SELECT o_custkey,
               arg_min(CAST(floor((o_totalprice * 100.0) + 0.5) AS BIGINT),
                       lpad(CAST(epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS VARCHAR), 20, '0')
                       || lpad(CAST(o_orderkey AS VARCHAR), 12, '0')) AS first_cents,
               sum(CAST(floor((o_totalprice * 100.0) + 0.5) AS BIGINT)) AS ltv_cents
        FROM orders GROUP BY o_custkey
    ),
    s AS (
        SELECT count(*) AS n,
               sum(CAST(first_cents AS HUGEINT)) AS sx,
               sum(CAST(ltv_cents AS HUGEINT)) AS sy,
               sum(CAST(first_cents AS HUGEINT) * first_cents) AS sxx,
               sum(CAST(ltv_cents AS HUGEINT) * ltv_cents) AS syy,
               sum(CAST(first_cents AS HUGEINT) * ltv_cents) AS sxy
        FROM per_cust
    )
    SELECT n AS n_customers,
           floor(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))) * 1e4 + 0.5) / 1e4
               AS pearson_r
    FROM s
    """,
    "Pearson r of first-order value vs customer lifetime value (128-bit exact moments)",
)
def orders_first_vs_ltv_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cents = fround(F.col("o_totalprice") * 100.0).cast("long")
    key = F.struct(
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("us"),
        F.col("o_orderkey").alias("ok"),
        cents.alias("c"),
    )
    per_cust = orders.groupBy("o_custkey").agg(
        F.min(key).getField("c").alias("first_cents"),
        F.sum(cents).alias("ltv_cents"),
    )
    fx = F.col("first_cents").cast("decimal(38,0)")
    fy = F.col("ltv_cents").cast("decimal(38,0)")
    s = per_cust.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(fx).alias("sx"),
        F.sum(fy).alias("sy"),
        F.sum(fx * F.col("first_cents")).alias("sxx"),
        F.sum(fy * F.col("ltv_cents")).alias("syy"),
        F.sum(fx * F.col("ltv_cents")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    r = fround(
        (nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double"))
        / F.sqrt(
            (nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double"))
            * (nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double"))
        ),
        4,
    )
    return s.select(F.col("n").alias("n_customers"), r.alias("pearson_r"))


# ---------------------------------------------------------------------------
# Inter-event gap histogram on a log2 scale: the arrival-process
# fingerprint (bot traffic spikes the short buckets, organic sessions
# spread the middle, churned-user returns fill the long tail). The
# log2 bucket needs NO transcendental: for an integer gap in seconds,
# floor(log2(gap)) == length(bin(gap)) - 1, and bin() (integer ->
# binary string) is exact on both engines — so the whole query is
# integer arithmetic end-to-end, no libm anywhere. Shape: a
# per-user lag window over the fact table (same partitioning as
# events_session_stats), then a ~40-bucket hash agg.
# ---------------------------------------------------------------------------
@register(
    "events_gap_histogram",
    """
    WITH g AS (
        SELECT (epoch_us(ts)
                - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id))
               // 1000000 AS gap_s
        FROM events
    )
    SELECT CAST(length(bin(gap_s)) - 1 AS BIGINT) AS bucket,
           count(*) AS n_gaps,
           CAST(min(gap_s) AS BIGINT) AS min_gap_s,
           CAST(max(gap_s) AS BIGINT) AS max_gap_s
    FROM g
    WHERE gap_s IS NOT NULL
    GROUP BY bucket
    ORDER BY bucket
    """,
    "log2-bucketed inter-event gap histogram via the exact integer length(bin(n))-1 form (no libm)",
)
def events_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        (
            (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w))
        ).alias("gap_us")
    ).select(F.expr("gap_us div 1000000").alias("gap_s"))
    return (
        g.filter(F.col("gap_s").isNotNull())
        .groupBy(F.expr("cast(length(bin(gap_s)) - 1 as bigint)").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.min("gap_s").cast("long").alias("min_gap_s"),
            F.max("gap_s").cast("long").alias("max_gap_s"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Open-order backlog timeline (r10): how many line items are "open"
# (ordered but not yet shipped) on each active day. The scalable
# interval-stabbing shape: each interval becomes a +1 event at its
# start and a -1 event one day after its end, the fact-scale event
# stream collapses to a per-day delta aggregate (one hash agg), and
# the running total runs over the bounded DATE SPINE (~thousands of
# rows at any corpus size) — never a per-interval window and never a
# day x interval join. The orders⋈lineitem join shuffles on the order
# key like the reference TPC-H shapes (q59 family).
# ---------------------------------------------------------------------------
@register(
    "orders_open_backlog",
    """
    WITH iv AS (
        SELECT CAST(o.o_orderdate AS DATE) AS d0,
               CAST(l.l_shipdate AS DATE) + 1 AS d1
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    ev AS (
        SELECT d0 AS d, 1 AS delta FROM iv
        UNION ALL
        SELECT d1 AS d, -1 AS delta FROM iv
    ),
    daily AS (SELECT d, CAST(sum(delta) AS BIGINT) AS delta FROM ev GROUP BY d)
    SELECT CAST(d AS VARCHAR) AS day,
           CAST(sum(delta) OVER (ORDER BY d) AS BIGINT) AS open_items
    FROM daily
    ORDER BY day
    """,
    "daily open-line-item backlog via +1/-1 interval events over the date spine",
)
def orders_open_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    iv = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("o_orderdate").cast("date").alias("d0"),
        F.date_add(F.col("l_shipdate").cast("date"), 1).alias("d1"),
    )
    # +1/-1 boundary events via a 2-element explode of ONE join pass —
    # the union-of-two-projections form re-ran the lineitem x orders
    # join per branch (plan-reuse audit r13); explode keeps it single
    ev = iv.select(
        F.explode(
            F.array(
                F.struct(F.col("d0").alias("d"), F.lit(1).alias("delta")),
                F.struct(F.col("d1").alias("d"), F.lit(-1).alias("delta")),
            )
        ).alias("e")
    ).select("e.d", "e.delta")
    daily = ev.groupBy("d").agg(F.sum("delta").cast("bigint").alias("delta"))
    # cumulative over the DATE SPINE: bounded by the corpus time span,
    # not the row count (the audited post-aggregate window class);
    # the day goes out as a STRING (repo date-output convention — the
    # engines' pandas date dtypes disagree, values don't)
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.col("d").cast("string").alias("day"),
        F.sum("delta").over(w).cast("bigint").alias("open_items"),
    ).orderBy("day")


@register(
    "orders_retention_cohort",
    """
    WITH first AS (
        SELECT o_custkey, min(year(o_orderdate)) AS cohort FROM orders GROUP BY o_custkey
    ),
    sz AS (SELECT cohort, count(*) AS cohort_size FROM first GROUP BY cohort),
    active AS (SELECT DISTINCT o_custkey, year(o_orderdate) AS yr FROM orders)
    SELECT f.cohort, a.yr,
           count(*) AS n_active,
           floor((count(*) * 1.0 / max(s.cohort_size)) * 1e4 + 0.5) / 1e4 AS retention
    FROM active a
    JOIN first f USING (o_custkey)
    JOIN sz s ON s.cohort = f.cohort
    GROUP BY f.cohort, a.yr
    ORDER BY f.cohort, a.yr
    """,
    "year-grain cohort-retention matrix on ORDERS (q29 is day-offset "
    "retention on events): customers cohorted by first-order year, "
    "per-(cohort, year) active fraction. One fact shuffle on custkey "
    "feeds BOTH the cohort assignment and the activity dedup; cohort "
    "sizes are a year-cardinality agg joined broadcast-side",
)
def orders_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey", F.year("o_orderdate").alias("yr")
    )
    first = orders.groupBy("o_custkey").agg(F.min("yr").alias("cohort"))
    sz = first.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_size"))
    active = orders.distinct()
    return (
        active.join(first, "o_custkey")
        .join(F.broadcast(sz), "cohort")
        .groupBy("cohort", "yr")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            fround(F.count(F.lit(1)) * 1.0 / F.max("cohort_size"), 4).alias("retention"),
        )
        .orderBy("cohort", "yr")
    )


@register(
    "events_anomaly_mad",
    """
    WITH v AS (
        SELECT event_type, CAST(floor((value * 1e4) + 0.5) AS BIGINT) AS vq
        FROM events WHERE value IS NOT NULL
    ),
    r1 AS (
        SELECT event_type, vq,
               row_number() OVER (PARTITION BY event_type ORDER BY vq) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM v
    ),
    med AS (
        SELECT event_type, max(n) AS n,
               min(CASE WHEN rn = (n + 1) // 2 THEN vq END) AS med_q
        FROM r1 GROUP BY event_type
    ),
    dev AS (
        SELECT v.event_type, abs(v.vq - m.med_q) AS dq
        FROM v JOIN med m USING (event_type)
    ),
    r2 AS (
        SELECT event_type, dq,
               row_number() OVER (PARTITION BY event_type ORDER BY dq) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM dev
    ),
    mad AS (
        SELECT event_type, min(CASE WHEN rn = (n + 1) // 2 THEN dq END) AS mad_q
        FROM r2 GROUP BY event_type
    )
    SELECT m.event_type,
           m.n AS n_events,
           CAST(m.med_q AS DOUBLE) / 1e4 AS median_value,
           CAST(d.mad_q AS DOUBLE) / 1e4 AS mad,
           CAST(sum(CASE WHEN x.dq > 3 * d.mad_q THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           floor((sum(CASE WHEN x.dq > 3 * d.mad_q THEN 1 ELSE 0 END) * 1.0 / m.n) * 1e4 + 0.5) / 1e4 AS outlier_share
    FROM dev x
    JOIN med m USING (event_type)
    JOIN mad d USING (event_type)
    GROUP BY m.event_type, m.n, m.med_q, d.mad_q
    ORDER BY m.event_type
    """,
    "median-absolute-deviation outlier detection per event type (robust "
    "3-sigma equivalent) on the 1e-4-quantized value grid: BOTH medians "
    "run through the two-phase grouped rank (positional pick) — never a "
    "single-task per-type sort; deviations re-join the tiny per-type "
    "median table broadcast-side",
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    v = ev.filter(F.col("value").isNotNull()).select(
        "event_type", fround(F.col("value") * 1e4).cast("long").alias("vq")
    )
    # ordering by vq ALONE (no tiebreak) is safe here because only the
    # VALUE at the picked rank is extracted and tied rows share that
    # value; rn itself is never consumed positionally (same contract as
    # q52's cents rank)
    r1 = with_grouped_rank(
        spark, v, ["event_type"], [F.col("vq")], rn_col="rn", n_col="n"
    )
    med = r1.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.min(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("vq"))).alias("med_q"),
    )
    dev = v.join(F.broadcast(med.select("event_type", "med_q")), "event_type").select(
        "event_type", F.abs(F.col("vq") - F.col("med_q")).alias("dq")
    )
    r2 = with_grouped_rank(
        spark, dev, ["event_type"], [F.col("dq")], rn_col="rn", n_col="n"
    )
    mad = r2.groupBy("event_type").agg(
        F.min(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("dq"))).alias("mad_q"),
    )
    out_flag = F.when(F.col("dq") > 3 * F.col("mad_q"), 1).otherwise(0)
    return (
        dev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "n", "med_q", "mad_q")
        .agg(
            F.sum(out_flag).cast("long").alias("n_outliers"),
            fround(F.sum(out_flag) * 1.0 / F.max("n"), 4).alias("outlier_share"),
        )
        .select(
            "event_type",
            F.col("n").alias("n_events"),
            (F.col("med_q").cast("double") / 1e4).alias("median_value"),
            (F.col("mad_q").cast("double") / 1e4).alias("mad"),
            "n_outliers",
            "outlier_share",
        )
        .orderBy("event_type")
    )


@register(
    "events_lag_autocorr",
    """
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY CAST(ts AS DATE)
    ),
    p AS (
        SELECT 1 AS lag, a.c AS x, b.c AS y
        FROM d a JOIN d b ON b.day = a.day + INTERVAL 1 DAY
        UNION ALL
        SELECT 7, a.c, b.c
        FROM d a JOIN d b ON b.day = a.day + INTERVAL 7 DAY
    ),
    s AS (
        SELECT lag,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(x) AS DOUBLE) AS sx,
               CAST(sum(y) AS DOUBLE) AS sy,
               CAST(sum(x * y) AS DOUBLE) AS sxy,
               CAST(sum(x * x) AS DOUBLE) AS sxx,
               CAST(sum(y * y) AS DOUBLE) AS syy
        FROM p GROUP BY lag
    )
    SELECT lag,
           CAST(n AS BIGINT) AS n_pairs,
           CASE WHEN (n * sxx - sx * sx) > 0.0e0 AND (n * syy - sy * sy) > 0.0e0
                THEN floor(((n * sxy - sx * sy)
                            / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))) * 1e4 + 0.5) / 1e4
                ELSE NULL END AS autocorr
    FROM s ORDER BY lag
    """,
    "lag-1 / lag-7 Pearson autocorrelation of the daily event-count "
    "series (weekly seasonality detector): integer day-count sums are "
    "exact on both engines, the correlation assembles from them in one "
    "identical double expression — a bounded day-spine self-join, "
    "missing days drop their pairs",
)
def events_lag_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    pairs = None
    for lag in (1, 7):
        a = d.select(F.col("day").alias("a_day"), F.col("c").alias("x"))
        b = d.select(F.col("day").alias("b_day"), F.col("c").alias("y"))
        p = (
            a.join(b, F.col("b_day") == F.date_add(F.col("a_day"), lag))
            .select(F.lit(lag).alias("lag"), "x", "y")
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    s = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    return s.select(
        "lag",
        F.col("n").cast("long").alias("n_pairs"),
        F.expr(
            "case when (n * sxx - sx * sx) > 0.0e0 and (n * syy - sy * sy) > 0.0e0 "
            "then floor(((n * sxy - sx * sy) "
            "/ sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))) * 1e4 + 0.5) / 1e4 "
            "else null end"
        ).alias("autocorr"),
    ).orderBy("lag")


# ---------------------------------------------------------------------------
# Burst detection — the rate-anomaly primitive an abuse/bot filter runs
# over an event stream: per user, the busiest 1-minute tumbling bucket
# vs their overall activity, flagged at a fixed events/minute ceiling.
# Two exact integer aggregations (minute bucket = truncating div of
# epoch-µs — nonneg, so Spark div == DuckDB //), partial-agg friendly:
# the shuffle carries (user, minute) partial counts then per-user rows,
# never events. The 100 TB shape: both groupBys key on user_id-led
# keys, so AQE coalesces and no single task sees a full user history
# unless one user IS the corpus (then salting the minute agg — which
# already includes the minute — bounds it).
# ---------------------------------------------------------------------------
BURST_PER_MIN = 8


@register(
    "events_burst_detection",
    f"""
    WITH pm AS (
        SELECT user_id, epoch_us(ts) // 60000000 AS minute,
               count(*) AS n
        FROM events GROUP BY user_id, minute
    )
    SELECT user_id,
           CAST(sum(n) AS BIGINT) AS n_events,
           count(*) AS n_minutes,
           CAST(max(n) AS BIGINT) AS max_per_min,
           CAST(CASE WHEN max(n) >= {BURST_PER_MIN} THEN 1 ELSE 0 END AS INTEGER) AS is_burst
    FROM pm
    GROUP BY user_id
    ORDER BY user_id
    """,
    "per-user burst detection: busiest 1-minute tumbling bucket vs "
    "overall activity, fixed events/minute ceiling — two partial-agg "
    "integer rollups",
)
def events_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    pm = ev.select(
        "user_id", F.expr("unix_micros(ts) div 60000000").alias("minute")
    ).groupBy("user_id", "minute").agg(F.count(F.lit(1)).alias("n"))
    return (
        pm.groupBy("user_id")
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.count(F.lit(1)).alias("n_minutes"),
            F.max("n").cast("long").alias("max_per_min"),
            F.when(F.max("n") >= BURST_PER_MIN, 1)
            .otherwise(0)
            .cast("int")
            .alias("is_burst"),
        )
        .orderBy("user_id")
    )
