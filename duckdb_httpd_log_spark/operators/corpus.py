"""Corpus-forensics and training-prep operators (round 4).

The reference engine (a DuckDB scan extension, see
``/root/reference/src/httpd_log_table_function.cpp``) delegates all
analytics to its host; this module keeps widening the host-surface
equivalents a 100 TB training-data pipeline needs beyond the earlier
dedup/ANN/text modules: tokenizer training (BPE pair counting),
duplicate-cluster canonicalization, embedding quantization, cross-source
duplicate forensics, vocabulary-health diagnostics (Zipf slope, hapax
rate), incremental-batch dedup, calendar gap-fill, and JSON prop
extraction.

Scale discipline (same as the sibling modules):
- every aggregation is a hash agg on a bounded key domain — no
  cartesian products, no driver-side collects;
- float aggregates follow the repo's integer-first parity rule: any
  order-dependent double SUM is quantized per-row to a scaled BIGINT
  (floor((x * 10^k) + 0.5)) so the cross-engine SUM is an integer sum, with one
  final double division pinned identically in both engines;
- duplicate keys are md5/xxhash fingerprints, never raw text, so every
  shuffle moves fixed-width keys.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.portable import LN2, pln, pln_stages, stage_subselects, with_stages
from ..plans.registry import decode_embedding, fround, REGISTRY, register, share_expr, share_sql, table
from .pins import pin

# Portable-ln snippets (plans/portable.py) spliced verbatim into both
# the oracle SQL and F.expr — no libm reaches a hashed output.
# Staged-column variants (r6 verdict item 4): bit-identical, ~5x
# smaller Catalyst trees (see plans/portable.pln_stages).
_PRK_STAGES, _PRK_LN = pln_stages("rk", "pr")
_PC_STAGES, _PC_LN = pln_stages("c", "pc")
from . import dedup as _dedup

# ---------------------------------------------------------------------------
# One BPE merge iteration — the inner loop of tokenizer training.
# Count adjacent CHARACTER pairs inside each distinct word, weighted by
# the word's corpus frequency; the top pair is the next merge rule.
# Shape: the word-count agg collapses the corpus to its vocabulary
# (tiny vs the token stream), so the expensive explode runs over
# DISTINCT words only — at 100 TB the vocab is ~10^7 rows while the
# stream is ~10^11, a 10^4× reduction before the per-char explode.
# Integer counts end-to-end: no float parity surface.
# ---------------------------------------------------------------------------
BPE_TOP = 30


@register(
    "bpe_merge_step",
    f"""
    WITH words AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    wc AS (SELECT w, count(*) AS n_w FROM words WHERE len(w) >= 2 GROUP BY w),
    pairs AS (
        SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, n_w
        FROM wc, LATERAL unnest(range(1, len(w))) t(i)
    ),
    pc AS (SELECT pair, CAST(sum(n_w) AS BIGINT) AS pair_count FROM pairs GROUP BY pair)
    SELECT pair, pair_count FROM pc ORDER BY pair_count DESC, pair LIMIT {BPE_TOP}
    """,
    "one BPE merge step: corpus-frequency-weighted adjacent char-pair counts over the vocabulary",
)
def bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    pairs = wc.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "n_w",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n_w").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "pair")
        .limit(BPE_TOP)
    )


# ---------------------------------------------------------------------------
# Full BPE training loop (r13 verdict item 5) — the tokenizer-training
# capstone the training-loop family already has for k-means and PCA:
# iterate the merge step K times with the merge-rule MODEL (one row per
# iteration) round-tripping the driver, exactly the kmeans_train shape.
#
# State = each vocab word's current symbol segmentation, encoded as a
# delimited string '|s1|s2|...|sn|' (alphabet capped to ^[a-z]+$ words,
# so '|' can never occur inside a symbol). One merge of pair (l, r) is
# replace(state, '|l|r|', '|lr|') applied TWICE — engine-identical by
# construction (Spark's replace and DuckDB's replace both substitute
# leftmost non-overlapping occurrences), with the second pass catching
# the back-to-back occurrences whose shared '|' the first pass
# consumed. This is a deterministic BPE variant, not byte-exact
# classic greedy: in an odd run like [a,a,a,a,a] the leftover single
# symbol sits where the scan left it ([aa,a,aa] vs greedy [aa,aa,a]).
# Both engines compute the identical segmentation either way, which is
# the parity contract; classic greedy would need a per-word
# sequential fold that DuckDB's list functions cannot express.
#
# Scale shape: the one corpus-sized pass is the word-count agg (same
# collapse as bpe_merge_step, ~10^4x reduction at 100 TB); the K
# iterations then run on the FREQUENCY-CAPPED vocabulary (<= 2000
# rows — how production BPE trainers iterate too), each fetching ONE
# model row to the driver and re-deriving the tiny state frame
# (the state never grows a lineage: it lives on the driver).
# ---------------------------------------------------------------------------
BPE_TRAIN_MERGES = 6
BPE_TRAIN_VOCAB = 2000


def _bpe_chain_parts() -> list:
    """The shared WITH-parts of the BPE oracle chain (wc/s0 + K rounds
    of p_i/b_i/s_i) — tailed differently by bpe_train (the rules) and
    bpe_vocab_stats (the corpus-wide apply)."""
    parts = [
        f"""wc AS (
        SELECT w, count(*) AS n_w
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE len(w) >= 2 AND regexp_matches(w, '^[a-z]+$')
        GROUP BY w
        ORDER BY count(*) DESC, w
        LIMIT {BPE_TRAIN_VOCAB}
    ),
    s0 AS (SELECT n_w, '|' || regexp_replace(w, '(.)', '\\1|', 'g') AS st FROM wc)"""
    ]
    for i in range(1, BPE_TRAIN_MERGES + 1):
        parts.append(
            f"""p{i} AS (
        SELECT sym[i] AS l, sym[i + 1] AS r, CAST(sum(n_w) AS BIGINT) AS pair_count
        FROM (SELECT n_w,
                     list_slice(string_split(st, '|'), 2,
                                len(string_split(st, '|')) - 1) AS sym
              FROM s{i - 1}),
             LATERAL unnest(range(1, len(sym))) t(i)
        GROUP BY 1, 2
    ),
    b{i} AS (SELECT l, r, pair_count FROM p{i}
             ORDER BY pair_count DESC, l, r LIMIT 1),
    s{i} AS (SELECT n_w,
                    replace(replace(st, '|' || l || '|' || r || '|',
                                    '|' || l || r || '|'),
                            '|' || l || '|' || r || '|',
                            '|' || l || r || '|') AS st
             FROM s{i - 1}, b{i})"""
        )
    return parts


def _bpe_train_oracle() -> str:
    union = "\n        UNION ALL\n        ".join(
        f"SELECT {i} AS step, l, r, pair_count FROM b{i}"
        for i in range(1, BPE_TRAIN_MERGES + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(_bpe_chain_parts())
        + f"""
    SELECT CAST(step AS INTEGER) AS step, l, r, pair_count
    FROM ({union})
    ORDER BY step"""
    )


@register(
    "bpe_train",
    _bpe_train_oracle(),
    f"full BPE training loop: {BPE_TRAIN_MERGES} merge iterations over the capped vocab, model rows round-tripping the driver",
)
def bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    # memo=False: the TRAINING query recomputes its loop on every call
    # (same contract as kmeans_train) — the rules memo exists for the
    # APPLY side (bpe_vocab_stats, like ann_ivf_topk's _trained_model),
    # never so the training query itself can return a cached result
    return spark.createDataFrame(
        _bpe_rules(spark, sf_dir, memo=False),
        "step int, l string, r string, pair_count bigint",
    ).orderBy("step")


# trained merge rules memoized per corpus — a tokenizer is a built-once
# artifact reused by every apply (same pattern as _CENTROID_CACHE for
# the IVF index); deterministic, so the cache never changes results
_BPE_RULES_CACHE: dict = {}


def _bpe_rules(spark: SparkSession, sf_dir: str, memo: bool = True) -> list:
    """[(step, l, r, pair_count)] — the K-merge training loop shared by
    bpe_train (recomputes: memo=False) and bpe_vocab_stats (applies the
    memoized model).

    r14 shape (guide §1.2/§5): ONE distributed pass — the corpus-scale
    word-count aggregate + frequency cap — then the K merge rounds fold
    DRIVER-SIDE over the collected <= BPE_TRAIN_VOCAB-row model state
    (how production BPE trainers iterate: corpus collapse distributed,
    merges in memory). The r13 form ran each round as 2 Spark jobs over
    the same <= 2000 tiny rows (groupBy + orderBy-first, then a
    localCheckpoint), ~13 jobs of pure scheduling overhead per call
    (A/B numbers in OPTIMIZATION_r14.md). The fold is semantics-identical: pair
    counts are n_w-weighted adjacent interior symbols, best pair is
    min((-count, l, r)) — the oracle's ORDER BY pair_count DESC, l, r
    LIMIT 1 — and Python str.replace applied twice matches the engines'
    leftmost non-overlapping replace contract. Single-symbol states
    contribute no pairs (zip over a 1-list is empty), mirroring the
    oracle's empty range(1, len(sym))."""
    if memo and sf_dir in _BPE_RULES_CACHE:
        return _BPE_RULES_CACHE[sf_dir]
    docs = table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter((F.length("w") >= 2) & F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
        .orderBy(F.col("n_w").desc(), "w")
        .limit(BPE_TRAIN_VOCAB)
    )
    # model-sized driver fetch (<= BPE_TRAIN_VOCAB rows), the same
    # bounded-artifact contract as kmeans_train's per-iteration model
    vocab = [("|" + "|".join(r["w"]) + "|", int(r["n_w"])) for r in wc.collect()]
    rules = _bpe_fold(vocab)
    _BPE_RULES_CACHE[sf_dir] = rules
    return rules


def _bpe_fold(vocab: list) -> list:
    """Pure-Python K-merge BPE fold over [(state, n_w)] word states
    ('|s1|s2|...|sn|'). Split out for direct unit testing against the
    oracle's merge contract."""
    states = list(vocab)
    rules = []
    for step in range(1, BPE_TRAIN_MERGES + 1):
        counts: dict = {}
        for st, n_w in states:
            sym = st.split("|")[1:-1]
            for pair in zip(sym, sym[1:]):
                counts[pair] = counts.get(pair, 0) + n_w
        if not counts:  # vocab fully merged (never at tested scales)
            break
        (l, r), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        rules.append((step, l, r, int(c)))
        pat, rep = f"|{l}|{r}|", f"|{l}{r}|"
        states = [
            (st.replace(pat, rep).replace(pat, rep), n_w) for st, n_w in states
        ]
    return rules


# ---------------------------------------------------------------------------
# BPE apply — the corpus-scale other half of bpe_train: tokenize EVERY
# word (no vocab cap) with the trained merge rules and report the
# resulting vocabulary's top symbols by corpus frequency. This is the
# shape a real tokenizer pays at 100 TB: the K merges are a driver-side
# model; the apply is one distributed pass of 2K string replaces (pure
# codegen, no Python) + a symbol explode + hash agg on a bounded symbol
# domain.
# ---------------------------------------------------------------------------
BPE_VOCAB_TOP = 30


def _bpe_vocab_oracle() -> str:
    expr = "'|' || regexp_replace(w, '(.)', '\\1|', 'g')"
    for i in range(1, BPE_TRAIN_MERGES + 1):
        pat = f"'|' || b{i}.l || '|' || b{i}.r || '|'"
        rep = f"'|' || b{i}.l || b{i}.r || '|'"
        expr = f"replace(replace({expr}, {pat}, {rep}), {pat}, {rep})"
    bs = ", ".join(f"b{i}" for i in range(1, BPE_TRAIN_MERGES + 1))
    return (
        "WITH "
        + ",\n    ".join(_bpe_chain_parts())
        + f""",
    wall AS (
        SELECT w, count(*) AS n_w
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE len(w) >= 2 AND regexp_matches(w, '^[a-z]+$')
        GROUP BY w
    ),
    sapp AS (SELECT n_w, {expr} AS st FROM wall, {bs})
    SELECT sym AS symbol, CAST(sum(n_w) AS BIGINT) AS n_total
    FROM (SELECT n_w,
                 unnest(list_slice(string_split(st, '|'), 2,
                                   len(string_split(st, '|')) - 1)) AS sym
          FROM sapp)
    GROUP BY sym
    ORDER BY n_total DESC, symbol
    LIMIT {BPE_VOCAB_TOP}"""
    )


@register(
    "bpe_vocab_stats",
    _bpe_vocab_oracle(),
    "apply the trained BPE merges to the whole corpus: top symbols of the resulting vocabulary",
)
def bpe_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    rules = _bpe_rules(spark, sf_dir)
    docs = table(spark, sf_dir, "documents")
    wall = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter((F.length("w") >= 2) & F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    st = F.concat(F.lit("|"), F.regexp_replace("w", "(.)", "$1|"))
    for _step, l, r, _c in rules:
        pat, rep = F.lit(f"|{l}|{r}|"), F.lit(f"|{l}{r}|")
        st = F.replace(F.replace(st, pat, rep), pat, rep)
    sym = "slice(split(st, '\\\\|'), 2, size(split(st, '\\\\|')) - 2)"
    return (
        wall.select("n_w", st.alias("st"))
        .select("n_w", F.explode(F.expr(sym)).alias("symbol"))
        .groupBy("symbol")
        .agg(F.sum("n_w").alias("n_total"))
        .orderBy(F.col("n_total").desc(), "symbol")
        .limit(BPE_VOCAB_TOP)
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster canonicalization — the step AFTER clustering: pick
# one representative per near-dup cluster (longest doc wins, doc_id
# tiebreak) and account for what gets dropped. Composes on
# dedup_clusters' connected components; the oracle nests the clusters
# SQL verbatim (single source of truth for the component semantics).
# Shape: clusters are tiny vs the corpus (only docs with >= 1 near-dup
# edge), so the join back to `documents` broadcasts under AQE and the
# window runs over cluster-sized partitions. Integer outputs only.
# ---------------------------------------------------------------------------
def _clusters_oracle_subquery() -> str:
    # dedup_clusters registers before this module imports (operators/
    # __init__ imports dedup first); reuse its oracle text so the
    # component definition can never drift between the two operators.
    return REGISTRY["dedup_clusters"].oracle_sql


@register(
    "dedup_keep_best",
    f"""
    WITH mem AS (
        SELECT c.doc_id, c.cluster_id, d.n_chars
        FROM ({{CLUSTERS}}) c JOIN documents d USING (doc_id)
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY cluster_id
                                     ORDER BY n_chars DESC, doc_id) AS rk
        FROM mem
    )
    SELECT cluster_id,
           max(CASE WHEN rk = 1 THEN doc_id END) AS keep_doc_id,
           count(*) AS n_members,
           count(*) - 1 AS n_dropped,
           CAST(sum(n_chars) - max(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT)
               AS chars_dropped
    FROM ranked
    GROUP BY cluster_id
    ORDER BY cluster_id
    """.replace("{CLUSTERS}", _clusters_oracle_subquery()),
    "pick one representative per near-dup cluster (longest doc wins) and account dropped volume",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    clusters = _dedup.dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    mem = clusters.join(docs, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.col("n_chars").desc(), "doc_id")
    ranked = mem.withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy("cluster_id")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_members"),
            (F.count(F.lit(1)) - F.lit(1)).alias("n_dropped"),
            (F.sum("n_chars") - F.max(F.when(F.col("rk") == 1, F.col("n_chars"))))
            .cast("long")
            .alias("chars_dropped"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# Int8 scalar quantization card — the storage/serving compression audit
# for an embedding corpus: per dimension, the [min, max] range, the
# int8 step size, and the mean absolute reconstruction error of
# round-trip quantization. Shape: one posexplode + per-dim hash agg
# (DIM groups), then a broadcast-sized dim-stats join back; the error
# aggregate is a scaled-integer SUM (round(|err|·1e9) per element) so
# the cross-engine sum is order-independent. The per-element doubles
# (v, vmin, scale, q, recon) are IEEE-identical in both engines because
# every input is exact (float widened to double) and the expression
# shapes are pinned identical.
# ---------------------------------------------------------------------------
@register(
    "embedding_quantize",
    """
    WITH vals AS (
        SELECT vec_id, CAST(i AS INTEGER) - 1 AS pos,
               CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS v
        FROM embeddings, LATERAL unnest(range(1, len(embedding) + 1)) t(i)
    ),
    stats AS (
        SELECT pos, min(v) AS vmin, max(v) AS vmax,
               (max(v) - min(v)) / 255.0 AS scale
        FROM vals GROUP BY pos
    ),
    err AS (
        SELECT v.pos,
               CAST(floor((abs(v.v - (s.vmin + floor(((v.v - s.vmin) / s.scale) + 0.5) * s.scale))
                          * 1000000000.0) + 0.5) AS BIGINT) AS e9
        FROM vals v JOIN stats s ON v.pos = s.pos
        WHERE s.scale > 0
    )
    SELECT s.pos,
           floor((s.vmin) * 1e6 + 0.5) / 1e6 AS vmin,
           floor((s.vmax) * 1e6 + 0.5) / 1e6 AS vmax,
           floor((s.scale) * 1e8 + 0.5) / 1e8 AS step,
           floor(((CAST(sum(e.e9) AS DOUBLE) / 1000000000.0) / count(*)) * 1e8 + 0.5) / 1e8 AS mean_abs_err
    FROM err e JOIN stats s ON e.pos = s.pos
    GROUP BY s.pos, s.vmin, s.vmax, s.scale
    ORDER BY s.pos
    """,
    "per-dimension int8 quantization card: range, step, mean abs reconstruction error",
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    vals = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "vf")
    ).select("vec_id", "pos", F.col("vf").cast("double").alias("v"))
    stats = vals.groupBy("pos").agg(
        F.min("v").alias("vmin"),
        F.max("v").alias("vmax"),
        ((F.max("v") - F.min("v")) / F.lit(255.0)).alias("scale"),
    )
    joined = vals.join(F.broadcast(stats), "pos").filter(F.col("scale") > 0)
    recon = F.col("vmin") + fround((F.col("v") - F.col("vmin")) / F.col("scale")) * F.col(
        "scale"
    )
    e9 = fround(F.abs(F.col("v") - recon) * F.lit(1000000000.0)).cast("long")
    return (
        joined.select("pos", "vmin", "vmax", "scale", e9.alias("e9"))
        .groupBy("pos", "vmin", "vmax", "scale")
        .agg(F.sum("e9").alias("s9"), F.count(F.lit(1)).alias("n"))
        .select(
            "pos",
            fround("vmin", 6).alias("vmin"),
            fround("vmax", 6).alias("vmax"),
            fround("scale", 8).alias("step"),
            fround((F.col("s9").cast("double") / F.lit(1000000000.0)) / F.col("n"), 8).alias(
                "mean_abs_err"
            ),
        )
        .orderBy("pos")
    )


# ---------------------------------------------------------------------------
# Cross-source duplicate forensics — which ingest sources copy from
# each other? Key = md5 of the first-8-token prefix (the boilerplate
# fingerprint; full-text md5 finds nothing on a corpus with no exact
# dups — measured 500/500 distinct at sf0.01). Shape: distinct
# (fingerprint, source) pairs collapse the corpus before the self-join,
# and the join key is an md5 — fixed-width shuffles; the source
# dimension is tiny so output is at most |sources|² rows.
# ---------------------------------------------------------------------------
PREFIX_K = 8


@register(
    "source_overlap_matrix",
    f"""
    WITH h AS (
        SELECT DISTINCT
               md5(array_to_string(string_split(text, ' ')[1:{PREFIX_K}], ' ')) AS fp,
               source
        FROM documents
    )
    SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
    FROM h a JOIN h b ON a.fp = b.fp AND a.source < b.source
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    "cross-source duplicate overlap matrix over 8-token boilerplate-prefix fingerprints",
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    h = docs.select(
        F.md5(
            F.concat_ws(" ", F.slice(F.split("text", " "), 1, PREFIX_K)).cast("binary")
        ).alias("fp"),
        "source",
    ).distinct()
    a = h.select(F.col("fp"), F.col("source").alias("source_a"))
    b = h.select(F.col("fp"), F.col("source").alias("source_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Zipf-slope fit — the vocabulary-health diagnostic: OLS slope of
# ln(freq) on ln(rank) over each source's top-ranked tokens (a healthy
# natural-language corpus sits near -1; scraped boilerplate flattens
# it). Shape: token hash agg -> per-source rank window -> 4 scaled-
# integer sums -> closed-form slope. Parity: x = ln(rank) and
# y = ln(c) are identical doubles in both engines (integer inputs), and
# each OLS term is quantized per-row to a BIGINT before summing so the
# aggregate is order-independent; the final slope expression divides
# identically-shaped reconstructed doubles.
# ---------------------------------------------------------------------------
ZIPF_TOP_RANKS = 500


@register(
    "text_zipf_slope",
    f"""
    WITH tc AS (
        SELECT source, w, count(*) AS c
        FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY source, w
    ),
    ranked AS (
        SELECT source, c,
               row_number() OVER (PARTITION BY source ORDER BY c DESC, w) AS rk
        FROM tc
    ),
    staged AS ({stage_subselects(
        f"SELECT source, c, rk FROM ranked WHERE rk <= {ZIPF_TOP_RANKS}",
        _PRK_STAGES + _PC_STAGES,
    )}),
    terms AS (
        SELECT source,
               CAST(floor(({_PRK_LN} * 1000000.0) + 0.5) AS BIGINT) AS x6,
               CAST(floor(({_PC_LN} * 1000000.0) + 0.5) AS BIGINT) AS y6,
               CAST(floor(({_PRK_LN} * {_PC_LN} * 1000000.0) + 0.5)
                    AS BIGINT) AS xy6,
               CAST(floor(({_PRK_LN} * {_PRK_LN} * 1000000.0) + 0.5)
                    AS BIGINT) AS xx6
        FROM staged
    )
    SELECT source, count(*) AS n_ranks,
           floor(((count(*) * (CAST(sum(xy6) AS DOUBLE) / 1000000.0)
                  - (CAST(sum(x6) AS DOUBLE) / 1000000.0) * (CAST(sum(y6) AS DOUBLE) / 1000000.0))
                 / (count(*) * (CAST(sum(xx6) AS DOUBLE) / 1000000.0)
                    - (CAST(sum(x6) AS DOUBLE) / 1000000.0) * (CAST(sum(x6) AS DOUBLE) / 1000000.0))) * 1e4 + 0.5) / 1e4 AS zipf_slope
    FROM terms
    GROUP BY source
    ORDER BY source
    """,
    "per-source Zipf exponent: OLS slope of ln(freq) vs ln(rank) over top token ranks",
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tc = (
        docs.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # top ranks via the grouped two-phase scan: the per-source frame is
    # the source's VOCABULARY (Heaps-law-sized — grows with the corpus),
    # so the naive per-source window would funnel it through |sources|
    # sort tasks
    from .distrank import with_grouped_rank

    ranked = with_grouped_rank(
        spark, tc, ["source"], [(F.col("c"), False), F.col("w")], rn_col="rk"
    ).filter(F.col("rk") <= ZIPF_TOP_RANKS)
    ranked = with_stages(ranked, _PRK_STAGES + _PC_STAGES)
    x = F.col(_PRK_LN)
    y = F.col(_PC_LN)
    m = F.lit(1000000.0)
    terms = ranked.select(
        "source",
        fround(x * m).cast("long").alias("x6"),
        fround(y * m).cast("long").alias("y6"),
        fround(x * y * m).cast("long").alias("xy6"),
        fround(x * x * m).cast("long").alias("xx6"),
    )
    n = F.count(F.lit(1))
    sx = F.sum("x6").cast("double") / m
    sy = F.sum("y6").cast("double") / m
    sxy = F.sum("xy6").cast("double") / m
    sxx = F.sum("xx6").cast("double") / m
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return (
        terms.groupBy("source")
        .agg(n.alias("n_ranks"), fround(slope, 4).alias("zipf_slope"))
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Hapax / type-token vocabulary stats — per-source lexical-diversity
# card: distinct tokens, hapax legomena (freq 1) rate, type-token
# ratio. Keyword-stuffed or templated sources show depressed hapax
# rates. One token hash agg + one per-source agg; integer counts with
# two pinned final divisions.
# ---------------------------------------------------------------------------
@register(
    "token_hapax_rate",
    """
    WITH tc AS (
        SELECT source, w, count(*) AS c
        FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY source, w
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           count(*) AS n_types,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           floor((sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / count(*)) * 1e4 + 0.5) / 1e4 AS hapax_rate,
           floor((count(*) * 1.0 / sum(c)) * 1e4 + 0.5) / 1e4 AS type_token_ratio
    FROM tc
    GROUP BY source
    ORDER BY source
    """,
    "per-source lexical diversity: hapax rate and type-token ratio",
)
def token_hapax_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tc = (
        docs.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    hapax = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    n_types = F.count(F.lit(1))
    n_tokens = F.sum("c")
    return (
        tc.groupBy("source")
        .agg(
            n_tokens.cast("long").alias("n_tokens"),
            n_types.alias("n_types"),
            hapax.cast("long").alias("n_hapax"),
            fround(hapax.cast("double") / n_types, 4).alias("hapax_rate"),
            fround(n_types.cast("double") / n_tokens, 4).alias("type_token_ratio"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Incremental-batch dedup — the daily-increment shape: a new shard
# (doc_id % 7 = 3) deduped against the standing corpus, classifying
# each batch doc as dup-vs-corpus, dup-within-batch (earliest doc_id
# wins), or novel. Key = the 8-token prefix fingerprint (same rationale
# as source_overlap_matrix). Shape: the corpus side collapses to
# DISTINCT fingerprints before the join (at 100 TB that's the
# persisted dedup index a pipeline maintains); the within-batch winner
# is a min() window over fingerprint — all fixed-width md5 shuffles.
# ---------------------------------------------------------------------------
@register(
    "dedup_incremental",
    f"""
    WITH fp AS (
        SELECT doc_id, source,
               md5(array_to_string(string_split(text, ' ')[1:{PREFIX_K}], ' ')) AS fp
        FROM documents
    ),
    batch AS (SELECT * FROM fp WHERE doc_id % 7 = 3),
    corpus AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 7 <> 3),
    cls AS (
        SELECT b.source,
               CASE WHEN c.fp IS NOT NULL THEN 'dup_corpus'
                    WHEN b.doc_id <> min(b.doc_id) OVER (PARTITION BY b.fp) THEN 'dup_batch'
                    ELSE 'novel' END AS status
        FROM batch b LEFT JOIN corpus c ON b.fp = c.fp
    )
    SELECT source,
           count(*) AS n_batch,
           CAST(sum(CASE WHEN status = 'dup_corpus' THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_corpus,
           CAST(sum(CASE WHEN status = 'dup_batch' THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_batch,
           CAST(sum(CASE WHEN status = 'novel' THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
    FROM cls
    GROUP BY source
    ORDER BY source
    """,
    "incremental dedup: classify a new shard vs the standing corpus fingerprint index",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        "source",
        F.md5(
            F.concat_ws(" ", F.slice(F.split("text", " "), 1, PREFIX_K)).cast("binary")
        ).alias("fp"),
    )
    batch = fp.filter(F.col("doc_id") % 7 == 3)
    corpus = fp.filter(F.col("doc_id") % 7 != 3).select("fp").distinct()
    w = Window.partitionBy("fp")
    cls = (
        batch.join(corpus.withColumn("in_corpus", F.lit(1)), "fp", "left")
        .withColumn("min_id", F.min("doc_id").over(w))
        .select(
            "source",
            F.when(F.col("in_corpus").isNotNull(), "dup_corpus")
            .when(F.col("doc_id") != F.col("min_id"), "dup_batch")
            .otherwise("novel")
            .alias("status"),
        )
    )
    cnt = lambda s: F.sum(F.when(F.col("status") == s, 1).otherwise(0)).cast("long")
    return (
        cls.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_batch"),
            cnt("dup_corpus").alias("n_dup_corpus"),
            cnt("dup_batch").alias("n_dup_batch"),
            cnt("novel").alias("n_novel"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Calendar gap-fill — zero-fill missing days in the daily order series
# (time-series feeds break on absent rows, not on zero rows). Shape:
# the day spine is sequence(min_day, max_day) exploded from ONE
# aggregate row — no driver round-trip, no generate_series UDF; the
# left join back to the daily agg broadcasts the spine under AQE.
# Revenue sums are quantized to integer cents so the cross-engine SUM
# is order-independent.
# ---------------------------------------------------------------------------
@register(
    "q45_date_fill",
    """
    WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
               count(*) AS n_orders,
               CAST(sum(CAST(floor((o_totalprice * 100.0) + 0.5) AS BIGINT)) AS BIGINT) AS cents
        FROM orders
        GROUP BY 1
    ),
    bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM daily),
    spine AS (
        SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
        FROM bounds
    )
    SELECT CAST(s.d AS VARCHAR) AS day,
           coalesce(a.n_orders, 0) AS n_orders,
           floor((coalesce(a.cents, 0) / 100.0) * 1e2 + 0.5) / 1e2 AS revenue
    FROM spine s LEFT JOIN daily a ON s.d = a.d
    ORDER BY s.d
    """,
    "calendar gap-fill: zero-filled daily order counts and revenue over the full date span",
)
def q45_date_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.to_date(F.date_trunc("day", "o_orderdate")).alias("d")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(fround(F.col("o_totalprice") * 100.0).cast("long")).alias("cents"),
    )
    spine = daily.agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    ).select(F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("d"))
    return (
        spine.join(daily, "d", "left")
        .select(
            F.col("d").cast("string").alias("day"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            fround(F.coalesce("cents", F.lit(0)) / F.lit(100.0), 2).alias("revenue"),
        )
        .orderBy("d")
    )


# ---------------------------------------------------------------------------
# JSON prop extraction — the semi-structured sidecar every event
# pipeline carries: pull a typed value out of the JSON `props` column
# and aggregate it per event type. Extraction is a per-row JVM/core
# expression in both engines (get_json_object / json_extract), so it
# whole-stage-codegens; the aggregate keeps the sum integral and does
# one pinned division for the mean. Malformed/NULL props must yield
# NULL k on BOTH sides: Spark's get_json_object is lenient but
# DuckDB's json_extract raises, so the oracle guards with json_valid
# (found by the adversarial events suite).
# ---------------------------------------------------------------------------
@register(
    "events_json_extract",
    """
    WITH ex AS (
        SELECT event_type,
               CASE WHEN json_valid(props)
                    THEN json_extract(props, '$.k')::BIGINT END AS k
        FROM events
    )
    SELECT event_type,
           count(*) AS n,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(max(k) AS BIGINT) AS max_k,
           CAST(count(DISTINCT k) AS BIGINT) AS distinct_k,
           floor((sum(k) * 1.0 / count(*)) * 1e4 + 0.5) / 1e4 AS avg_k
    FROM ex
    GROUP BY event_type
    ORDER BY event_type
    """,
    "typed JSON extraction from event props + per-type aggregate card",
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    ev = events.select("event_type", k.alias("k"))
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.count_distinct(F.col("k")).alias("distinct_k"),
            fround(F.sum("k").cast("double") / F.count(F.lit(1)), 4).alias("avg_k"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# One power-iteration step toward the top principal direction of the
# (uncentered) embedding Gram matrix X'X — the building block of
# distributed PCA/SVD (subspace tracking, whitening, spectral dedup).
# Start vector v0 = 1/sqrt(DIM) per component (1/8 for DIM=64: exactly
# representable, so both engines hold the identical double). The two
# matrix products round-trip NOTHING to the driver:
#   x' = x/m0  — MAGNITUDE NORMALIZATION by the global max-abs element
#               (max is an exact, order-independent aggregate), so the
#               scaled-integer quantization below can never overflow
#               BIGINT no matter the input scale (the edge-embeddings
#               suite feeds 1e6-magnitude vectors; unnormalized, DuckDB
#               raises on the cast while Spark's non-ANSI cast silently
#               clamps — a silent-divergence trap);
#   w = X'v0   — per-row in-row ascending-index fold (identical IEEE
#               doubles in both engines);
#   u' = X''w  — the order-dependent cross-row SUM, quantized per
#               element to round(x'·w·1e6) BIGINT (|x'| <= 1, |w| <= 8:
#               bounded terms) so the aggregate is an integer sum;
#   v1 = u/‖u‖ — scale-invariant, so it equals u'/‖u'‖; the norm
#               re-normalizes u' by ITS max-abs (same trick) before
#               quantizing at 1e12, then one pinned division. The
#               eigenvalue estimate un-scales as m0²·‖u'‖.
# ---------------------------------------------------------------------------
@register(
    "emb_pca_power_step",
    """
    WITH raw AS (
        SELECT vec_id, CAST(i AS INTEGER) - 1 AS pos,
               CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS x0
        FROM embeddings, LATERAL unnest(range(1, len(embedding) + 1)) t(i)
    ),
    m AS (SELECT max(abs(x0)) AS m0 FROM raw),
    vals AS (SELECT vec_id, pos, x0 / m0 AS x FROM raw, m WHERE m0 > 0),
    w AS (
        SELECT vec_id,
               list_sum([embedding[i]::DOUBLE / m.m0 * 0.125
                         for i in range(1, len(embedding) + 1)]) AS wv
        FROM embeddings, m
        WHERE m.m0 > 0
    ),
    u AS (
        SELECT pos,
               CAST(sum(CAST(floor((v.x * w.wv * 1000000.0) + 0.5) AS BIGINT)) AS DOUBLE)
                   / 1000000.0 AS uv
        FROM vals v JOIN w ON v.vec_id = w.vec_id
        GROUP BY pos
    ),
    mu AS (SELECT max(abs(uv)) AS m1 FROM u),
    nrm AS (
        SELECT m1 * sqrt(CAST(sum(CAST(floor(((uv / m1) * (uv / m1) * 1000000000000.0) + 0.5)
                                       AS BIGINT)) AS DOUBLE) / 1000000000000.0) AS nn
        FROM u, mu
        WHERE m1 > 0
        GROUP BY m1
    )
    SELECT u.pos, floor((u.uv / nrm.nn) * 1e6 + 0.5) / 1e6 AS loading,
           floor((m.m0 * m.m0 * nrm.nn) * 1e4 + 0.5) / 1e4 AS eigval_est
    FROM u, nrm, m
    ORDER BY u.pos
    """,
    "one PCA power-iteration step: v1 = normalize(X'Xv0), scaled-integer cross-row sums",
)
def emb_pca_power_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    raw = decode_embedding(emb, "vec_id")
    # r14: m (1 row) is read by vals, w and the final select; u (DIM
    # rows) by the matvec result, mu and the final select — unpinned,
    # Catalyst re-derives each subtree per reference (the
    # emb_pca_power_train fan-out in miniature). Pin both tiny frames.
    m = raw.agg(F.max(F.abs("x0")).alias("m0")).transform(pin)
    vals = (
        raw.crossJoin(F.broadcast(m))
        .filter(F.col("m0") > 0)
        .select("vec_id", "pos", (F.col("x0") / F.col("m0")).alias("x"))
    )
    w = (
        emb.crossJoin(F.broadcast(m))
        .filter(F.col("m0") > 0)
        .select(
            "vec_id",
            F.expr(
                "aggregate(embedding, cast(0.0 as double),"
                " (acc, e) -> acc + cast(e as double) / m0 * 0.125)"
            ).alias("wv"),
        )
    )
    u = (
        vals.join(w, "vec_id")
        .select("pos", fround(F.col("x") * F.col("wv") * F.lit(1000000.0)).cast("long").alias("t6"))
        .groupBy("pos")
        .agg((F.sum("t6").cast("double") / F.lit(1000000.0)).alias("uv"))
        .transform(pin)  # DIM rows, read 3x
    )
    mu = u.agg(F.max(F.abs("uv")).alias("m1"))
    r2 = (F.col("uv") / F.col("m1")) * (F.col("uv") / F.col("m1"))
    nrm = (
        u.crossJoin(F.broadcast(mu))
        .filter(F.col("m1") > 0)
        .select("m1", fround(r2 * F.lit(1000000000000.0)).cast("long").alias("q12"))
        .groupBy("m1")
        .agg(
            (F.col("m1") * F.sqrt(F.sum("q12").cast("double") / F.lit(1000000000000.0))).alias(
                "nn"
            )
        )
        .select("nn")
    )
    return (
        u.crossJoin(F.broadcast(nrm))
        .crossJoin(F.broadcast(m))
        .select(
            "pos",
            fround(F.col("uv") / F.col("nn"), 6).alias("loading"),
            fround(F.col("m0") * F.col("m0") * F.col("nn"), 4).alias("eigval_est"),
        )
        .orderBy("pos")
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing — partition each language's docs
# into head/middle/tail terciles by LM-score perplexity (the classic
# quality-partition step before sampling). Composes text_lm_score (the
# oracle nests its SQL — single source of truth); the ppl input is
# already rounded to 4, so scaling by 1e4 gives an exact integer and
# the per-bucket mean is an integer sum + one pinned division.
# ---------------------------------------------------------------------------
def _lm_score_oracle_subquery() -> str:
    from . import textops as _textops  # registered before corpus in __init__

    return REGISTRY["text_lm_score"].oracle_sql


@register(
    "text_ccnet_bucket",
    """
    WITH scored AS ({LM_SCORE}),
    langd AS (
        SELECT s.doc_id, d.lang, s.ppl FROM scored s JOIN documents d USING (doc_id)
    ),
    bucketed AS (
        SELECT lang, ppl,
               ntile(3) OVER (PARTITION BY lang ORDER BY ppl, doc_id) AS tier
        FROM langd
    )
    SELECT lang,
           CASE tier WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
           count(*) AS n_docs,
           floor(((CAST(sum(CAST(floor((ppl * 10000.0) + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0)
                 / count(*)) * 1e4 + 0.5) / 1e4 AS mean_ppl
    FROM bucketed
    GROUP BY lang, tier
    ORDER BY lang, bucket
    """.replace("{LM_SCORE}", REGISTRY["text_lm_score"].oracle_sql),
    "CCNet-style head/middle/tail perplexity terciles per language",
)
def text_ccnet_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import textops as _textops

    scored = _textops.text_lm_score(spark, sf_dir).select("doc_id", "ppl")
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    langd = scored.join(docs, "doc_id")
    # terciles from the grouped two-phase rank + exact integer ntile
    # formula — the oracle's naive per-lang ntile window would sort the
    # whole scored corpus in |langs| tasks. materialize=True (r15, guide
    # §2.4/§5): langd's lineage is the FULL bigram-LM scoring pipeline,
    # which the two-phase rank otherwise re-derives for its bounds
    # sample, counts pass and final join — persisting the per-doc
    # (lang, ppl, doc_id) rows runs the scoring once.
    from .distrank import ntile_expr, with_grouped_rank

    bucketed = with_grouped_rank(
        spark, langd, ["lang"], [F.col("ppl"), F.col("doc_id")],
        rn_col="rn", n_col="n", materialize=True,
    ).withColumn("tier", ntile_expr("rn", "n", 3))
    bucket = (
        F.when(F.col("tier") == 1, "head")
        .when(F.col("tier") == 2, "middle")
        .otherwise("tail")
    )
    p4 = fround(F.col("ppl") * F.lit(10000.0)).cast("long")
    return (
        bucketed.select("lang", "tier", p4.alias("p4"))
        .groupBy("lang", "tier")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            fround(
                (F.sum("p4").cast("double") / F.lit(10000.0)) / F.count(F.lit(1)), 4
            ).alias("mean_ppl"),
        )
        .select("lang", bucket.alias("bucket"), "n_docs", "mean_ppl")
        .orderBy("lang", "bucket")
    )


# ---------------------------------------------------------------------------
# Tokenizer vocabulary coverage — with a fixed top-K corpus vocabulary,
# what fraction of each source's token stream is out-of-vocabulary?
# (The go/no-go check before freezing a tokenizer on new data.) Shape:
# the vocab is a TakeOrderedAndProject top-K (never a global sort) that
# broadcasts back onto the exploded stream; counts are integers
# end-to-end with one pinned division.
# ---------------------------------------------------------------------------
VOCAB_K = 1000


@register(
    "tokenizer_vocab_coverage",
    f"""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    vocab AS (
        SELECT w FROM (
            SELECT w, count(*) AS c FROM toks GROUP BY w
            ORDER BY c DESC, w LIMIT {VOCAB_K}
        )
    )
    SELECT source,
           count(*) AS n_tokens,
           CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           floor((sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) * 1.0 / count(*)) * 1e4 + 0.5) / 1e4
               AS oov_rate
    FROM toks t LEFT JOIN vocab v ON t.w = v.w
    GROUP BY source
    ORDER BY source
    """,
    "per-source OOV rate under a frozen top-K corpus vocabulary",
)
def tokenizer_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(F.split("text", " ")).alias("w"))
    vocab = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(VOCAB_K)
        .select("w", F.lit(1).alias("in_vocab"))
    )
    oov = F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
    return (
        toks.join(F.broadcast(vocab), "w", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            oov.cast("long").alias("n_oov"),
            fround(oov.cast("double") / F.count(F.lit(1)), 4).alias("oov_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Differentially-private stats release — per-source doc counts with
# Laplace(b = 1/epsilon) noise, the shape of a privacy-preserving
# corpus card. The noise is DETERMINISTIC for oracle parity: the
# uniform draw comes from md5(source) (same md5-to-uniform trick as
# sample_weighted), so both engines add the identical perturbation; in
# production the md5 salt would be a secret per-release nonce. Per-row
# scalar double math only — no float aggregates at all.
# ---------------------------------------------------------------------------
DP_EPSILON = 1.0
DP_SALT = "dp-release-1:"

# Laplace inverse-CDF noise from the integer hash draw v in [0, 2^32):
# u = (v + 0.5)/2^32, so 2u = (2v+1)/2^32 and 2(1-u) = (2^33-(2v+1))/2^32
# — both ODD INTEGER numerators, so ln goes through the portable
# integer form: ln(num) - 32 ln2 (32*LN2 is exact: a power-of-two
# scaling of the literal). No libm on either engine. The branch is
# folded into one staged pln chain over `num` (r6 verdict item 4:
# the macro form expanded pln 4x here and cost 3.1x the r5 wall time
# in pure Catalyst tree overhead); selecting the branch's odd integer
# numerator FIRST and taking one pln of it yields the identical value
# each branch computed inline before.
_DP_NUM = (
    "(CASE WHEN v < 2147483648 THEN (2 * v + 1)"
    " ELSE (8589934592 - (2 * v + 1)) END)"
)
_DP_STAGES, _DP_LN = pln_stages("num", "nz")
_DP_NOISE = (
    f"(CASE WHEN v < 2147483648 "
    f"THEN ({_DP_LN} - 32.0 * {LN2}) / {DP_EPSILON} "
    f"ELSE (0.0e0 - ({_DP_LN} - 32.0 * {LN2})) / {DP_EPSILON} END)"
)


@register(
    "dp_noisy_counts",
    f"""
    WITH base AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS n_chars_total
        FROM documents GROUP BY source
    ),
    staged AS (
        {stage_subselects(
            f"SELECT source, n_docs, n_chars_total, "
            f"('0x' || substr(md5('{DP_SALT}' || source), 1, 8))::BIGINT AS v "
            f"FROM base",
            [("num", _DP_NUM)] + _DP_STAGES + [("noise", _DP_NOISE)],
        )}
    )
    SELECT source,
           floor((n_docs + noise) * 1e4 + 0.5) / 1e4 AS noisy_n_docs,
           floor((n_chars_total + noise) * 1e4 + 0.5) / 1e4 AS noisy_n_chars
    FROM staged
    ORDER BY source
    """,
    "DP-style noisy per-source counts: deterministic md5-seeded Laplace(1/epsilon) noise",
)
def dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    base = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars_total"),
    )
    v = F.conv(
        F.substring(F.md5(F.concat(F.lit(DP_SALT), F.col("source")).cast("binary")), 1, 8),
        16,
        10,
    ).cast("long")
    staged = base.withColumn("v", v)
    staged = with_stages(staged, [("num", _DP_NUM)] + _DP_STAGES + [("noise", _DP_NOISE)])
    return staged.select(
        "source",
        fround(F.col("n_docs") + F.col("noise"), 4).alias("noisy_n_docs"),
        fround(F.col("n_chars_total") + F.col("noise"), 4).alias("noisy_n_chars"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# MinHash index evaluation — the tuning readout for the LSH
# band/row configuration: candidate-level recall and precision of the
# banded MinHash candidates against the exact DF-capped Jaccard ground
# truth. Both sides reuse the EXISTING definitions verbatim — the
# candidate CTE chain is dedup.py's _SQL_MINHASH_CANDS and the ground
# truth nests dedup_ngram_jaccard's oracle — so this op can never
# drift from the operators it evaluates. All counts are integers with
# two pinned final divisions; output is one row (the index report).
# ---------------------------------------------------------------------------
@register(
    "dedup_minhash_eval",
    """
    WITH mh AS (
        SELECT doc_a, doc_b FROM (WITH {CANDS} SELECT doc_a, doc_b FROM cands)
    ),
    exact AS (SELECT doc_a, doc_b FROM ({EXACT})),
    counts AS (
        SELECT (SELECT count(*) FROM exact) AS n_exact,
               (SELECT count(*) FROM mh) AS n_candidates,
               (SELECT count(*) FROM exact JOIN mh USING (doc_a, doc_b)) AS n_hit
    )
    SELECT n_exact, n_candidates, n_hit,
           floor((n_hit * 1.0 / greatest(n_exact, 1)) * 1e4 + 0.5) / 1e4 AS recall,
           floor((n_hit * 1.0 / greatest(n_candidates, 1)) * 1e4 + 0.5) / 1e4 AS precision_cand
    FROM counts
    """
    .replace("{CANDS}", _dedup._SQL_MINHASH_CANDS)
    .replace("{EXACT}", REGISTRY["dedup_ngram_jaccard"].oracle_sql),
    "LSH index tuning report: candidate recall/precision vs exact Jaccard ground truth",
)
def dedup_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs, cands = _dedup._minhash_docs_and_cands(spark, sf_dir)
    # the exact ground truth re-derives from the helper's PINNED per-doc
    # gram sets (docs.gs holds the same DF-capped xxhash64 grams
    # dedup_ngram_jaccard builds), so the corpus shingle pipeline runs
    # once for both sides instead of twice — measured 3.0 s -> ~2 s at
    # sf0.1 with identical output
    grams = docs.select("doc_id", F.explode("gs").alias("gh"))
    gc = docs.select("doc_id", F.col("n"))
    a = grams.select(F.col("doc_id").alias("doc_a"), "gh")
    b = grams.select(F.col("doc_id").alias("doc_b"), "gh")
    inter = (
        a.join(b, "gh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ga = gc.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    gb = gc.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_shared") / (F.col("na") + F.col("nb") - F.col("n_shared"))
    # r14 (guide §2.4): exact feeds BOTH ne and nh, cands feeds BOTH nc
    # and nh — unpinned, each reference re-ran the full gram self-join /
    # band self-join from the pinned docs (34 Exchanges in the
    # r13 executedPlan). Pin the two small pair frames so each pipeline
    # runs once.
    exact = (
        inter.join(ga, "doc_a")
        .join(gb, "doc_b")
        .filter(jac >= _dedup.JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
        .transform(pin)
    )
    cands = pin(cands)
    ne = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    nc = cands.agg(F.count(F.lit(1)).alias("n_candidates"))
    nh = exact.join(cands, ["doc_a", "doc_b"]).agg(F.count(F.lit(1)).alias("n_hit"))
    return ne.crossJoin(nc).crossJoin(nh).select(
        "n_exact",
        "n_candidates",
        "n_hit",
        fround(F.col("n_hit").cast("double") / F.greatest(F.col("n_exact"), F.lit(1)), 4).alias(
            "recall"
        ),
        fround(
            F.col("n_hit").cast("double") / F.greatest(F.col("n_candidates"), F.lit(1)), 4
        ).alias("precision_cand"),
    )


# ---------------------------------------------------------------------------
# Market-basket co-occurrence mining — top part pairs ordered together
# (association-rule support counting, the classic retail/recсo prep
# step). Shape: the within-order self-join is bounded by basket size
# (≤ 13 items/order in this data → ≤ 78 pairs), so the pair explosion
# is linear in orders, never quadratic in parts; support counting is a
# hash agg on (part_a, part_b) and the top-k is TakeOrderedAndProject.
# Integer counts end-to-end.
# ---------------------------------------------------------------------------
BASKET_TOP = 25


@register(
    "basket_part_pairs",
    f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT part_a, part_b, count(*) AS support
    FROM pairs
    GROUP BY part_a, part_b
    ORDER BY support DESC, part_a, part_b
    LIMIT {BASKET_TOP}
    """,
    "market-basket mining: top co-ordered part pairs by support (bounded basket fan-out)",
)
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    )
    a = li.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_a"))
    b = li.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .orderBy(F.col("support").desc(), "part_a", "part_b")
        .limit(BASKET_TOP)
    )


# ---------------------------------------------------------------------------
# Embedding-space outlier filter — flag vectors far from their label's
# centroid (the "drop mislabeled/garbage embeddings" curation step).
# Distances use the same scaled-integer discipline as the kmeans loop:
# the per-dim centroid mean and the per-vector squared-distance sum are
# both integer SUMs of quantized terms, so no cross-row double
# aggregate exists; the 1.5×mean-distance threshold is a pinned
# scalar comparison. Shape: one posexplode + (label,pos) hash agg for
# centroids (tiny), broadcast back, per-vector integer agg — the whole
# corpus shuffles once on vec_id.
# ---------------------------------------------------------------------------
OUTLIER_FACTOR = 1.5


@register(
    "emb_outlier_filter",
    """
    WITH raw AS (
        SELECT vec_id, label, CAST(i AS INTEGER) - 1 AS pos,
               CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS x0
        FROM embeddings, LATERAL unnest(range(1, len(embedding) + 1)) t(i)
    ),
    m AS (SELECT greatest(max(abs(x0)), 1e-300) AS m0 FROM raw),
    vals AS (SELECT vec_id, label, pos, x0 / m0 AS x FROM raw, m),
    cen AS (
        SELECT label, pos,
               (CAST(sum(CAST(floor((x * 1000000.0) + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0)
                   / count(*) AS c
        FROM vals GROUP BY label, pos
    ),
    d2 AS (
        SELECT v.vec_id, v.label,
               CAST(sum(CAST(floor(((v.x - c.c) * (v.x - c.c) * 1000000000.0) + 0.5) AS BIGINT))
                    AS DOUBLE) / 1000000000.0 AS dist2
        FROM vals v JOIN cen c ON v.label = c.label AND v.pos = c.pos
        GROUP BY v.vec_id, v.label
    ),
    dist AS (SELECT vec_id, label, sqrt(dist2) AS d FROM d2),
    md AS (
        SELECT label,
               (CAST(sum(CAST(floor((d * 1000000.0) + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0)
                   / count(*) AS mean_d
        FROM dist GROUP BY label
    )
    SELECT dist.label,
           count(*) AS n_vecs,
           floor((m.m0 * max(md.mean_d)) * 1e6 + 0.5) / 1e6 AS mean_dist,
           CAST(sum(CASE WHEN dist.d > 1.5 * md.mean_d THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outliers
    FROM dist
    JOIN md ON dist.label = md.label, m
    GROUP BY dist.label, m.m0
    ORDER BY dist.label
    """,
    "embedding outlier filter: per-label centroid distance vs 1.5x mean-distance threshold",
)
def emb_outlier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    raw = decode_embedding(emb, "vec_id", "label")
    # magnitude normalization (exact max aggregate) so the quantized
    # distance terms can never overflow BIGINT at any input scale; the
    # reported mean_dist un-scales by m0, and both the assignment and
    # the 1.5x-mean outlier test are scale-invariant. The 1e-300 floor
    # makes an all-zero corpus yield zero distances instead of NULLs.
    # r15 (guide §2.4, r14-verdict item 1): m is read by vals AND the
    # final select, cen by the d2 join, dist by md AND the final
    # aggregate — unpinned, Catalyst re-derived the whole posexplode +
    # aggregate subtree per reference (18 parquet scans in the
    # pre-execution plan, collapsing only if AQE's runtime
    # ReusedExchange rescue fires). Pin the model-sized frames (m: 1
    # row, cen: labels x DIM) eagerly-lazily and the per-vector dist
    # frame (3 narrow columns, one row per vector — 64x smaller than
    # the exploded stream it derives from), exactly the
    # emb_pca_power_train pattern.
    m = raw.agg(F.greatest(F.max(F.abs("x0")), F.lit(1e-300)).alias("m0")).transform(pin)
    vals = raw.crossJoin(F.broadcast(m)).select(
        "vec_id", "label", "pos", (F.col("x0") / F.col("m0")).alias("x")
    )
    m6 = F.lit(1000000.0)
    cen = vals.groupBy("label", "pos").agg(
        ((F.sum(fround(F.col("x") * m6).cast("long")).cast("double") / m6) / F.count(F.lit(1))).alias(
            "c"
        )
    ).transform(pin)
    diff2 = (F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))
    d2 = (
        vals.join(F.broadcast(cen), ["label", "pos"])
        .select(
            "vec_id",
            "label",
            fround(diff2 * F.lit(1000000000.0)).cast("long").alias("q9"),
        )
        .groupBy("vec_id", "label")
        .agg((F.sum("q9").cast("double") / F.lit(1000000000.0)).alias("dist2"))
    )

    dist = d2.select("vec_id", "label", F.sqrt("dist2").alias("d")).transform(pin)
    md = dist.groupBy("label").agg(
        ((F.sum(fround(F.col("d") * m6).cast("long")).cast("double") / m6) / F.count(F.lit(1))).alias(
            "mean_d"
        )
    )
    return (
        dist.join(F.broadcast(md), "label")
        .crossJoin(F.broadcast(m))
        .groupBy("label", "m0")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            fround(F.max("m0") * F.max("mean_d"), 6).alias("mean_dist"),
            F.sum(F.when(F.col("d") > F.lit(OUTLIER_FACTOR) * F.col("mean_d"), 1).otherwise(0))
            .cast("long")
            .alias("n_outliers"),
        )
        .select("label", "n_vecs", "mean_dist", "n_outliers")
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Time-weighted average over irregular samples — the correct mean for
# unevenly-spaced telemetry (each value holds until the next sample;
# an arithmetic mean over-weights bursts). Weight = gap to the next
# event in INTEGER microseconds (lead over a per-type window). The
# quantized term is SPAN-NORMALIZED — round(v · gap·10⁴ / span) — so
# each term is bounded by |v|·10⁴ regardless of gap magnitude and the
# integer sum can never overflow BIGINT on extreme values (a raw
# round(v·gap_µs) hits 5e19 on the adversarial corpus: DuckDB raises,
# Spark's cast clamps silently — same trap the vector ops had); the
# normalized terms already sum to twa·10⁴, so the finish is one
# division.
# ---------------------------------------------------------------------------
@register(
    "events_time_weighted_avg",
    """
    WITH seq AS (
        SELECT event_type, value,
               epoch_us(ts) AS t_us,
               lead(epoch_us(ts)) OVER (PARTITION BY event_type
                                        ORDER BY ts, event_id) AS t_next
        FROM events
    ),
    seg AS (
        SELECT event_type, value, t_next - t_us AS gap_us
        FROM seq WHERE t_next IS NOT NULL
    ),
    spans AS (
        SELECT event_type, CAST(sum(gap_us) AS BIGINT) AS span_us
        FROM seg GROUP BY event_type
    )
    SELECT s.event_type,
           count(*) AS n_segments,
           max(sp.span_us) AS span_us,
           floor((CAST(sum(CAST(floor((s.value * s.gap_us * 10000.0 / sp.span_us) + 0.5)
                               AS BIGINT)) AS DOUBLE) / 10000.0) * 1e4 + 0.5) / 1e4 AS twa_value
    FROM seg s JOIN spans sp ON s.event_type = sp.event_type
    GROUP BY s.event_type
    ORDER BY s.event_type
    """,
    "time-weighted average of event values over irregular sampling gaps (integer-µs weights)",
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .timewin import with_next_us

    events = table(spark, sf_dir, "events")
    # per-type lead via the time-slice boundary hand-off (timewin):
    # event_type has ~4 values, so the oracle's naive window would sort
    # the whole event stream in 4 tasks at scale. unix_micros preserves
    # ts order exactly, so the (t_us, event_id) sequence is the
    # oracle's (ts, event_id) sequence.
    seq = with_next_us(
        events.select(
            "event_type", "value", F.unix_micros("ts").alias("t_us"), "event_id"
        ),
        ["event_type"],
        "t_us",
        "event_id",
        out_col="t_next",
    )
    seg = (
        seq.filter(F.col("t_next").isNotNull())
        .select(
            "event_type", "value", (F.col("t_next") - F.col("t_us")).alias("gap_us")
        )
        # seg (the lead-window derivation) feeds the span totals AND the
        # weighted-term join; unpinned, the window ran twice
        .transform(pin)
    )
    spans = seg.groupBy("event_type").agg(F.sum("gap_us").cast("long").alias("span_us"))
    term = fround(
        F.col("value") * F.col("gap_us") * F.lit(10000.0) / F.col("span_us")
    ).cast("long")
    return (
        seg.join(F.broadcast(spans), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.max("span_us").alias("span_us"),
            fround(F.sum(term).cast("double") / F.lit(10000.0), 4).alias("twa_value"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Sliding-window distinct counting — exact distinct users per 7-day
# window stepping daily. Distinct counts don't merge across windows
# (unlike sums), so the correct distributed shape is the bounded
# explode: each event replicates into exactly the 7 windows containing
# it (fan-out = window/step, a constant), then one (window, user) hash
# agg — never a quadratic self-join, never a driver loop. Integer
# counts only.
# ---------------------------------------------------------------------------
SLIDE_WINDOW_DAYS = 7


@register(
    "events_sliding_distinct",
    f"""
    WITH ev AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d, user_id FROM events
    ),
    bounds AS (SELECT min(d) AS d_min FROM ev),
    exploded AS (
        SELECT CAST(w AS DATE) AS window_start, user_id
        FROM ev, bounds,
             LATERAL unnest(generate_series(d - INTERVAL {SLIDE_WINDOW_DAYS - 1} DAY,
                                            d, INTERVAL 1 DAY)) t(w)
        WHERE CAST(w AS DATE) >= d_min
    )
    SELECT CAST(window_start AS VARCHAR) AS window_start,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM exploded
    GROUP BY window_start
    ORDER BY window_start
    """,
    "exact distinct users per 7-day sliding window via bounded event replication",
)
def events_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    ev = events.select(F.to_date(F.date_trunc("day", "ts")).alias("d"), "user_id")
    bounds = ev.agg(F.min("d").alias("d_min"))
    exploded = (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            F.explode(
                F.expr(f"sequence(date_sub(d, {SLIDE_WINDOW_DAYS - 1}), d, interval 1 day)")
            ).alias("window_start"),
            "user_id",
            "d_min",
        )
        .filter(F.col("window_start") >= F.col("d_min"))
    )
    return (
        exploded.groupBy("window_start")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .select(
            F.col("window_start").cast("string").alias("window_start"),
            "n_events",
            "n_users",
        )
        .orderBy("window_start")
    )


# ---------------------------------------------------------------------------
# Distribution-drift detection (two-sample Kolmogorov–Smirnov) — is the
# incoming batch's length distribution drifting from the standing
# corpus? The KS statistic is computed ENTIRELY in integers: the max
# CDF gap is maximized as |cum_a·n_b − cum_b·n_a| (cross-multiplied
# counts — no float compare decides the argmax), with a single final
# division. The cumulative window runs over the DISTINCT value domain
# (hundreds of lengths), not the corpus — a deliberate single-partition
# window over a provably tiny input, same rationale as q18's quantile
# spine.
# ---------------------------------------------------------------------------
@register(
    "drift_ks_length",
    """
    WITH tagged AS (
        SELECT n_chars AS x,
               CASE WHEN doc_id % 7 = 3 THEN 1 ELSE 0 END AS in_a
        FROM documents
    ),
    tot AS (SELECT CAST(sum(in_a) AS BIGINT) AS n_a,
                   CAST(sum(1 - in_a) AS BIGINT) AS n_b FROM tagged),
    per_x AS (
        SELECT x, CAST(sum(in_a) AS BIGINT) AS ca, CAST(sum(1 - in_a) AS BIGINT) AS cb
        FROM tagged GROUP BY x
    ),
    cum AS (
        SELECT x,
               sum(ca) OVER (ORDER BY x) AS cum_a,
               sum(cb) OVER (ORDER BY x) AS cum_b
        FROM per_x
    ),
    gaps AS (
        SELECT x, abs(cum_a * n_b - cum_b * n_a) AS gap, n_a, n_b
        FROM cum, tot
    )
    SELECT n_a, n_b, x AS at_value,
           floor((CAST(gap AS DOUBLE) / (n_a * n_b)) * 1e6 + 0.5) / 1e6 AS ks_stat
    FROM gaps
    ORDER BY gap DESC, x
    LIMIT 1
    """,
    "two-sample KS drift test on length distributions, integer cross-multiplied CDF argmax",
)
def drift_ks_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tagged = docs.select(
        F.col("n_chars").alias("x"),
        F.when(F.col("doc_id") % 7 == 3, 1).otherwise(0).alias("in_a"),
    )
    tot = tagged.agg(
        F.sum("in_a").cast("long").alias("n_a"),
        F.sum(F.lit(1) - F.col("in_a")).cast("long").alias("n_b"),
    )
    per_x = tagged.groupBy("x").agg(
        F.sum("in_a").cast("long").alias("ca"),
        F.sum(F.lit(1) - F.col("in_a")).cast("long").alias("cb"),
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = per_x.select(
        "x", F.sum("ca").over(w).alias("cum_a"), F.sum("cb").over(w).alias("cum_b")
    )
    gaps = cum.crossJoin(F.broadcast(tot)).select(
        "x",
        F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")).alias("gap"),
        "n_a",
        "n_b",
    )
    return (
        gaps.orderBy(F.col("gap").desc(), "x")
        .limit(1)
        .select(
            "n_a",
            "n_b",
            F.col("x").alias("at_value"),
            fround(F.col("gap").cast("double") / (F.col("n_a") * F.col("n_b")), 6).alias(
                "ks_stat"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Product-quantization code assignment — the memory-compression sibling
# of IVF: split each vector into PQ_SUBS subvectors, assign each
# subvector to its nearest of PQ_CODES per-subspace centroids, and
# report codebook utilization + quantization error. Complements
# embedding_quantize (scalar) and ann_ivf_topk (full-vector cells).
# Determinism/parity: centroids come from the PQ_CODES corpus vectors
# with the smallest md5('pq:'||vec_id) (the same seedless sample trick
# as the IVF seed); every distance is an INTEGER sum of per-element
# quantized squared diffs, so the argmin compares integers — no float
# tie can diverge between engines. Shape: one posexplode, a broadcast
# 256-row centroid table, hash aggs on (vec_id, sub[, code]); the
# ×PQ_CODES fan-out is a constant.
# ---------------------------------------------------------------------------
PQ_SUBS = 4
PQ_SUBDIM = 16  # DIM 64 / 4 subspaces
PQ_CODES = 4
PQ_SALT = "pq:"


@register(
    "emb_pq_codes",
    f"""
    WITH seeds AS (
        SELECT vec_id, embedding,
               row_number() OVER (ORDER BY md5('{PQ_SALT}' || CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM embeddings
        QUALIFY rn <= {PQ_CODES}
    ),
    rawvals AS (
        SELECT vec_id, (CAST(i AS INTEGER) - 1) // {PQ_SUBDIM} AS sub,
               CAST(i AS INTEGER) - 1 AS pos,
               CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS x0
        FROM embeddings, LATERAL unnest(range(1, len(embedding) + 1)) t(i)
    ),
    m AS (SELECT greatest(max(abs(x0)), 1e-300) AS m0 FROM rawvals),
    cen AS (
        SELECT (CAST(i AS INTEGER) - 1) // {PQ_SUBDIM} AS sub,
               rn - 1 AS code,
               CAST(i AS INTEGER) - 1 AS pos,
               CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) / m.m0 AS c
        FROM seeds, m, LATERAL unnest(range(1, len(embedding) + 1)) t(i)
    ),
    vals AS (SELECT vec_id, sub, pos, x0 / m0 AS x FROM rawvals, m),
    d AS (
        SELECT v.vec_id, v.sub, c.code,
               sum(CAST(floor(((v.x - c.c) * (v.x - c.c) * 1000000000.0) + 0.5) AS BIGINT)) AS q9
        FROM vals v JOIN cen c ON v.pos = c.pos
        GROUP BY v.vec_id, v.sub, c.code
    ),
    assigned AS (
        SELECT vec_id, sub, code, q9,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY q9, code) AS rk
        FROM d
    )
    SELECT a.sub, a.code,
           count(*) AS n_assigned,
           floor((m.m0 * m.m0 * (CAST(sum(a.q9) AS DOUBLE) / 1000000000.0) / count(*)) * 1e6 + 0.5) / 1e6
               AS mean_dist2
    FROM assigned a, m
    WHERE a.rk = 1
    GROUP BY a.sub, a.code, m.m0
    ORDER BY a.sub, a.code
    """,
    "product-quantization assignment: per-subspace nearest-centroid codes, integer-distance argmin",
)
def emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    # seed pick is TakeOrderedAndProject (top-4 under the md5 total
    # order), NOT a global row_number window — a full-table
    # single-partition window would funnel the whole corpus through one
    # task at scale; the rank window below runs over 4 rows only
    md5key = F.md5(F.concat(F.lit(PQ_SALT), F.col("vec_id").cast("string")).cast("binary"))
    seeds4 = (
        emb.select("vec_id", "embedding", md5key.alias("mk"))
        .orderBy("mk", "vec_id")
        .limit(PQ_CODES)
    )
    seeds = seeds4.withColumn(
        "rn", F.row_number().over(Window.orderBy("mk", "vec_id"))
    )
    rawvals = decode_embedding(emb, "vec_id", subdim=PQ_SUBDIM)
    # magnitude normalization (exact max aggregate): bounded quantized
    # distance terms at any input scale; assignment is scale-invariant
    # and mean_dist2 un-scales by m0^2 (see emb_pca_power_step)
    m = rawvals.agg(F.greatest(F.max(F.abs("x0")), F.lit(1e-300)).alias("m0"))
    cen = (
        seeds.select(
            (F.col("rn") - 1).alias("code"), F.posexplode("embedding").alias("pos", "cf")
        )
        .crossJoin(F.broadcast(m))
        .select(
            (F.col("pos") / PQ_SUBDIM).cast("int").alias("sub"),
            "code",
            "pos",
            (F.col("cf").cast("double") / F.col("m0")).alias("c"),
        )
    )
    vals = rawvals.crossJoin(F.broadcast(m)).select(
        "vec_id", "sub", "pos", (F.col("x0") / F.col("m0")).alias("x")
    )
    q9 = fround((F.col("x") - F.col("c")) * (F.col("x") - F.col("c")) * F.lit(1000000000.0)).cast(
        "long"
    )
    d = (
        vals.join(F.broadcast(cen.drop("sub")), "pos")
        .select("vec_id", "sub", "code", q9.alias("t9"))
        .groupBy("vec_id", "sub", "code")
        .agg(F.sum("t9").alias("q9"))
    )
    rk_w = Window.partitionBy("vec_id", "sub").orderBy("q9", "code")
    assigned = d.withColumn("rk", F.row_number().over(rk_w)).filter(F.col("rk") == 1)
    return (
        assigned.crossJoin(F.broadcast(m))
        .groupBy("sub", "code", "m0")
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            fround(
                F.max("m0")
                * F.max("m0")
                * (F.sum("q9").cast("double") / F.lit(1000000000.0))
                / F.count(F.lit(1)),
                6,
            ).alias("mean_dist2"),
        )
        .select("sub", "code", "n_assigned", "mean_dist2")
        .orderBy("sub", "code")
    )


# ---------------------------------------------------------------------------
# Triangle counting / clustering coefficient over the co-purchase
# graph — the canonical distributed graph metric (community density,
# recommendation quality). Edges = part pairs co-ordered >= 2 times
# (the support floor keeps the graph meaningful); triangles come from
# the ORIENTED wedge join (a<b<c), which counts each triangle exactly
# once and bounds the wedge fan-out — at scale the orientation would be
# by degree (lowest-degree vertex first), which caps the join blow-up
# on power-law graphs; id order is the same mechanism and matches the
# oracle literally. All counts integral; one pinned division for the
# clustering coefficient.
# ---------------------------------------------------------------------------
TRIANGLE_MIN_SUPPORT = 2


@register(
    "graph_triangle_count",
    f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
        SELECT a.l_partkey AS va, b.l_partkey AS vb
        FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= {TRIANGLE_MIN_SUPPORT}
    ),
    deg AS (
        SELECT v, count(*) AS d
        FROM (SELECT va AS v FROM edges UNION ALL SELECT vb FROM edges)
        GROUP BY v
    ),
    wedges AS (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges FROM deg),
    tri AS (
        SELECT count(*) AS n_triangles
        FROM edges e1
        JOIN edges e2 ON e1.vb = e2.va
        JOIN edges e3 ON e3.va = e1.va AND e3.vb = e2.vb
    )
    SELECT (SELECT count(*) FROM edges) AS n_edges,
           (SELECT count(*) FROM deg) AS n_vertices,
           w.n_wedges,
           t.n_triangles,
           floor((3.0 * t.n_triangles / greatest(w.n_wedges, 1)) * 1e6 + 0.5) / 1e6 AS clustering_coeff
    FROM wedges w, tri t
    """,
    "triangle count + global clustering coefficient via oriented wedge join on the co-order graph",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a = li.select("l_orderkey", F.col("l_partkey").alias("va"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("vb"))
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("va") < F.col("vb"))
        .groupBy("va", "vb")
        .agg(F.count(F.lit(1)).alias("s"))
        .filter(F.col("s") >= TRIANGLE_MIN_SUPPORT)
        .select("va", "vb")
        .transform(pin)  # feeds deg + three join sides
    )
    deg = (
        edges.select(F.col("va").alias("v"))
        .unionAll(edges.select(F.col("vb").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
        .transform(pin)  # r14: feeds wedges AND n_vertices
    )
    wedges = deg.agg(
        F.sum((F.col("d") * (F.col("d") - 1) / 2)).cast("long").alias("n_wedges")
    )
    e1 = edges.select(F.col("va").alias("x"), F.col("vb").alias("y"))
    e2 = edges.select(F.col("va").alias("y"), F.col("vb").alias("z"))
    e3 = edges.select(F.col("va").alias("x"), F.col("vb").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"]).agg(F.count(F.lit(1)).alias("n_triangles"))
    ne = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    nv = deg.agg(F.count(F.lit(1)).alias("n_vertices"))
    return (
        ne.crossJoin(nv)
        .crossJoin(wedges)
        .crossJoin(tri)
        .select(
            "n_edges",
            "n_vertices",
            "n_wedges",
            "n_triangles",
            fround(
                F.lit(3.0) * F.col("n_triangles") / F.greatest(F.col("n_wedges"), F.lit(1)), 6
            ).alias("clustering_coeff"),
        )
    )


# ---------------------------------------------------------------------------
# Seasonal-baseline anomaly detection — score each day's event volume
# against its day-of-week baseline (weekday seasonality is the
# first-order pattern in traffic data; a global mean flags every
# weekend) and surface the most deviant (type, day) cells. Variance
# comes from INTEGER sums (Σx, Σx²) via the computational formula, so
# the σ² numerator n·Σx² − (Σx)² is an exact integer in both engines;
# z is derived from those identical integers with pinned float ops and
# pre-rounded before the top-k cutoff so the LIMIT boundary can't flip
# on a last-ulp disagreement.
# ---------------------------------------------------------------------------
SEASONAL_TOP = 10


@register(
    "events_seasonal_baseline",
    f"""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS n
        FROM events GROUP BY 1, 2
    ),
    keyed AS (SELECT event_type, d, dayofweek(d) AS dow, n FROM daily),
    base AS (
        SELECT event_type, dow,
               count(*) AS n_days,
               CAST(sum(n) AS BIGINT) AS sx,
               CAST(sum(n * n) AS BIGINT) AS sxx
        FROM keyed GROUP BY event_type, dow
    ),
    scored AS (
        SELECT k.event_type, CAST(k.d AS VARCHAR) AS day, k.n,
               floor((CAST(b.sx AS DOUBLE) / b.n_days) * 1e4 + 0.5) / 1e4 AS dow_mean,
               floor((abs(k.n * b.n_days - b.sx)
                     / sqrt(CAST(b.n_days * b.sxx - b.sx * b.sx AS DOUBLE))) * 1e4 + 0.5) / 1e4 AS z
        FROM keyed k JOIN base b ON k.event_type = b.event_type AND k.dow = b.dow
        WHERE b.n_days >= 3 AND b.n_days * b.sxx > b.sx * b.sx
    )
    SELECT event_type, day, n, dow_mean, z
    FROM scored
    ORDER BY z DESC, event_type, day
    LIMIT {SEASONAL_TOP}
    """,
    "day-of-week seasonal baseline: top-k most deviant (type, day) cells by integer-derived z",
)
def events_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    keyed = daily.select("event_type", "d", F.dayofweek("d").alias("dow"), "n")
    base = keyed.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n").cast("long").alias("sx"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("sxx"),
    )
    j = keyed.join(F.broadcast(base), ["event_type", "dow"])
    var_num = (F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    # z = |n·n_days − Σx| / sqrt(n_days·Σx² − (Σx)²): the numerator is an
    # exact integer (n_days cancels out of the usual σ form)
    z = fround(
        F.abs(F.col("n") * F.col("n_days") - F.col("sx")) / F.sqrt(var_num), 4
    )
    return (
        j.filter((F.col("n_days") >= 3) & (var_num > 0))
        .select(
            "event_type",
            F.col("d").cast("string").alias("day"),
            "n",
            fround(F.col("sx").cast("double") / F.col("n_days"), 4).alias("dow_mean"),
            z.alias("z"),
        )
        .orderBy(F.col("z").desc(), "event_type", "day")
        .limit(SEASONAL_TOP)
    )


# ---------------------------------------------------------------------------
# Pareto concentration — how many top customers make up 80% of
# revenue? Revenue is exact integer cents; the cumulative share runs as
# a window over the CUSTOMER dimension (already 1/400th of the fact
# table after the per-customer agg — documented domain-sized window,
# same rationale as drift_ks_length; at extreme cardinality swap in the
# two-phase prefix-sum of text_pack_sequences). The 80% crossing is
# decided on integers: 5·cum_cents >= 4·total_cents.
# ---------------------------------------------------------------------------
@register(
    "orders_pareto",
    """
    WITH cust AS (
        SELECT o_custkey,
               CAST(sum(CAST(floor((o_totalprice * 100.0) + 0.5) AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ),
    tot AS (SELECT CAST(sum(cents) AS BIGINT) AS total_cents, count(*) AS n_customers FROM cust),
    ranked AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents DESC, o_custkey) AS rk,
               sum(cents) OVER (ORDER BY cents DESC, o_custkey) AS cum_cents
        FROM cust
    )
    SELECT t.n_customers,
           min(r.rk) AS n_top_80,
           floor((min(r.rk) * 1.0 / t.n_customers) * 1e4 + 0.5) / 1e4 AS top_share_of_customers
    FROM ranked r, tot t
    WHERE 5 * r.cum_cents >= 4 * t.total_cents
    GROUP BY t.n_customers
    """,
    "Pareto concentration: smallest top-customer set holding 80% of revenue (integer-cents crossing)",
)
def orders_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.sum(fround(F.col("o_totalprice") * 100.0).cast("long")).alias("cents")
    )
    tot = cust.agg(
        F.sum("cents").cast("long").alias("total_cents"),
        F.count(F.lit(1)).alias("n_customers"),
    )
    # two-phase distributed rank+cumsum (see distrank.py): a bare global
    # window here would funnel the whole customer dimension into one task
    from .distrank import with_global_rank

    ranked = with_global_rank(
        spark,
        cust,
        [(F.col("cents"), False), F.col("o_custkey")],
        rn_col="rk",
        cum_col="cum_cents",
        cum_src="cents",
    ).select("cents", "rk", "cum_cents")
    return (
        ranked.crossJoin(F.broadcast(tot))
        .filter(F.lit(5) * F.col("cum_cents") >= F.lit(4) * F.col("total_cents"))
        .groupBy("n_customers")
        .agg(
            F.min("rk").alias("n_top_80"),
            fround(F.min("rk").cast("double") / F.max("n_customers"), 4).alias(
                "top_share_of_customers"
            ),
        )
        .select("n_customers", "n_top_80", "top_share_of_customers")
    )


# ---------------------------------------------------------------------------
# Batch CUSUM over daily volumes — the backfill twin of the streaming
# detector (streaming/cusum.py): per event type, fold the restart-
# after-signal CUSUM recurrence s ← max(0, s + (x − μ) ∓ k) over the
# DAILY count series and emit the alarm days. The recurrence is not
# window-expressible (non-linear prefix dependence), so this is the
# (b)-tier custom-operator case: the heavy part (events → daily counts)
# is a distributed hash agg; the inherently-sequential fold then runs
# per key over the TINY daily series inside an Arrow applyInPandas
# (at 100 TB the per-key series is still only one row per day; for
# long horizons the max(0, s+δ) recurrence composes associatively —
# f_seq(s) = max(M, s + T) — so a two-phase scan exists if ever
# needed). The oracle replays the identical fold as a recursive CTE.
# Parity: μ, slack, and threshold derive from integer sums with pinned
# expressions; the fold applies identical double ops in identical
# (day) order, so every s value matches bit-for-bit.
# ---------------------------------------------------------------------------
CUSUM_SLACK_FRAC = 0.02  # k = 2% of the mean
CUSUM_H_FRAC = 0.1  # alarm at 10% of the mean


@register(
    "events_cusum_daily",
    f"""
    WITH RECURSIVE daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS n
        FROM events GROUP BY 1, 2
    ),
    seq AS (
        SELECT event_type, d, n,
               row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn
        FROM daily
    ),
    params AS (
        SELECT event_type,
               CAST(sum(n) AS DOUBLE) / count(*) AS mu,
               {CUSUM_SLACK_FRAC} * (CAST(sum(n) AS DOUBLE) / count(*)) AS k,
               {CUSUM_H_FRAC} * (CAST(sum(n) AS DOUBLE) / count(*)) AS h,
               count(*) AS n_days
        FROM seq GROUP BY event_type
    ),
    walk(event_type, rn, s_pos, s_neg, alarm, d, n) AS (
        SELECT p.event_type, CAST(0 AS BIGINT),
               CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
               CAST(NULL AS VARCHAR), CAST(NULL AS DATE), CAST(NULL AS BIGINT)
        FROM params p
        UNION ALL
        SELECT w.event_type, w.rn + 1,
               CASE WHEN greatest(0.0, w.s_pos + (s.n - p.mu) - p.k) > p.h
                      OR greatest(0.0, w.s_neg + (p.mu - s.n) - p.k) > p.h
                    THEN 0.0 ELSE greatest(0.0, w.s_pos + (s.n - p.mu) - p.k) END,
               CASE WHEN greatest(0.0, w.s_pos + (s.n - p.mu) - p.k) > p.h
                      OR greatest(0.0, w.s_neg + (p.mu - s.n) - p.k) > p.h
                    THEN 0.0 ELSE greatest(0.0, w.s_neg + (p.mu - s.n) - p.k) END,
               CASE WHEN greatest(0.0, w.s_pos + (s.n - p.mu) - p.k) > p.h THEN 'up'
                    WHEN greatest(0.0, w.s_neg + (p.mu - s.n) - p.k) > p.h THEN 'down'
                    ELSE NULL END,
               s.d, s.n
        FROM walk w
        JOIN params p ON p.event_type = w.event_type
        JOIN seq s ON s.event_type = w.event_type AND s.rn = w.rn + 1
        WHERE w.rn < p.n_days
    )
    SELECT event_type, CAST(d AS VARCHAR) AS day, n, alarm AS direction
    FROM walk
    WHERE alarm IS NOT NULL
    ORDER BY event_type, day
    """,
    "batch CUSUM over daily event volumes: restart-after-signal alarms, recursive-CTE oracle",
)
def events_cusum_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    events = table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    params = daily.groupBy("event_type").agg(
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("mu")
    )
    joined = daily.join(F.broadcast(params), "event_type")

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("d", kind="stable")
        mu = float(pdf["mu"].iloc[0])
        k = CUSUM_SLACK_FRAC * mu
        h = CUSUM_H_FRAC * mu
        s_pos = s_neg = 0.0
        out = {"event_type": [], "day": [], "n": [], "direction": []}
        for _, row in pdf.iterrows():
            n = float(row["n"])
            cand_pos = max(0.0, s_pos + (n - mu) - k)
            cand_neg = max(0.0, s_neg + (mu - n) - k)
            if cand_pos > h or cand_neg > h:
                out["event_type"].append(row["event_type"])
                out["day"].append(str(row["d"]))
                out["n"].append(int(row["n"]))
                out["direction"].append("up" if cand_pos > h else "down")
                s_pos = s_neg = 0.0
            else:
                s_pos, s_neg = cand_pos, cand_neg
        return pd.DataFrame(out)

    return (
        joined.groupBy("event_type")
        .applyInPandas(fold, "event_type string, day string, n bigint, direction string")
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# Two-iteration PCA power training — the trained sibling of
# emb_pca_power_step, completing the iterative triad (kmeans_train,
# dedup_clusters, this): v2 = normalize(X'X · normalize(X'X v0)).
# Iteration 2's row projection w2 = X'v1 can no longer use an in-row
# fold (v1 is a computed 64-row table, not a constant), so it is a
# pos-join + per-row integer sum of quantized products — the same
# shape the update uses, keeping every cross-row aggregate integral.
# All magnitude handling follows emb_pca_power_step: inputs normalize
# by the global max-abs m0; each intermediate vector re-normalizes by
# its own max-abs before its norm is quantized; the eigenvalue
# estimate un-scales as m0²·‖u2‖. The oracle replays the full chain
# as chained CTEs (the kmeans_train pattern). Only 64-row model state
# flows between iterations — the corpus never revisits the driver.
# ---------------------------------------------------------------------------
@register(
    "emb_pca_power_train",
    """
    WITH raw AS (
        SELECT vec_id, CAST(i AS INTEGER) - 1 AS pos,
               CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS x0
        FROM embeddings, LATERAL unnest(range(1, len(embedding) + 1)) t(i)
    ),
    m AS (SELECT max(abs(x0)) AS m0 FROM raw),
    vals AS (SELECT vec_id, pos, x0 / m0 AS x FROM raw, m WHERE m0 > 0),
    w1 AS (
        SELECT vec_id,
               list_sum([embedding[i]::DOUBLE / m.m0 * 0.125
                         for i in range(1, len(embedding) + 1)]) AS wv
        FROM embeddings, m
        WHERE m.m0 > 0
    ),
    u1 AS (
        SELECT pos,
               CAST(sum(CAST(floor((v.x * w1.wv * 1000000.0) + 0.5) AS BIGINT)) AS DOUBLE)
                   / 1000000.0 AS uv
        FROM vals v JOIN w1 ON v.vec_id = w1.vec_id
        GROUP BY pos
    ),
    mu1 AS (SELECT max(abs(uv)) AS m1 FROM u1),
    nrm1 AS (
        SELECT m1 * sqrt(CAST(sum(CAST(floor(((uv / m1) * (uv / m1) * 1000000000000.0) + 0.5)
                                       AS BIGINT)) AS DOUBLE) / 1000000000000.0) AS nn
        FROM u1, mu1 WHERE m1 > 0 GROUP BY m1
    ),
    v1 AS (SELECT u1.pos, u1.uv / nrm1.nn AS v FROM u1, nrm1),
    w2 AS (
        SELECT v.vec_id,
               CAST(sum(CAST(floor((v.x * v1.v * 1000000000.0) + 0.5) AS BIGINT)) AS DOUBLE)
                   / 1000000000.0 AS wv
        FROM vals v JOIN v1 ON v.pos = v1.pos
        GROUP BY v.vec_id
    ),
    u2 AS (
        SELECT pos,
               CAST(sum(CAST(floor((v.x * w2.wv * 1000000.0) + 0.5) AS BIGINT)) AS DOUBLE)
                   / 1000000.0 AS uv
        FROM vals v JOIN w2 ON v.vec_id = w2.vec_id
        GROUP BY pos
    ),
    mu2 AS (SELECT max(abs(uv)) AS m2 FROM u2),
    nrm2 AS (
        SELECT m2 * sqrt(CAST(sum(CAST(floor(((uv / m2) * (uv / m2) * 1000000000000.0) + 0.5)
                                       AS BIGINT)) AS DOUBLE) / 1000000000000.0) AS nn
        FROM u2, mu2 WHERE m2 > 0 GROUP BY m2
    )
    SELECT u2.pos, floor((u2.uv / nrm2.nn) * 1e6 + 0.5) / 1e6 AS loading,
           floor((m.m0 * m.m0 * nrm2.nn) * 1e4 + 0.5) / 1e4 AS eigval_est
    FROM u2, nrm2, m
    ORDER BY u2.pos
    """,
    "two-iteration PCA power training: v2 = normalize(X'X normalize(X'X v0)), chained-CTE oracle",
)
def emb_pca_power_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    raw = decode_embedding(emb, "vec_id")
    # r14 (guide §1.2/§2.4): m is a 1-row global and u1/u2 are DIM-row
    # vectors, but each is REFERENCED 2-3x downstream (normed(u) alone
    # reads u twice; the final select reads u2 + normed(u2) + m) and
    # Catalyst does not de-duplicate the repeated subtrees — the r13
    # plan re-derived u1 ~9x through the nesting: 38 parquet scans /
    # 134 Exchanges in one executedPlan. Pinning the three tiny frames
    # (same pattern as vals) collapses the plan to the linear chain the
    # algorithm actually is.
    m = raw.agg(F.max(F.abs("x0")).alias("m0")).transform(pin)
    vals = (
        raw.crossJoin(F.broadcast(m))
        .filter(F.col("m0") > 0)
        .select("vec_id", "pos", (F.col("x0") / F.col("m0")).alias("x"))
        .transform(pin)  # feeds w1, u1, w2, u2
    )
    w1 = (
        emb.crossJoin(F.broadcast(m))
        .filter(F.col("m0") > 0)
        .select(
            "vec_id",
            F.expr(
                "aggregate(embedding, cast(0.0 as double),"
                " (acc, e) -> acc + cast(e as double) / m0 * 0.125)"
            ).alias("wv"),
        )
    )

    def matvec(w, scale):
        return (
            vals.join(w, "vec_id")
            .select(
                "pos",
                fround(F.col("x") * F.col("wv") * F.lit(scale)).cast("long").alias("t"),
            )
            .groupBy("pos")
            .agg((F.sum("t").cast("double") / F.lit(scale)).alias("uv"))
        )

    def normed(u):
        mu = u.agg(F.max(F.abs("uv")).alias("mx"))
        r2 = (F.col("uv") / F.col("mx")) * (F.col("uv") / F.col("mx"))
        return (
            u.crossJoin(F.broadcast(mu))
            .filter(F.col("mx") > 0)
            .select("mx", fround(r2 * F.lit(1e12)).cast("long").alias("q12"))
            .groupBy("mx")
            .agg((F.col("mx") * F.sqrt(F.sum("q12").cast("double") / F.lit(1e12))).alias("nn"))
            .select("nn")
        )

    u1 = matvec(w1, 1000000.0).transform(pin)  # DIM rows, read 3x
    v1 = u1.crossJoin(F.broadcast(normed(u1))).select(
        "pos", (F.col("uv") / F.col("nn")).alias("v")
    )
    w2 = (
        vals.join(F.broadcast(v1), "pos")
        .select(
            "vec_id",
            fround(F.col("x") * F.col("v") * F.lit(1000000000.0)).cast("long").alias("t9"),
        )
        .groupBy("vec_id")
        .agg((F.sum("t9").cast("double") / F.lit(1000000000.0)).alias("wv"))
    )
    u2 = matvec(w2, 1000000.0).transform(pin)  # DIM rows, read 3x
    nrm2 = normed(u2)
    return (
        u2.crossJoin(F.broadcast(nrm2))
        .crossJoin(F.broadcast(m))
        .select(
            "pos",
            fround(F.col("uv") / F.col("nn"), 6).alias("loading"),
            fround(F.col("m0") * F.col("m0") * F.col("nn"), 4).alias("eigval_est"),
        )
        .orderBy("pos")
    )


# ---------------------------------------------------------------------------
# Token burstiness — the variance-to-mean ratio (dispersion index) of a
# term's per-document counts: content words cluster in few docs
# (VMR ≫ 1) while function words spread evenly (VMR ≈ 1) — the
# Church–Gale burstiness diagnostic used to spot topical/boilerplate
# vocabulary. Per-doc counts are integers, so Σx and Σx² are exact
# integer sums and VMR = (n·Σx² − (Σx)²) / (n·Σx) divides two exact
# integers once (n = corpus doc count, including the term's zero
# docs). Top-k by scaled-integer VMR — no float enters the ordering.
# ---------------------------------------------------------------------------
BURSTY_TOP = 25
BURSTY_MIN_DOCS = 5


@register(
    "text_burstiness",
    f"""
    WITH tc AS (
        SELECT doc_id, w, count(*) AS c
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY doc_id, w
    ),
    nd AS (SELECT count(*) AS n FROM documents),
    stats AS (
        SELECT w, count(*) AS n_docs,
               CAST(sum(c) AS BIGINT) AS sx,
               CAST(sum(c * c) AS BIGINT) AS sxx
        FROM tc GROUP BY w HAVING count(*) >= {BURSTY_MIN_DOCS}
    )
    SELECT w, n_docs, sx AS total_count,
           CAST(floor(((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                      / (CAST(n AS DOUBLE) * sx) * 10000.0) + 0.5) AS BIGINT) / 10000.0 AS vmr
    FROM stats, nd
    ORDER BY CAST(floor(((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                        / (CAST(n AS DOUBLE) * sx) * 10000.0) + 0.5) AS BIGINT) DESC, w
    LIMIT {BURSTY_TOP}
    """,
    "Church-Gale burstiness: top terms by variance-to-mean ratio of per-doc counts",
)
def text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tc = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nd = docs.agg(F.count(F.lit(1)).alias("n"))
    stats = (
        tc.groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("c").cast("long").alias("sx"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("sxx"),
        )
        .filter(F.col("n_docs") >= BURSTY_MIN_DOCS)
    )
    nn = F.col("n").cast("double")
    vmr4 = fround(
        (nn * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")) / (nn * F.col("sx"))
        * F.lit(10000.0)
    ).cast("long")
    return (
        stats.crossJoin(F.broadcast(nd))
        .select(
            "w",
            "n_docs",
            F.col("sx").alias("total_count"),
            vmr4.alias("vmr4"),
        )
        .orderBy(F.col("vmr4").desc(), "w")
        .limit(BURSTY_TOP)
        .select("w", "n_docs", "total_count", (F.col("vmr4") / F.lit(10000.0)).alias("vmr"))
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram — bucket BOUNDARIES holding equal row counts
# (the optimizer-statistics histogram; q25 is the equi-width twin).
# ntile(8) assigns integer buckets under a pinned total order; the
# per-bucket min/max/count are then exact values — no float math at
# all beyond the stored doubles themselves.
# ---------------------------------------------------------------------------
EQUIDEPTH_BUCKETS = 8


@register(
    "q49_equidepth_histogram",
    f"""
    WITH bucketed AS (
        SELECT o_totalprice,
               ntile({EQUIDEPTH_BUCKETS}) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
        FROM orders
    )
    SELECT bucket, count(*) AS n,
           min(o_totalprice) AS lo,
           max(o_totalprice) AS hi
    FROM bucketed
    GROUP BY bucket
    ORDER BY bucket
    """,
    "equi-depth histogram boundaries via ntile under a pinned total order",
)
def q49_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # two-phase distributed rank + exact ntile formula (distrank.py):
    # plain ntile would push the whole orders table through one task
    from .distrank import ntile_expr, with_global_rank

    orders = table(spark, sf_dir, "orders")
    ranked = with_global_rank(
        spark,
        orders.select("o_totalprice", "o_orderkey"),
        [F.col("o_totalprice"), F.col("o_orderkey")],
        rn_col="rn",
        n_col="n",
    )
    return (
        ranked.select(
            "o_totalprice",
            ntile_expr("rn", "n", EQUIDEPTH_BUCKETS).cast("int").alias("bucket"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest — predict each type's final-week
# daily volumes from its day-of-week means over the TRAINING window
# (all earlier days), then score the forecast: the standard sanity
# baseline every real forecasting pipeline is measured against.
# Integer discipline: per-dow training means keep (Σx, n) integral;
# the absolute-percentage errors quantize per day to scaled BIGINTs
# (|a·n_train − Σx|·10^4 / (a·n_train) — integer numerator) before the
# cross-day MAPE mean.
# ---------------------------------------------------------------------------
@register(
    "events_forecast_backtest",
    """
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS n
        FROM events GROUP BY 1, 2
    ),
    split AS (
        SELECT event_type, max(d) - 6 AS test_start FROM daily GROUP BY event_type
    ),
    train AS (
        SELECT d.event_type, dayofweek(d.d) AS dow,
               count(*) AS n_days, CAST(sum(d.n) AS BIGINT) AS sx
        FROM daily d JOIN split s ON d.event_type = s.event_type
        WHERE d.d < s.test_start
        GROUP BY d.event_type, dayofweek(d.d)
    ),
    test AS (
        SELECT d.event_type, d.d, dayofweek(d.d) AS dow, d.n
        FROM daily d JOIN split s ON d.event_type = s.event_type
        WHERE d.d >= s.test_start
    ),
    scored AS (
        SELECT t.event_type,
               CAST(floor((abs(t.n * tr.n_days - tr.sx) * 10000.0
                          / (t.n * tr.n_days)) + 0.5) AS BIGINT) AS ape4
        FROM test t
        JOIN train tr ON tr.event_type = t.event_type AND tr.dow = t.dow
        WHERE t.n > 0
    )
    SELECT event_type, count(*) AS n_days_scored,
           floor(((CAST(sum(ape4) AS DOUBLE) / 10000.0) / count(*) * 100.0) * 1e2 + 0.5) / 1e2
               AS mape_pct
    FROM scored
    GROUP BY event_type
    ORDER BY event_type
    """,
    "seasonal-naive forecast backtest: final-week MAPE against day-of-week training means",
)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    split = daily.groupBy("event_type").agg(F.date_sub(F.max("d"), 6).alias("test_start"))
    j = daily.join(F.broadcast(split), "event_type")
    train = (
        j.filter(F.col("d") < F.col("test_start"))
        .groupBy("event_type", F.dayofweek("d").alias("dow"))
        .agg(F.count(F.lit(1)).alias("n_days"), F.sum("n").cast("long").alias("sx"))
    )
    test = j.filter(F.col("d") >= F.col("test_start")).select(
        "event_type", "d", F.dayofweek("d").alias("dow"), "n"
    )
    ape4 = fround(
        F.abs(F.col("n") * F.col("n_days") - F.col("sx"))
        * F.lit(10000.0)
        / (F.col("n") * F.col("n_days"))
    ).cast("long")
    scored = (
        test.join(F.broadcast(train), ["event_type", "dow"])
        .filter(F.col("n") > 0)
        .select("event_type", ape4.alias("ape4"))
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days_scored"),
            fround(
                (F.sum("ape4").cast("double") / F.lit(10000.0)) / F.count(F.lit(1)) * 100.0, 2
            ).alias("mape_pct"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage curve — what fraction of the token stream do the
# top-K vocabulary entries cover, for a ladder of K? The sizing curve
# behind every tokenizer-vocab decision (tokenizer_vocab_coverage is
# the per-source audit at one fixed K; this is the corpus-level
# K-sweep). Shape: one token hash agg, ONE global rank window over the
# DISTINCT vocabulary (value-domain-sized, same rationale as
# drift_ks_length), a cumulative integer sum, then one probe row per
# rung — coverage ratios quantize through the identical float path per
# the q48 round() lesson.
# ---------------------------------------------------------------------------
COVERAGE_KS = [100, 500, 1000, 5000, 20000]


@register(
    "vocab_coverage_curve",
    f"""
    WITH tc AS (
        SELECT w, count(*) AS c
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_stream, count(*) AS n_vocab FROM tc),
    ranked AS (
        SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rk,
               sum(c) OVER (ORDER BY c DESC, w) AS cum
        FROM tc
    ),
    rungs AS (SELECT unnest([{", ".join(str(k) for k in COVERAGE_KS)}]) AS k)
    SELECT r.k,
           t.n_vocab,
           CAST(max(CASE WHEN ranked.rk <= r.k THEN ranked.cum ELSE 0 END) AS BIGINT)
               AS covered_tokens,
           CAST(floor((max(CASE WHEN ranked.rk <= r.k THEN ranked.cum ELSE 0 END)
                      * 1000000.0 / t.n_stream) + 0.5) AS BIGINT) / 1000000.0 AS coverage
    FROM rungs r, ranked, tot t
    GROUP BY r.k, t.n_vocab, t.n_stream
    ORDER BY r.k
    """,
    "tokenizer vocabulary sizing curve: stream coverage of the top-K vocab per rung",
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tc = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = tc.agg(
        F.sum("c").cast("long").alias("n_stream"), F.count(F.lit(1)).alias("n_vocab")
    )
    # two-phase distributed rank+cumsum (distrank.py): the vocabulary is
    # ~10^7 rows at corpus scale — too big for a single-task window
    from .distrank import with_global_rank

    ranked = with_global_rank(
        spark,
        tc,
        [(F.col("c"), False), F.col("w")],
        rn_col="rk",
        cum_col="cum",
        cum_src="c",
    ).select("c", "rk", "cum")
    rungs = spark.createDataFrame([(k,) for k in COVERAGE_KS], "k int")
    probe = ranked.crossJoin(F.broadcast(rungs)).crossJoin(F.broadcast(tot))
    covered = F.max(F.when(F.col("rk") <= F.col("k"), F.col("cum")).otherwise(0))
    return (
        probe.groupBy("k", "n_vocab", "n_stream")
        .agg(covered.cast("long").alias("covered_tokens"))
        .select(
            "k",
            "n_vocab",
            "covered_tokens",
            (
                fround(F.col("covered_tokens") * F.lit(1000000.0) / F.col("n_stream"))
                .cast("long")
                / F.lit(1000000.0)
            ).alias("coverage"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# Cohort LTV curve — cumulative revenue per customer by months since
# first order, per signup cohort (q29's retention twin, but money: the
# lifetime-value curves a growth model trains on). Revenue is integer
# cents end-to-end; the cumulative runs over (cohort, month_idx) —
# a months×months domain, not the fact table; the per-customer
# denominator is the cohort's customer count (integers, one pinned
# division).
# ---------------------------------------------------------------------------
@register(
    "orders_ltv_curve",
    """
    WITH firsts AS (
        SELECT o_custkey,
               min(CAST(date_trunc('month', o_orderdate) AS DATE)) AS cohort
        FROM orders GROUP BY o_custkey
    ),
    cohort_size AS (SELECT cohort, count(*) AS n_customers FROM firsts GROUP BY cohort),
    rev AS (
        SELECT f.cohort,
               (year(o.o_orderdate) - year(f.cohort)) * 12
                 + (month(o.o_orderdate) - month(f.cohort)) AS month_idx,
               CAST(sum(CAST(floor((o.o_totalprice * 100.0) + 0.5) AS BIGINT)) AS BIGINT) AS cents
        FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
        GROUP BY 1, 2
    ),
    cum AS (
        SELECT cohort, month_idx,
               sum(cents) OVER (PARTITION BY cohort ORDER BY month_idx) AS cum_cents
        FROM rev
    )
    SELECT CAST(c.cohort AS VARCHAR) AS cohort, c.month_idx, s.n_customers,
           CAST(floor((c.cum_cents * 1.0 / s.n_customers) + 0.5) AS BIGINT) AS ltv_cents_per_cust
    FROM cum c JOIN cohort_size s ON c.cohort = s.cohort
    WHERE c.month_idx <= 24
    ORDER BY cohort, month_idx
    """,
    "cohort LTV curve: cumulative cents per customer by months since first order",
)
def orders_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    firsts = orders.groupBy("o_custkey").agg(
        F.min(F.to_date(F.date_trunc("month", "o_orderdate"))).alias("cohort")
    )
    cohort_size = firsts.groupBy("cohort").agg(F.count(F.lit(1)).alias("n_customers"))
    rev = (
        orders.join(firsts, "o_custkey")
        .groupBy(
            "cohort",
            (
                (F.year("o_orderdate") - F.year("cohort")) * 12
                + (F.month("o_orderdate") - F.month("cohort"))
            ).alias("month_idx"),
        )
        .agg(F.sum(fround(F.col("o_totalprice") * 100.0).cast("long")).alias("cents"))
    )
    w = Window.partitionBy("cohort").orderBy("month_idx").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = rev.withColumn("cum_cents", F.sum("cents").over(w))
    return (
        cum.join(F.broadcast(cohort_size), "cohort")
        .filter(F.col("month_idx") <= 24)
        .select(
            F.col("cohort").cast("string").alias("cohort"),
            "month_idx",
            "n_customers",
            fround(F.col("cum_cents") / F.col("n_customers")).cast("long").alias(
                "ltv_cents_per_cust"
            ),
        )
        .orderBy("cohort", "month_idx")
    )


# ---------------------------------------------------------------------------
# ANN index recall evaluation — recall@k of the LSH-bucketed index
# against the exact brute-force top-k ground truth, per query and
# overall (dedup_minhash_eval's sibling for the similarity family).
# Both sides nest the operators' own oracle SQL verbatim, so the eval
# can never drift from the indexes it measures. Integer counts, two
# pinned divisions.
# ---------------------------------------------------------------------------
def _ann_eval_sql() -> str:
    exact = REGISTRY["ann_cosine_topk"].oracle_sql
    lsh = REGISTRY["ann_lsh_topk"].oracle_sql
    return (
        """
    WITH exact AS (SELECT q_id, c_id FROM ({EXACT})),
    approx AS (SELECT q_id, c_id FROM ({LSH})),
    per_q AS (
        SELECT e.q_id,
               count(*) AS n_exact,
               CAST(sum(CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
        FROM exact e
        LEFT JOIN approx a ON a.q_id = e.q_id AND a.c_id = e.c_id
        GROUP BY e.q_id
    )
    SELECT q_id, n_exact, n_hit,
           CAST(floor((n_hit * 1000000.0 / n_exact) + 0.5) AS BIGINT) / 1000000.0 AS recall
    FROM per_q
    ORDER BY q_id
    """
        .replace("{EXACT}", exact)
        .replace("{LSH}", lsh)
    )


@register(
    "ann_recall_eval",
    _ann_eval_sql(),
    "per-query recall@k of the LSH index vs exact brute-force ground truth",
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import similarity as _similarity

    exact = _similarity.ann_cosine_topk(spark, sf_dir).select("q_id", "c_id")
    approx = (
        _similarity.ann_lsh_topk(spark, sf_dir)
        .select("q_id", "c_id")
        .withColumn("hit", F.lit(1))
    )
    per_q = (
        exact.join(approx, ["q_id", "c_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0)).cast("long").alias("n_hit"),
        )
    )
    return per_q.select(
        "q_id",
        "n_exact",
        "n_hit",
        (
            fround(F.col("n_hit") * F.lit(1000000.0) / F.col("n_exact")).cast("long")
            / F.lit(1000000.0)
        ).alias("recall"),
    ).orderBy("q_id")


# ---------------------------------------------------------------------------
# Cumulative user growth — distinct users ever seen, by day. The
# distributed trick: cumulative distinct does NOT decompose over days,
# but each user contributes exactly once at their FIRST day — so the
# curve is a per-user min (hash agg), a per-day count of first-sights,
# and a cumulative integer sum over the day domain (value-domain-sized
# window, same rationale as drift_ks_length). Never a per-day distinct
# over growing prefixes.
# ---------------------------------------------------------------------------
@register(
    "events_user_growth",
    """
    WITH firsts AS (
        SELECT user_id, min(CAST(date_trunc('day', ts) AS DATE)) AS first_day
        FROM events GROUP BY user_id
    ),
    per_day AS (SELECT first_day AS d, count(*) AS n_new FROM firsts GROUP BY first_day)
    SELECT CAST(d AS VARCHAR) AS day, n_new,
           CAST(sum(n_new) OVER (ORDER BY d) AS BIGINT) AS cum_users
    FROM per_day
    ORDER BY d
    """,
    "cumulative distinct-user growth via first-sight days (no per-day prefix distinct)",
)
def events_user_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.min(F.to_date(F.date_trunc("day", "ts"))).alias("first_day")
    )
    per_day = firsts.groupBy(F.col("first_day").alias("d")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return per_day.select(
        F.col("d").cast("string").alias("day"),
        "n_new",
        F.sum("n_new").over(w).cast("long").alias("cum_users"),
    ).orderBy("d")


# ---------------------------------------------------------------------------
# DAU / MAU stickiness — the standard engagement ratio: daily active
# users over their calendar month's active users. Two distinct hash
# aggs ((day,user) and (month,user)) joined on month; the ratio
# quantizes through the identical float path per the q48 round()
# lesson. events_sliding_distinct is the rolling-window sibling; this
# is the calendar-bucketed product-metric shape.
# ---------------------------------------------------------------------------
@register(
    "events_dau_mau",
    """
    WITH dau AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
               count(DISTINCT user_id) AS dau
        FROM events GROUP BY 1
    ),
    mau AS (
        SELECT CAST(date_trunc('month', ts) AS DATE) AS m,
               count(DISTINCT user_id) AS mau
        FROM events GROUP BY 1
    )
    SELECT CAST(d.d AS VARCHAR) AS day, d.dau, mm.mau,
           CAST(floor((d.dau * 1000000.0 / mm.mau) + 0.5) AS BIGINT) / 1000000.0 AS stickiness
    FROM dau d JOIN mau mm ON CAST(date_trunc('month', d.d) AS DATE) = mm.m
    ORDER BY d.d
    """,
    "DAU/MAU stickiness per day against the calendar month's actives",
)
def events_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    dau = events.groupBy(F.to_date(F.date_trunc("day", "ts")).alias("d")).agg(
        F.count_distinct("user_id").alias("dau")
    )
    mau = events.groupBy(F.to_date(F.date_trunc("month", "ts")).alias("m")).agg(
        F.count_distinct("user_id").alias("mau")
    )
    joined = dau.join(
        F.broadcast(mau), F.to_date(F.date_trunc("month", "d")) == F.col("m")
    )
    return joined.select(
        F.col("d").cast("string").alias("day"),
        "dau",
        "mau",
        (
            fround(F.col("dau") * F.lit(1000000.0) / F.col("mau")).cast("long")
            / F.lit(1000000.0)
        ).alias("stickiness"),
    ).orderBy("d")


# ---------------------------------------------------------------------------
# Last-touch attribution — credit each purchase to the user's most
# recent PRECEDING non-purchase event within a 24 h window (the
# classic marketing-attribution join). Shape: a per-user window max
# over prior events (the as-of pattern of q16, not an inequality
# join), then a channel hash agg; integer cents for revenue credit.
# Deterministic tie-break: at equal timestamps the higher event_id is
# the later touch.
# ---------------------------------------------------------------------------
ATTRIB_WINDOW_H = 24


@register(
    "events_attribution",
    f"""
    WITH seq AS (
        SELECT user_id, ts, event_id, event_type, value,
               max(CASE WHEN event_type <> 'purchase' THEN
                     {{'t_us': epoch_us(ts), 'eid': event_id, 'etype': event_type}}
                   END) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS last_touch
        FROM events
    ),
    credited AS (
        SELECT last_touch.etype AS channel,
               CAST(floor((value * 100.0) + 0.5) AS BIGINT) AS cents
        FROM seq
        WHERE event_type = 'purchase'
          AND last_touch IS NOT NULL
          AND epoch_us(ts) - last_touch.t_us <= {ATTRIB_WINDOW_H * 3600 * 1000000}
    )
    SELECT channel, count(*) AS n_purchases,
           CAST(sum(cents) AS BIGINT) AS credited_cents
    FROM credited
    GROUP BY channel
    ORDER BY channel
    """,
    "last-touch attribution: purchases credited to the nearest preceding touch within 24h",
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    touch = F.when(
        F.col("event_type") != "purchase",
        F.struct(
            F.unix_micros("ts").alias("t_us"),
            F.col("event_id").alias("eid"),
            F.col("event_type").alias("etype"),
        ),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    seq = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.max(touch).over(w).alias("last_touch"),
    )
    credited = seq.filter(
        (F.col("event_type") == "purchase")
        & F.col("last_touch").isNotNull()
        & (
            F.unix_micros("ts") - F.col("last_touch.t_us")
            <= F.lit(ATTRIB_WINDOW_H * 3600 * 1000000)
        )
    ).select(
        F.col("last_touch.etype").alias("channel"),
        fround(F.col("value") * 100.0).cast("long").alias("cents"),
    )
    return (
        credited.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("cents").cast("long").alias("credited_cents"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# Activity concentration (Gini coefficient) — how unequal is per-user
# event volume? Fully INTEGER Lorenz math: with per-user counts x_i
# sorted ascending (rank i by (x, user_id)), Gini·n·Σx = 2·Σ(i·x_i)
# − (n+1)·Σx — every term an exact integer; one final division. The
# rank window runs over the USER dimension (domain-sized).
# ---------------------------------------------------------------------------
@register(
    "events_activity_gini",
    """
    WITH per_user AS (
        SELECT user_id, count(*) AS x FROM events GROUP BY user_id
    ),
    ranked AS (
        SELECT x, row_number() OVER (ORDER BY x, user_id) AS i FROM per_user
    )
    SELECT count(*) AS n_users,
           CAST(sum(x) AS BIGINT) AS n_events,
           CAST(floor(((2.0 * sum(i * x) - (count(*) + 1.0) * sum(x))
                      * 1000000.0 / (count(*) * sum(x))) + 0.5) AS BIGINT) / 1000000.0 AS gini
    FROM ranked
    """,
    "Gini coefficient of per-user activity via integer Lorenz sums",
)
def events_activity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("x"))
    # two-phase distributed rank (distrank.py): no single-task window
    # over the user dimension
    from .distrank import with_global_rank

    ranked = with_global_rank(
        spark, per_user, [F.col("x"), F.col("user_id")], rn_col="i"
    ).select("x", "i")
    n = F.count(F.lit(1))
    sx = F.sum("x")
    six = F.sum(F.col("i") * F.col("x"))
    gini6 = fround(
        (F.lit(2.0) * six - (n + F.lit(1.0)) * sx) * F.lit(1000000.0) / (n * sx)
    ).cast("long")
    return ranked.agg(
        n.alias("n_users"),
        sx.cast("long").alias("n_events"),
        (gini6 / F.lit(1000000.0)).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Data-quality expectations — the declarative table-contract report
# every production pipeline gates ingestion on (null rates, key
# uniqueness, value bounds, referential integrity). Each rule is one
# distributed aggregate; the FK check is a left anti-join (never a
# driver-side set). Output: one row per rule with its violation count
# — all integers.
# ---------------------------------------------------------------------------
@register(
    "dq_expectations",
    """
    SELECT 'orderkey_unique' AS rule,
           CAST((SELECT count(*) - count(DISTINCT o_orderkey) FROM orders) AS BIGINT)
               AS n_violations
    UNION ALL
    SELECT 'custkey_not_null',
           CAST((SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS BIGINT)
    UNION ALL
    SELECT 'custkey_fk_customer',
           CAST((SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'totalprice_nonnegative',
           CAST((SELECT count(*) FROM orders WHERE o_totalprice < 0) AS BIGINT)
    UNION ALL
    SELECT 'orderdate_in_range',
           CAST((SELECT count(*) FROM orders
                 WHERE o_orderdate < TIMESTAMP '1990-01-01'
                    OR o_orderdate >= TIMESTAMP '2030-01-01') AS BIGINT)
    ORDER BY rule
    """,
    "data-quality expectations report: uniqueness, null, FK, range rules as one scan each",
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")

    def one(rule: str, cnt_df):
        return cnt_df.select(F.lit(rule).alias("rule"), F.col("n").cast("long").alias("n_violations"))

    uniq = orders.agg(
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias("n")
    )
    nn = orders.filter(F.col("o_custkey").isNull()).agg(F.count(F.lit(1)).alias("n"))
    fk = (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pos = orders.filter(F.col("o_totalprice") < 0).agg(F.count(F.lit(1)).alias("n"))
    rng = orders.filter(
        (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
        | (F.col("o_orderdate") >= F.lit("2030-01-01").cast("timestamp"))
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        one("orderkey_unique", uniq)
        .unionAll(one("custkey_not_null", nn))
        .unionAll(one("custkey_fk_customer", fk))
        .unionAll(one("totalprice_nonnegative", pos))
        .unionAll(one("orderdate_in_range", rng))
        .orderBy("rule")
    )


# ---------------------------------------------------------------------------
# Per-source KL divergence from the corpus token distribution — the
# domain-shift score: sources whose unigram distribution diverges from
# the pooled corpus are out-of-domain (or contaminated) candidates.
# Restricted to the corpus top-K vocabulary with add-one smoothing so
# every source has mass on every vocab token (KL stays finite without
# per-pair vocabulary alignment). Each KL term quantizes to a scaled
# BIGINT before the cross-token sum; the probability ratios divide
# integer counts through identically-shaped float paths.
# ---------------------------------------------------------------------------
KL_VOCAB_K = 1000

# per-term smoothed KL contribution p*ln(p/q) from INTEGER numerators/
# denominators (a/n1 = corpus, b/n2 = source): ln(p/q) =
# (ln(a) + ln(n2)) - (ln(b) + ln(n1)) — the four portable lns as
# STAGED columns (r7 verdict item 5: the macro form expanded pln four
# times over the |sources|x|vocab| grid; bit-identical per
# tests/test_portable.py::test_pln_stages_bit_identical)
_KL_STAGES: list[tuple[str, str]] = []
for _arg, _pfx in (("a", "kla"), ("n2", "kn2"), ("b", "klb"), ("n1", "kn1")):
    _KL_STAGES.extend(pln_stages(_arg, _pfx)[0])
_KL_T9 = (
    "CAST(floor((((CAST(a AS DOUBLE) / n1)"
    " * ((kla_ln + kn2_ln) - (klb_ln + kn1_ln)))"
    " * 1000000000.0) + 0.5) AS BIGINT)"
)


@register(
    "text_kl_divergence",
    f"""
    WITH tc AS (
        SELECT source, w, count(*) AS c
        FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY source, w
    ),
    vocab AS (
        SELECT w, CAST(sum(c) AS BIGINT) AS c_all FROM tc GROUP BY w
        ORDER BY sum(c) DESC, w LIMIT {KL_VOCAB_K}
    ),
    nv AS (SELECT count(*) AS k, CAST(sum(c_all) AS BIGINT) AS n_all FROM vocab),
    src AS (
        SELECT t.source, v.w, CAST(sum(t.c) AS BIGINT) AS c_src
        FROM tc t JOIN vocab v ON t.w = v.w
        GROUP BY t.source, v.w
    ),
    src_tot AS (SELECT source, CAST(sum(c_src) AS BIGINT) AS n_src FROM src GROUP BY source),
    base AS (
        SELECT s.source,
               CAST(v.c_all + 1 AS BIGINT) AS a,
               CAST(nv.n_all + nv.k AS BIGINT) AS n1,
               CAST(coalesce(s2.c_src, 0) + 1 AS BIGINT) AS b,
               CAST(st.n_src + nv.k AS BIGINT) AS n2
        FROM src_tot st
        CROSS JOIN vocab v
        CROSS JOIN nv
        JOIN (SELECT DISTINCT source FROM src) s ON s.source = st.source
        LEFT JOIN src s2 ON s2.source = st.source AND s2.w = v.w
    ),
    staged AS ({stage_subselects("SELECT * FROM base", _KL_STAGES)}),
    terms AS (SELECT source, {_KL_T9} AS t9 FROM staged)
    SELECT source,
           CAST(sum(t9) AS BIGINT) / 1000000000.0 AS kl_corpus_vs_source
    FROM terms
    GROUP BY source
    ORDER BY source
    """,
    "domain-shift score: smoothed KL(corpus || source) over the top-K vocabulary",
)
def text_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tc = (
        docs.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vocab = (
        tc.groupBy("w")
        .agg(F.sum("c").cast("long").alias("c_all"))
        .orderBy(F.col("c_all").desc(), "w")
        .limit(KL_VOCAB_K)
        .transform(pin)  # feeds nv + the per-source join
    )
    nv = vocab.agg(
        F.count(F.lit(1)).alias("k"), F.sum("c_all").cast("long").alias("n_all")
    )
    src = (
        tc.join(F.broadcast(vocab.select("w")), "w")
        .groupBy("source", "w")
        .agg(F.sum("c").cast("long").alias("c_src"))
    )
    src_tot = src.groupBy("source").agg(F.sum("c_src").cast("long").alias("n_src"))
    grid = src_tot.crossJoin(F.broadcast(vocab)).crossJoin(F.broadcast(nv))
    joined = grid.join(src, ["source", "w"], "left").select(
        "source",
        (F.col("c_all") + 1).cast("long").alias("a"),
        (F.col("n_all") + F.col("k")).cast("long").alias("n1"),
        (F.coalesce(F.col("c_src"), F.lit(0)) + 1).cast("long").alias("b"),
        (F.col("n_src") + F.col("k")).cast("long").alias("n2"),
    )
    joined = with_stages(joined, _KL_STAGES)
    return (
        joined.select("source", F.expr(_KL_T9).alias("t9"))
        .groupBy("source")
        .agg((F.sum("t9").cast("long") / F.lit(1000000000.0)).alias("kl_corpus_vs_source"))
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Jaccard threshold-sweep curve — how many near-dup pairs survive at
# each candidate threshold? The tuning readout for picking the dedup
# cut (too low = dropping distinct docs, too high = keeping dups). ONE
# shared-shingle pair join (the dedup_ngram_jaccard shape) feeds every
# rung: thresholds are counted with conditional sums over the same
# pair table — the join never re-runs per rung. Threshold compares are
# integer cross-multiplications (n_shared·20 >= t20·union — no float
# enters the decision).
# ---------------------------------------------------------------------------
DEDUP_CURVE_T20 = [8, 10, 12, 14, 16, 18]  # thresholds x20 (0.4 .. 0.9)


@register(
    "dedup_threshold_curve",
    f"""
    WITH {{_SQL_GRAMS}},
    gc AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT n_shared, ga.n + gb.n - n_shared AS n_union
        FROM inter
        JOIN gc ga ON ga.doc_id = doc_a
        JOIN gc gb ON gb.doc_id = doc_b
    ),
    rungs AS (SELECT unnest([{", ".join(str(t) for t in DEDUP_CURVE_T20)}]) AS t20)
    SELECT floor((r.t20 / 20.0) * 1e2 + 0.5) / 1e2 AS threshold,
           CAST(sum(CASE WHEN p.n_shared * 20 >= r.t20 * p.n_union THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pairs
    FROM rungs r, pairs p
    GROUP BY r.t20
    ORDER BY threshold
    """.replace("{_SQL_GRAMS}", _dedup._SQL_GRAMS),
    "near-dup pair counts per Jaccard threshold rung — one pair join, integer compares",
)
def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs, _cands = _dedup._minhash_docs_and_cands(spark, sf_dir)
    # reuse the pinned per-doc gram sets (same trick as
    # dedup_minhash_eval): one corpus shingle pipeline for the pair join
    grams = docs.select("doc_id", F.explode("gs").alias("gh"))
    a = grams.select(F.col("doc_id").alias("doc_a"), "gh")
    b = grams.select(F.col("doc_id").alias("doc_b"), "gh")
    inter = (
        a.join(b, "gh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ga = docs.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    gb = docs.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    pairs = (
        inter.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select("n_shared", (F.col("na") + F.col("nb") - F.col("n_shared")).alias("n_union"))
    )
    rungs = spark.createDataFrame([(t,) for t in DEDUP_CURVE_T20], "t20 int")
    hit = F.sum(
        F.when(F.col("n_shared") * 20 >= F.col("t20") * F.col("n_union"), 1).otherwise(0)
    )
    return (
        pairs.crossJoin(F.broadcast(rungs))
        .groupBy("t20")
        .agg(hit.cast("long").alias("n_pairs"))
        .select(fround(F.col("t20") / 20.0, 2).alias("threshold"), "n_pairs")
        .orderBy("threshold")
    )


# ---------------------------------------------------------------------------
# Monthly seasonality indices — each calendar month's revenue relative
# to the overall monthly mean (the demand-planning normalization
# table). Integer cents throughout; the index divides two exact
# integers through identically-shaped float paths (q48 lesson).
# ---------------------------------------------------------------------------
@register(
    "orders_seasonality_index",
    """
    WITH monthly AS (
        SELECT month(o_orderdate) AS m,
               CAST(sum(CAST(floor((o_totalprice * 100.0) + 0.5) AS BIGINT)) AS BIGINT) AS cents,
               count(*) AS n_orders
        FROM orders GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(cents) AS BIGINT) AS all_cents, count(*) AS n_months FROM monthly)
    SELECT m AS month, n_orders, cents,
           CAST(floor((cents * n_months * 10000.0 / all_cents) + 0.5) AS BIGINT) / 10000.0
               AS seasonality_index
    FROM monthly, tot
    ORDER BY m
    """,
    "monthly revenue seasonality indices vs the all-months mean, integer cents",
)
def orders_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    monthly = orders.groupBy(F.month("o_orderdate").alias("m")).agg(
        F.sum(fround(F.col("o_totalprice") * 100.0).cast("long")).alias("cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    tot = monthly.agg(
        F.sum("cents").cast("long").alias("all_cents"),
        F.count(F.lit(1)).alias("n_months"),
    )
    return (
        monthly.crossJoin(F.broadcast(tot))
        .select(
            F.col("m").alias("month"),
            "n_orders",
            "cents",
            (
                fround(F.col("cents") * F.col("n_months") * F.lit(10000.0) / F.col("all_cents"))
                .cast("long")
                / F.lit(10000.0)
            ).alias("seasonality_index"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Linear multi-touch attribution — every touch in the 24 h window
# before a purchase shares the credit equally (the fairness-spread
# sibling of last-touch events_attribution). The purchase×touch
# inequality join uses the q09 bin-bucket shape: both sides key on
# (user, 24 h time bin), purchases probe their own and the previous
# bin, then the exact window predicate applies — a shuffle-hash join
# that survives scale where a broadcast nested loop dies. Credit
# fractions kc/k quantize at 1e6 per (purchase, channel) before the
# cross-purchase sum; cents credits round to integers per term.
# Touch ordering is strict event time (ties at identical timestamps
# are all "before" iff their t_us is smaller; equal-t_us touches are
# NOT credited — documented, and both engines share the predicate).
# ---------------------------------------------------------------------------
@register(
    "events_attribution_linear",
    f"""
    WITH touches AS (
        SELECT user_id, epoch_us(ts) AS t_us, event_type,
               epoch_us(ts) // {ATTRIB_WINDOW_H * 3600 * 1000000} AS bin
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
             LATERAL unnest([p.p_us // {ATTRIB_WINDOW_H * 3600 * 1000000},
                             p.p_us // {ATTRIB_WINDOW_H * 3600 * 1000000} - 1]) t(bin)
    ),
    matched AS (
        SELECT pr.user_id, pr.event_id, pr.cents, t.event_type AS channel
        FROM probe pr
        JOIN touches t ON t.user_id = pr.user_id AND t.bin = pr.bin
        WHERE t.t_us < pr.p_us AND pr.p_us - t.t_us <= {ATTRIB_WINDOW_H * 3600 * 1000000}
    ),
    per_purchase AS (
        SELECT user_id, event_id, cents, channel, count(*) AS kc,
               sum(count(*)) OVER (PARTITION BY user_id, event_id) AS k
        FROM matched
        GROUP BY user_id, event_id, cents, channel
    ),
    credited AS (
        SELECT channel,
               CAST(floor((kc * 1000000.0 / k) + 0.5) AS BIGINT) AS share6,
               CAST(floor((cents * kc * 1.0 / k) + 0.5) AS BIGINT) AS cents_part
        FROM per_purchase
    )
    SELECT channel,
           floor((CAST(sum(share6) AS BIGINT) / 1000000.0) * 1e4 + 0.5) / 1e4 AS credited_purchases,
           CAST(sum(cents_part) AS BIGINT) AS credited_cents
    FROM credited
    GROUP BY channel
    ORDER BY channel
    """,
    "linear multi-touch attribution: equal credit across 24h preceding touches, bin-bucketed join",
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    W = ATTRIB_WINDOW_H * 3600 * 1000000
    events = table(spark, sf_dir, "events")
    touches = events.filter(F.col("event_type") != "purchase").select(
        "user_id",
        F.unix_micros("ts").alias("t_us"),
        "event_type",
        (F.unix_micros("ts") / W).cast("long").alias("bin"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros("ts").alias("p_us"),
        fround(F.col("value") * 100.0).cast("long").alias("cents"),
        "event_id",
    )
    probe = purchases.select(
        "*",
        F.explode(
            F.array((F.col("p_us") / W).cast("long"), (F.col("p_us") / W).cast("long") - 1)
        ).alias("bin"),
    )
    matched = (
        probe.join(touches, ["user_id", "bin"])
        .filter(
            (F.col("t_us") < F.col("p_us")) & (F.col("p_us") - F.col("t_us") <= F.lit(W))
        )
        .select("user_id", "event_id", "cents", F.col("event_type").alias("channel"))
    )
    per_pc = matched.groupBy("user_id", "event_id", "cents", "channel").agg(
        F.count(F.lit(1)).alias("kc")
    )
    wk = Window.partitionBy("user_id", "event_id")
    per_purchase = per_pc.withColumn("k", F.sum("kc").over(wk))
    credited = per_purchase.select(
        "channel",
        fround(F.col("kc") * F.lit(1000000.0) / F.col("k")).cast("long").alias("share6"),
        fround(F.col("cents") * F.col("kc") * F.lit(1.0) / F.col("k")).cast("long").alias(
            "cents_part"
        ),
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
# Cosine threshold-sweep curve — the embedding-side twin of
# dedup_threshold_curve: near-dup pair counts per cosine rung, computed
# off dedup_embedding's verified candidate pairs (its banded-LSH
# candidates + exact verify run ONCE; the rungs are conditional counts
# over the already-rounded cosine, rescaled to integers so no float
# decides a bucket). The oracle nests the live dedup_embedding SQL, so
# the curve can never drift from the operator it tunes.
# ---------------------------------------------------------------------------
EMB_CURVE_C100 = [40, 42, 44, 46, 48, 50]  # cosine thresholds x100


@register(
    "emb_threshold_curve",
    """
    WITH pairs AS (SELECT cosine FROM ({EMB})),
    rungs AS (SELECT unnest([{RUNGS}]) AS c100)
    SELECT floor((r.c100 / 100.0) * 1e2 + 0.5) / 1e2 AS threshold,
           CAST(sum(CASE WHEN CAST(floor((p.cosine * 10000.0) + 0.5) AS BIGINT) >= r.c100 * 100
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
    FROM rungs r, pairs p
    GROUP BY r.c100
    ORDER BY threshold
    """
    .replace("{EMB}", REGISTRY["dedup_embedding"].oracle_sql)
    .replace("{RUNGS}", ", ".join(str(c) for c in EMB_CURVE_C100)),
    "embedding near-dup pair counts per cosine rung off one LSH+verify pass",
)
def emb_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _dedup.dedup_embedding(spark, sf_dir).select("cosine")
    rungs = spark.createDataFrame([(c,) for c in EMB_CURVE_C100], "c100 int")
    c4 = fround(F.col("cosine") * F.lit(10000.0)).cast("long")
    hit = F.sum(F.when(c4 >= F.col("c100") * 100, 1).otherwise(0))
    return (
        pairs.crossJoin(F.broadcast(rungs))
        .groupBy("c100")
        .agg(hit.cast("long").alias("n_pairs"))
        .select(fround(F.col("c100") / 100.0, 2).alias("threshold"), "n_pairs")
        .orderBy("threshold")
    )


# ---------------------------------------------------------------------------
# Chi-square independence test — is event type independent of day of
# week? (The traffic-mix-shift significance test behind the seasonal
# diagnostics.) Contingency counts O, row/col totals R, C, and N are
# exact integers; each cell's term uses the pinned double shape
# d = O − R·C/N, term = d²·N/(R·C) — (O·N − R·C)² would overflow
# exact-integer doubles at corpus scale — quantized to a scaled BIGINT
# before the cross-cell sum. One row out: the statistic and its
# degrees of freedom.
# ---------------------------------------------------------------------------
@register(
    "events_chi_square",
    """
    WITH cells AS (
        SELECT event_type, dayofweek(CAST(date_trunc('day', ts) AS DATE)) AS dow,
               count(*) AS o
        FROM events GROUP BY 1, 2
    ),
    rows_ AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY event_type),
    cols_ AS (SELECT dow, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY dow),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
    terms AS (
        SELECT CAST(floor(((ce.o - r.r * cs.c * 1.0 / t.n) * (ce.o - r.r * cs.c * 1.0 / t.n)
                 * t.n / (r.r * cs.c) * 1000000.0) + 0.5) AS BIGINT) AS t6
        FROM cells ce
        JOIN rows_ r ON r.event_type = ce.event_type
        JOIN cols_ cs ON cs.dow = ce.dow
        CROSS JOIN tot t
    )
    SELECT (SELECT count(*) FROM rows_) AS n_types,
           (SELECT count(*) FROM cols_) AS n_dows,
           ((SELECT count(*) FROM rows_) - 1) * ((SELECT count(*) FROM cols_) - 1) AS dof,
           floor((CAST(sum(t6) AS BIGINT) / 1000000.0) * 1e4 + 0.5) / 1e4 AS chi_square
    FROM terms
    """,
    "chi-square independence of event type vs day of week, quantized cell terms",
)
def events_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    cells = events.groupBy(
        "event_type", F.dayofweek(F.to_date(F.date_trunc("day", "ts"))).alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    rows_ = cells.groupBy("event_type").agg(F.sum("o").cast("long").alias("r"))
    cols_ = cells.groupBy("dow").agg(F.sum("o").cast("long").alias("c"))
    tot = cells.agg(F.sum("o").cast("long").alias("n"))
    d = F.col("o") - F.col("r") * F.col("c") * F.lit(1.0) / F.col("n")
    t6 = fround(d * d * F.col("n") / (F.col("r") * F.col("c")) * F.lit(1000000.0)).cast("long")
    terms = (
        cells.join(F.broadcast(rows_), "event_type")
        .join(F.broadcast(cols_), "dow")
        .crossJoin(F.broadcast(tot))
        .select(t6.alias("t6"))
    )
    nr = rows_.agg(F.count(F.lit(1)).alias("n_types"))
    nc = cols_.agg(F.count(F.lit(1)).alias("n_dows"))
    return (
        terms.agg(fround(F.sum("t6").cast("long") / F.lit(1000000.0), 4).alias("chi_square"))
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nc))
        .select(
            "n_types",
            "n_dows",
            ((F.col("n_types") - 1) * (F.col("n_dows") - 1)).alias("dof"),
            "chi_square",
        )
    )


# ---------------------------------------------------------------------------
# TRAINED-plane LSH ANN — close the trained-index pair: ann_ivf_topk
# seeds its cells from kmeans_train; this variant seeds LSH plane 0
# from the corpus's top principal direction (emb_pca_power_step's
# model) and keeps md5 planes 1..3. A data-aligned first cut splits
# the corpus along its max-variance axis, which lifts recall@5 from
# 0.58 to 0.68 at sf0.01 versus the all-md5 planes — same bucket
# count, same Hamming-1 probe cost. Deterministic end-to-end: the PCA
# chain is seedless and both engines build plane 0 from the identical
# round(,6) loadings (the oracle nests the live emb_pca_power_step
# SQL). Only the 64-value plane model crosses the driver.
# ---------------------------------------------------------------------------
def _trained_lsh_sql() -> str:
    from . import similarity as _s

    rows = []
    for p, vec in enumerate(_s.hyperplanes()):
        if p == 0:
            continue  # replaced by the trained plane
        lst = "[" + ", ".join(repr(x) for x in vec) + "]"
        rows.append(f"({p}, {lst})")
    md5_planes = ", ".join(rows)
    return (
        """
    WITH pca AS ({PCA}),
    p0 AS (SELECT 0 AS p, list(loading ORDER BY pos) AS w FROM pca),
    pmd AS (SELECT * FROM (VALUES {MD5}) t(p, w)),
    planes AS (SELECT * FROM p0 UNION ALL SELECT * FROM pmd),
    sigs AS (
        SELECT vec_id,
               CAST(sum(CASE WHEN floor((list_sum([embedding[i]::DOUBLE * w[i]
                                            for i in range(1, {DIM} + 1)])) * 1e6 + 0.5) / 1e6 >= 0
                             THEN 1 << p ELSE 0 END) AS INTEGER) AS bucket
        FROM embeddings, planes
        GROUP BY vec_id
    ),
    c AS (SELECT e.vec_id AS c_id, e.embedding AS ce, s.bucket
          FROM embeddings e JOIN sigs s USING (vec_id)),
    probes AS (
        SELECT e.vec_id AS q_id, e.embedding AS qe,
               unnest([s.bucket, xor(s.bucket, 1), xor(s.bucket, 2),
                       xor(s.bucket, 4), xor(s.bucket, 8)]) AS bucket
        FROM embeddings e JOIN sigs s USING (vec_id)
        WHERE e.vec_id < {NQ}
    ),
    scored AS (
        SELECT DISTINCT q_id, c_id, floor(({COS}) * 1e4 + 0.5) / 1e4 AS cosine
        FROM probes JOIN c USING (bucket)
        WHERE q_id <> c_id
    )
    SELECT q_id, c_id, cosine
    FROM (SELECT q_id, c_id, cosine,
                 row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rn
          FROM scored)
    WHERE rn <= {K}
    ORDER BY q_id, cosine DESC, c_id
    """
        .replace("{PCA}", REGISTRY["emb_pca_power_step"].oracle_sql)
        .replace("{MD5}", md5_planes)
        .replace("{DIM}", str(_s.DIM))
        .replace("{NQ}", str(_s.N_QUERIES))
        .replace("{K}", str(_s.TOP_K))
        .replace("{COS}", _s._cosine_sql("qe", "ce"))
    )


_TRAINED_PLANES_CACHE: dict = {}


@register(
    "ann_lsh_trained_topk",
    _trained_lsh_sql(),
    "LSH over a TRAINED first plane (top PCA direction) + md5 planes: recall 0.58 -> 0.68 at equal probe cost",
)
def ann_lsh_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import similarity as _s

    emb = table(spark, sf_dir, "embeddings")
    # corpus-sized plane count (similarity._lsh_n_planes: floor 4 at the
    # oracle-tested scales, log2 growth beyond) — the trained PCA plane
    # is always plane 0, md5 planes fill the rest
    n_planes = _s._lsh_n_planes(_s.corpus_vec_count(spark, sf_dir))
    if sf_dir not in _TRAINED_PLANES_CACHE:
        # 64-value model fetch (the trained-index artifact; same pattern
        # as similarity._trained_model for IVF)
        loadings = [
            r["loading"]
            for r in emb_pca_power_step(spark, sf_dir).orderBy("pos").collect()
        ]
        planes = [loadings] + _s.hyperplanes(n_planes)[1:]
        _TRAINED_PLANES_CACHE[sf_dir] = planes
    planes_t = np.array(_TRAINED_PLANES_CACHE[sf_dir], dtype=np.float64).T

    @F.pandas_udf("long")
    def bucket_of(embedding: pd.Series) -> pd.Series:
        mat = np.stack(embedding.values).astype(np.float64)
        bits = _s._quantize_floor_form(mat @ planes_t, 6) >= 0
        weights = 1 << np.arange(n_planes, dtype=np.int64)
        return pd.Series((bits * weights).sum(axis=1))

    # see similarity.ann_lsh_topk: pins ONE corpus-side bucket evaluation
    # under the bucket join's pushed isnotnull filter (kernel is pure)
    bucket_of = bucket_of.asNondeterministic()

    @F.pandas_udf("double")
    def cosine(qe: pd.Series, ce: pd.Series) -> pd.Series:
        a = np.stack(qe.values).astype(np.float64)
        b = np.stack(ce.values).astype(np.float64)
        dot = np.einsum("ij,ij->i", a, b)
        na = np.sqrt(np.einsum("ij,ij->i", a, a))
        nb = np.sqrt(np.einsum("ij,ij->i", b, b))
        return pd.Series(_s._quantize_floor_form(dot / (na * nb), 4))

    corpus_side = emb.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("ce"),
        bucket_of("embedding").alias("bucket"),
    )
    q = emb.filter(F.col("vec_id") < _s.N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qe"),
        bucket_of("embedding").alias("qbucket"),
    )
    probes = q.select(
        "q_id",
        "qe",
        F.explode(
            F.array(
                F.col("qbucket"),
                *[F.col("qbucket").bitwiseXOR(1 << p) for p in range(n_planes)],
            )
        ).alias("bucket"),
    )
    scored = (
        probes.join(corpus_side, "bucket")
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", cosine(F.col("qe"), F.col("ce")).alias("cosine"))
        .dropDuplicates(["q_id", "c_id"])
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _s.TOP_K)
        .select("q_id", "c_id", "cosine")
        .orderBy("q_id", F.col("cosine").desc(), "c_id")
    )


# ---------------------------------------------------------------------------
# User survival curve — fraction of users whose observed lifetime
# (last event − first event) reaches k days, for k = 0..28: the
# product-analytics survival readout (q29's cohort matrix tracks
# return-by-week; this is lifetime persistence). Per-user lifetimes
# are one hash agg; the curve is a rungs cross join with conditional
# integer counts and one quantized division per rung.
# ---------------------------------------------------------------------------
SURVIVAL_MAX_DAYS = 28
SURVIVAL_STEP = 4


@register(
    "events_survival_curve",
    f"""
    WITH lifet AS (
        SELECT user_id,
               date_diff('day', min(CAST(date_trunc('day', ts) AS DATE)),
                                max(CAST(date_trunc('day', ts) AS DATE))) AS days
        FROM events GROUP BY user_id
    ),
    tot AS (SELECT count(*) AS n_users FROM lifet),
    rungs AS (SELECT unnest(range(0, {SURVIVAL_MAX_DAYS + 1}, {SURVIVAL_STEP})) AS k)
    SELECT CAST(r.k AS INTEGER) AS k_days,
           CAST(sum(CASE WHEN l.days >= r.k THEN 1 ELSE 0 END) AS BIGINT) AS n_surviving,
           CAST(floor((sum(CASE WHEN l.days >= r.k THEN 1 ELSE 0 END) * 1000000.0
                      / t.n_users) + 0.5) AS BIGINT) / 1000000.0 AS survival
    FROM rungs r, lifet l, tot t
    GROUP BY r.k, t.n_users
    ORDER BY k_days
    """,
    "user lifetime survival curve: fraction with last-first >= k days per rung",
)
def events_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    lifet = events.groupBy("user_id").agg(
        F.datediff(
            F.max(F.to_date(F.date_trunc("day", "ts"))),
            F.min(F.to_date(F.date_trunc("day", "ts"))),
        ).alias("days")
    )
    tot = lifet.agg(F.count(F.lit(1)).alias("n_users"))
    rungs = spark.createDataFrame(
        [(k,) for k in range(0, SURVIVAL_MAX_DAYS + 1, SURVIVAL_STEP)], "k int"
    )
    surv = F.sum(F.when(F.col("days") >= F.col("k"), 1).otherwise(0))
    return (
        lifet.crossJoin(F.broadcast(rungs))
        .crossJoin(F.broadcast(tot))
        .groupBy("k", "n_users")
        .agg(surv.cast("long").alias("n_surviving"))
        .select(
            F.col("k").alias("k_days"),
            "n_surviving",
            (
                fround(F.col("n_surviving") * F.lit(1000000.0) / F.col("n_users"))
                .cast("long")
                / F.lit(1000000.0)
            ).alias("survival"),
        )
        .orderBy("k_days")
    )


# ---------------------------------------------------------------------------
# Arrival-process statistics — per event type: the MLE Poisson rate
# (events per hour over the observed span) and the coefficient of
# variation of inter-arrival gaps (CV ≈ 1 for Poisson arrivals,
# CV > 1 = bursty — the queueing-theory burstiness diagnostic that
# complements events_time_weighted_avg's value axis). Gaps are exact
# integer microseconds; CV uses the integer computational formula
# (n·Σg² − (Σg)²) with the same overflow-safe span normalization as
# the TWA op: gaps are first scaled by the per-type MEAN gap, keeping
# quantized terms bounded at any time scale.
# ---------------------------------------------------------------------------
@register(
    "events_arrival_stats",
    """
    WITH seq AS (
        SELECT event_type,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY event_type
                                                      ORDER BY ts, event_id) AS gap_us
        FROM events
    ),
    gaps AS (SELECT event_type, gap_us FROM seq WHERE gap_us IS NOT NULL),
    m AS (
        SELECT event_type, count(*) AS n, CAST(sum(gap_us) AS BIGINT) AS span_us
        FROM gaps GROUP BY event_type
    ),
    terms AS (
        SELECT g.event_type,
               CAST(floor(((g.gap_us * m.n * 1.0 / m.span_us)
                          * (g.gap_us * m.n * 1.0 / m.span_us) * 1000000.0) + 0.5) AS BIGINT) AS r6
        FROM gaps g JOIN m ON g.event_type = m.event_type
    )
    SELECT m.event_type,
           m.n + 1 AS n_events,
           floor((m.n * 3600000000.0 / m.span_us) * 1e4 + 0.5) / 1e4 AS rate_per_hour,
           floor((sqrt(greatest(CAST(sum(t.r6) AS DOUBLE) / 1000000.0 / m.n - 1.0, 0.0))) * 1e4 + 0.5) / 1e4
               AS gap_cv
    FROM terms t JOIN m ON t.event_type = m.event_type
    GROUP BY m.event_type, m.n, m.span_us
    ORDER BY m.event_type
    """,
    "arrival-process card: Poisson rate and inter-arrival CV (burstiness) per event type",
)
def events_arrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .timewin import with_next_us

    events = table(spark, sf_dir, "events")
    # the oracle states lag() per type; the gap MULTISET per type is
    # identical whether each gap is attached to its later row (lag) or
    # its earlier row (lead), and this operator only aggregates gaps —
    # so one boundary-hand-off lead (timewin.with_next_us) serves here
    # too, avoiding the |event_type|-task sort of the naive window.
    seq = with_next_us(
        events.select("event_type", F.unix_micros("ts").alias("t_us"), "event_id"),
        ["event_type"],
        "t_us",
        "event_id",
        out_col="t_next",
    ).select("event_type", (F.col("t_next") - F.col("t_us")).alias("gap_us"))
    gaps = seq.filter(F.col("gap_us").isNotNull())
    m = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("gap_us").cast("long").alias("span_us")
    )
    ratio = F.col("gap_us") * F.col("n") * F.lit(1.0) / F.col("span_us")
    r6 = fround(ratio * ratio * F.lit(1000000.0)).cast("long")
    terms = gaps.join(F.broadcast(m), "event_type").select("event_type", r6.alias("r6"))
    joined = terms.groupBy("event_type").agg(F.sum("r6").alias("s6")).join(
        F.broadcast(m), "event_type"
    )
    # E[r²] − 1 where r = gap/mean-gap: the variance of the normalized gap
    cv = F.sqrt(
        F.greatest(
            F.col("s6").cast("double") / F.lit(1000000.0) / F.col("n") - F.lit(1.0),
            F.lit(0.0),
        )
    )
    return joined.select(
        "event_type",
        (F.col("n") + 1).alias("n_events"),
        fround(F.col("n") * F.lit(3600000000.0) / F.col("span_us"), 4).alias(
            "rate_per_hour"
        ),
        fround(cv, 4).alias("gap_cv"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Corpus entropy rate — the conditional bigram entropy H(w₂|w₁) =
# −Σ p(w₁,w₂)·ln p(w₂|w₁), the single-number language-complexity
# metric over the same MLE counts text_lm_score scores docs with
# (natural language sits ~2.9–3.5 nats; templated corpora collapse).
# p(w₂|w₁) = c₁₂/c₁ divides two exact integers; each −c₁₂·ln(c₁₂/c₁)
# term quantizes to a scaled BIGINT before the corpus-wide integer
# sum; ONE final division by the bigram total.
# ---------------------------------------------------------------------------
# the two portable lns as STAGED columns over the |bigram-vocab| frame
# (r7 verdict item 5; bit-identical to the macro form per
# tests/test_portable.py::test_pln_stages_bit_identical)
_ER_STAGES: list[tuple[str, str]] = []
for _arg, _pfx in (("c12", "ec"), ("c1", "eu")):
    _ER_STAGES.extend(pln_stages(_arg, _pfx)[0])
_ER_T6 = (
    "CAST(floor((((0 - c12) * (ec_ln - eu_ln))"
    " * 1000000.0) + 0.5) AS BIGINT)"
)


@register(
    "text_entropy_rate",
    f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    bg AS (
        SELECT unnest([t[i] || ' ' || t[i+1] for i in range(1, greatest(len(t), 1))]) AS bigram
        FROM toks
    ),
    bc AS (
        SELECT string_split(bigram, ' ')[1] AS w1, bigram, count(*) AS c12
        FROM bg GROUP BY bigram
    ),
    uc AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bc GROUP BY w1),
    tot AS (SELECT CAST(sum(c12) AS BIGINT) AS n_bigrams FROM bc),
    staged AS ({stage_subselects(
        "SELECT b.c12 AS c12, u.c1 AS c1 FROM bc b JOIN uc u ON b.w1 = u.w1",
        _ER_STAGES,
    )}),
    terms AS (SELECT {_ER_T6} AS t6 FROM staged)
    SELECT t.n_bigrams,
           floor(((CAST(sum(m.t6) AS DOUBLE) / 1000000.0) / t.n_bigrams) * 1e4 + 0.5) / 1e4
               AS entropy_rate_nats
    FROM terms m, tot t
    GROUP BY t.n_bigrams
    """,
    "corpus conditional bigram entropy rate H(w2|w1) in nats, quantized terms",
)
def text_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(F.split("text", " ").alias("t"))
    bg = toks.select(
        F.explode(
            F.expr(
                "case when size(t) >= 2 then"
                " transform(sequence(1, size(t) - 1), i -> concat_ws(' ', t[i-1], t[i]))"
                " else array() end"
            )
        ).alias("bigram")
    )
    bc = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c12")).withColumn(
        "w1", F.split("bigram", " ").getItem(0)
    )
    uc = bc.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    tot = bc.agg(F.sum("c12").cast("long").alias("n_bigrams"))
    joined = bc.join(uc, "w1")
    joined = with_stages(joined, _ER_STAGES)
    terms = joined.select(F.expr(_ER_T6).alias("t6"))
    return (
        terms.agg(F.sum("t6").alias("s6"))
        .crossJoin(F.broadcast(tot))
        .select(
            "n_bigrams",
            fround(
                (F.col("s6").cast("double") / F.lit(1000000.0)) / F.col("n_bigrams"), 4
            ).alias("entropy_rate_nats"),
        )
    )


# ---------------------------------------------------------------------------
# Source vocabulary-similarity matrix — pairwise Jaccard of each
# source's top-vocabulary SET (the set-overlap complement of
# text_kl_divergence's distributional distance; near-identical vocab
# with shifted frequencies scores high here but far there). Per-source
# top-K vocab bounds the self-join input to |sources|·K rows; all
# counts integral with one quantized division per pair.
# ---------------------------------------------------------------------------
VOCABSIM_K = 200


@register(
    "source_vocab_similarity",
    f"""
    WITH tc AS (
        SELECT source, w, count(*) AS c
        FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY source, w
    ),
    topv AS (
        SELECT source, w FROM (
            SELECT source, w,
                   row_number() OVER (PARTITION BY source ORDER BY c DESC, w) AS rk
            FROM tc
        ) WHERE rk <= {VOCABSIM_K}
    ),
    sizes AS (SELECT source, count(*) AS n FROM topv GROUP BY source),
    inter AS (
        SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
        FROM topv a JOIN topv b ON a.w = b.w AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_shared,
           CAST(floor((n_shared * 1000000.0 / (sa.n + sb.n - n_shared)) + 0.5) AS BIGINT)
               / 1000000.0 AS vocab_jaccard
    FROM inter
    JOIN sizes sa ON sa.source = source_a
    JOIN sizes sb ON sb.source = source_b
    ORDER BY source_a, source_b
    """,
    "pairwise source vocabulary Jaccard over per-source top-K token sets",
)
def source_vocab_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tc = (
        docs.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # same grouped-rank shape as text_zipf_slope: the per-source frame
    # is vocabulary-sized, not bounded
    from .distrank import with_grouped_rank

    topv = (
        with_grouped_rank(
            spark, tc, ["source"], [(F.col("c"), False), F.col("w")], rn_col="rk"
        )
        .filter(F.col("rk") <= VOCABSIM_K)
        .select("source", "w")
        .transform(pin)  # feeds sizes + both join sides
    )
    sizes = topv.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = topv.select(F.col("source").alias("source_a"), "w")
    b = topv.select(F.col("source").alias("source_b"), "w")
    inter = (
        a.join(b, "w")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            (
                fround(
                    F.col("n_shared")
                    * F.lit(1000000.0)
                    / (F.col("na") + F.col("nb") - F.col("n_shared"))
                )
                .cast("long")
                / F.lit(1000000.0)
            ).alias("vocab_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Heaps' law fit — vocabulary growth V(N) ≈ K·N^β across the corpus
# (β ≈ 0.4–0.6 for natural language; flat β betrays a closed/templated
# vocabulary — the growth twin of text_zipf_slope). The cumulative
# points come from the first-sight trick (events_user_growth): each
# token contributes to V at its FIRST document, so V and N at each
# doc-id rung are integer counts from two hash aggs — never a per-rung
# prefix re-scan. β is the OLS slope of ln V on ln N over the rungs,
# with every OLS term quantized (the text_zipf_slope discipline).
# BOUNDED-FRAME pln: the macro form runs only over the `points` frame
# (exactly HEAPS_RUNGS = 10 rows after two hash aggs), so the
# expression-tree size is paid on a 10-row plan leaf — staging would
# add five .withColumn nodes per ln for zero wall-clock win.
# ---------------------------------------------------------------------------
HEAPS_RUNGS = 10


@register(
    "text_heaps_law",
    f"""
    WITH docs_n AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
    ),
    maxid AS (SELECT max(doc_id) AS mx FROM docs_n),
    firsts AS (
        SELECT w, min(doc_id) AS first_doc
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w
    ),
    rungs AS (
        SELECT CAST(i AS INTEGER) AS rung,
               CAST(floor(mx * i * 1.0 / {HEAPS_RUNGS}) AS BIGINT) AS cut
        FROM maxid, LATERAL unnest(range(1, {HEAPS_RUNGS + 1})) t(i)
    ),
    points AS (
        SELECT r.rung,
               (SELECT CAST(sum(n_tok) AS BIGINT) FROM docs_n WHERE doc_id <= r.cut) AS n_stream,
               (SELECT count(*) FROM firsts WHERE first_doc <= r.cut) AS v_vocab
        FROM rungs r
    ),
    terms AS (
        SELECT CAST(floor(({pln('n_stream')} * 1000000.0) + 0.5) AS BIGINT) AS x6,
               CAST(floor(({pln('v_vocab')} * 1000000.0) + 0.5) AS BIGINT) AS y6,
               CAST(floor(({pln('n_stream')} * {pln('v_vocab')}
                          * 1000000.0) + 0.5) AS BIGINT) AS xy6,
               CAST(floor(({pln('n_stream')} * {pln('n_stream')}
                          * 1000000.0) + 0.5) AS BIGINT) AS xx6
        FROM points WHERE n_stream > 0 AND v_vocab > 0
    )
    SELECT count(*) AS n_points,
           floor(((count(*) * (CAST(sum(xy6) AS DOUBLE) / 1000000.0)
                  - (CAST(sum(x6) AS DOUBLE) / 1000000.0) * (CAST(sum(y6) AS DOUBLE) / 1000000.0))
                 / (count(*) * (CAST(sum(xx6) AS DOUBLE) / 1000000.0)
                    - (CAST(sum(x6) AS DOUBLE) / 1000000.0) * (CAST(sum(x6) AS DOUBLE) / 1000000.0))) * 1e4 + 0.5) / 1e4 AS heaps_beta
    FROM terms
    """,
    "Heaps' law vocabulary-growth exponent via first-sight rungs and quantized OLS",
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # r15 (guide §2.4, r14-verdict item 4): docs_n (2 narrow columns per
    # doc) is read by mx AND the rung aggregation, and the 1-row mx
    # feeds the rungs frame that both point passes broadcast — unpinned,
    # each reference re-scanned and re-tokenized the corpus. Pinned,
    # the corpus is scanned twice total (docs_n once, firsts once).
    docs_n = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    ).transform(pin)
    mx = docs_n.agg(F.max("doc_id").alias("mx")).transform(pin)
    firsts = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    rungs = (
        spark.createDataFrame([(i,) for i in range(1, HEAPS_RUNGS + 1)], "rung int")
        .crossJoin(F.broadcast(mx))
        .select(
            "rung",
            F.floor(F.col("mx") * F.col("rung") * F.lit(1.0) / F.lit(HEAPS_RUNGS))
            .cast("long")
            .alias("cut"),
        )
    )
    n_pts = (
        docs_n.crossJoin(F.broadcast(rungs))
        .filter(F.col("doc_id") <= F.col("cut"))
        .groupBy("rung")
        .agg(F.sum("n_tok").cast("long").alias("n_stream"))
    )
    v_pts = (
        firsts.crossJoin(F.broadcast(rungs))
        .filter(F.col("first_doc") <= F.col("cut"))
        .groupBy("rung")
        .agg(F.count(F.lit(1)).alias("v_vocab"))
    )
    points = n_pts.join(v_pts, "rung").filter(
        (F.col("n_stream") > 0) & (F.col("v_vocab") > 0)
    )
    x = F.expr(pln("n_stream"))
    y = F.expr(pln("v_vocab"))
    m = F.lit(1000000.0)
    terms = points.select(
        fround(x * m).cast("long").alias("x6"),
        fround(y * m).cast("long").alias("y6"),
        fround(x * y * m).cast("long").alias("xy6"),
        fround(x * x * m).cast("long").alias("xx6"),
    )
    n = F.count(F.lit(1))
    sx = F.sum("x6").cast("double") / m
    sy = F.sum("y6").cast("double") / m
    sxy = F.sum("xy6").cast("double") / m
    sxx = F.sum("xx6").cast("double") / m
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return terms.agg(n.alias("n_points"), fround(slope, 4).alias("heaps_beta"))


# ---------------------------------------------------------------------------
# Temperature-scaled source mixing weights — the multilingual-corpus
# rebalancing rule (sample source i proportional to n_i^alpha, alpha =
# 0.5): raises low-resource sources' share without flattening to
# uniform. One hash aggregate over the corpus; the normalizing window
# runs over the |sources|-row result (bounded). Parity: sqrt is an
# IEEE-754 correctly-rounded basic op on both engines (unlike ln/exp),
# quantized to an e6 BIGINT by the floor form; the share is then exact
# integer arithmetic — round-half-up via share_expr/share_sql
# (DECIMAL(38,0)/HUGEINT widened + zero-guarded, so no per-source
# volume bound is needed).
# ---------------------------------------------------------------------------
@register(
    "corpus_mix_temperature",
    f"""
    WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
    w AS (SELECT source, n_docs,
                 CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS w_e6
          FROM c),
    t AS (SELECT source, n_docs, w_e6,
                 CAST(sum(w_e6) OVER () AS BIGINT) AS tot_e6
          FROM w)
    SELECT source, n_docs, w_e6,
           {share_sql("w_e6", "tot_e6", 6)} AS share_e6
    FROM t
    ORDER BY source
    """,
    "temperature-scaled (alpha=0.5) source sampling weights via portable sqrt + exact integer shares",
)
def corpus_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = c.select(
        "source",
        "n_docs",
        F.expr("cast(floor(sqrt(cast(n_docs as double)) * 1e6 + 0.5) as bigint)").alias("w_e6"),
    )
    t = w.select(
        "source", "n_docs", "w_e6",
        F.sum("w_e6").over(Window.partitionBy()).cast("long").alias("tot_e6"),
    )
    return t.select(
        "source",
        "n_docs",
        "w_e6",
        share_expr("w_e6", "tot_e6", 6).alias("share_e6"),
    ).orderBy("source")


@register(
    "corpus_global_shuffle",
    """
    WITH k AS (
        SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':42') AS k
        FROM documents
    ),
    r AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY k, doc_id) AS BIGINT) AS pos
        FROM k
    )
    SELECT doc_id, pos, CAST((pos - 1) % 16 AS INT) AS shard
    FROM r
    ORDER BY doc_id
    """,
    "deterministic seeded GLOBAL training-shuffle order: md5(doc_id, "
    "seed) sort key, exact global position via the two-phase "
    "distributed rank (never a single-task window at scale), "
    "round-robin shard of 16 — the resumable input order a trainer "
    "replays without re-shuffling the corpus",
)
def corpus_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .distrank import with_global_rank

    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":42"))).alias("k"),
    )
    ranked = with_global_rank(
        spark, docs, [F.col("k"), F.col("doc_id")], rn_col="pos"
    )
    return ranked.select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        ((F.col("pos") - 1) % 16).cast("int").alias("shard"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Systematic importance RESAMPLING — the step after importance weights
# (text_dsir_weights): draw m slots by marching a fixed stride through
# the cumulative weight axis (Kitagawa's systematic resampler), so a
# doc's pick count is deterministic and proportional to its weight with
# variance strictly lower than multinomial draws. Everything is EXACT
# integer arithmetic: weights are n_chars (bigint), the k-th slot sits
# at (2k+1)*W/(2m), and the number of slots landing inside a doc's
# cumulative interval [cum-w, cum) has the closed form below — no
# floats anywhere, so the oracle cannot diverge. The cumulative sum
# runs through the two-phase distributed rank (never a single-task
# window at scale); W is a separate 1-row aggregate over the BASE
# table, so the rank frame never fans out (plan-reuse audit clean).
# ---------------------------------------------------------------------------
RESAMPLE_M = 500


def _rs_f(m: int, c: str, div: str, tot: str = "W") -> str:
    """Slot count strictly below cumulative weight ``c``:
    #{k in [0,m): (2k+1)*W < 2*m*c}, with the engine's integer-div
    spelling (Spark ``div``, DuckDB ``//`` — identical on the nonneg
    operands the CASE guard guarantees). ``tot`` names the total-weight
    column: the Spark side calls it ``tw`` because ``W`` would collide
    with the per-doc ``w`` under case-insensitive resolution."""
    return (
        f"least({m}, case when 2*{m}*({c}) <= {tot} then 0 "
        f"else (2*{m}*({c}) - {tot} - 1) {div} (2*{tot}) + 1 end)"
    )


@register(
    "corpus_importance_resample",
    f"""
    WITH t AS (SELECT CAST(sum(n_chars) AS BIGINT) AS tw FROM documents),
    c AS (
        SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS w,
               CAST(sum(n_chars) OVER (ORDER BY doc_id) AS BIGINT) AS cum
        FROM documents
    ),
    p AS (
        SELECT doc_id, lang, w,
               CAST({_rs_f(RESAMPLE_M, 'cum', '//', tot='tw')}
                    - {_rs_f(RESAMPLE_M, 'cum - w', '//', tot='tw')} AS BIGINT) AS n_picks
        FROM c, t
    )
    SELECT doc_id, lang, w, n_picks
    FROM p WHERE n_picks > 0
    ORDER BY doc_id
    """,
    "systematic importance resampling: m=500 deterministic stride slots "
    "over the exact integer cumulative-weight axis (weight = n_chars); "
    "cumsum via the two-phase distributed rank, pick counts in closed "
    "form — zero floats end to end",
)
def corpus_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .distrank import with_global_rank

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("w")
    )
    tot = docs.agg(F.sum("w").cast("long").alias("tw"))
    c = with_global_rank(
        spark, docs, [F.col("doc_id")], rn_col="__rn", cum_col="cum", cum_src="w"
    )
    m = RESAMPLE_M
    picks = (
        F.expr(_rs_f(m, "cum", "div", tot="tw"))
        - F.expr(_rs_f(m, "cum - w", "div", tot="tw"))
    ).cast("long")
    return (
        c.crossJoin(F.broadcast(tot))
        .select("doc_id", "lang", "w", picks.alias("n_picks"))
        .filter(F.col("n_picks") > 0)
        .orderBy("doc_id")
    )
