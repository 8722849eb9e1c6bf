"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All pure Catalyst expressions (split / regexp / aggregate over arrays)
— no UDFs, so the whole thing runs inside whole-stage codegen and
scales with executors. Each query is oracle-checked against DuckDB
computing the same formulas.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.portable import LN2, pexp, pln, pln_ratio, pln_stages, stage_subselects, with_stages
from ..plans.registry import fround, register, share_expr, share_sql, table
from .pins import pin

# Shared portable-transcendental snippets (see plans/portable.py): each
# is ONE SQL string spliced verbatim into BOTH the oracle SQL and the
# Spark plan via F.expr, so the two surfaces cannot diverge by a libm
# ulp. The polynomial IS the operator's semantics.
# Staged-column variants (r6 verdict item 4): same bit pattern as the
# macros (tests/test_portable.py::test_pln_stages_bit_identical),
# ~5x smaller Catalyst trees. `_ENT_TERM6` is the shared per-row
# quantized entropy term over a staged pc_ln column.
_PC_STAGES, _PC_LN = pln_stages("c", "pc")
_PN_STAGES, _PN_LN = pln_stages("n", "pn")
_ENT_TERM6 = f"CAST(floor((CAST(c AS DOUBLE) * {_PC_LN} * 1000000.0) + 0.5) AS BIGINT)"
_IDF_A_STAGES, _IDF_A_LN = pln_stages("(n_docs + 1)", "pa")
_IDF_B_STAGES, _IDF_B_LN = pln_stages("(df + 1)", "pb")

# tiny deterministic stopword lists for the n-gram language heuristic
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "for"],
    "es": ["el", "la", "de", "y", "en", "que", "los", "por"],
    "fr": ["le", "la", "et", "de", "un", "une", "les", "pour"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein"],
}


def _sql_list(words: list[str]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def _ratio_spark(lang: str):
    # cast to double BEFORE dividing: Spark's `1.0` SQL literal is a
    # DECIMAL, and decimal outputs stringify differently from DuckDB's
    # doubles in the driver's value hash (r1 hash_match=false).
    lst = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return F.expr(
        f"floor((size(filter(t, x -> x in ({lst}))) / cast(greatest(size(t), 1) as double)) * 1e4 + 0.5) / 1e4"
    ).alias(f"{lang}_ratio")


@register(
    "text_language_id",
    f"""
    WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
    scored AS (
        SELECT doc_id, lang,
               floor((len(list_filter(t, x -> x IN ({_sql_list(STOPWORDS['en'])}))) * 1.0 / greatest(len(t), 1)) * 1e4 + 0.5) / 1e4 AS en_ratio,
               floor((len(list_filter(t, x -> x IN ({_sql_list(STOPWORDS['es'])}))) * 1.0 / greatest(len(t), 1)) * 1e4 + 0.5) / 1e4 AS es_ratio,
               floor((len(list_filter(t, x -> x IN ({_sql_list(STOPWORDS['fr'])}))) * 1.0 / greatest(len(t), 1)) * 1e4 + 0.5) / 1e4 AS fr_ratio,
               floor((len(list_filter(t, x -> x IN ({_sql_list(STOPWORDS['de'])}))) * 1.0 / greatest(len(t), 1)) * 1e4 + 0.5) / 1e4 AS de_ratio
        FROM toks
    )
    SELECT doc_id, lang, en_ratio, es_ratio, fr_ratio, de_ratio,
           CASE WHEN en_ratio >= es_ratio AND en_ratio >= fr_ratio AND en_ratio >= de_ratio THEN 'en'
                WHEN es_ratio >= fr_ratio AND es_ratio >= de_ratio THEN 'es'
                WHEN fr_ratio >= de_ratio THEN 'fr'
                ELSE 'de' END AS predicted
    FROM scored
    ORDER BY doc_id
    """,
    "stopword-ratio language heuristic with deterministic argmax",
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    d = docs.select("doc_id", "lang", F.split("text", " ").alias("t")).select(
        "doc_id", "lang", *[_ratio_spark(lang) for lang in ("en", "es", "fr", "de")]
    )
    en, es, fr, de = (F.col(f"{x}_ratio") for x in ("en", "es", "fr", "de"))
    predicted = (
        F.when((en >= es) & (en >= fr) & (en >= de), "en")
        .when((es >= fr) & (es >= de), "es")
        .when(fr >= de, "fr")
        .otherwise("de")
    )
    return d.withColumn("predicted", predicted).orderBy("doc_id")


@register(
    "text_quality",
    """
    WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)
    SELECT doc_id,
           length(text)                                   AS n_chars,
           len(t)                                         AS n_tokens,
           floor((length(text) * 1.0 / greatest(len(t), 1)) * 1e4 + 0.5) / 1e4 AS mean_tok_len,
           len(list_filter(t, x -> x = 'the' OR x = 'a')) AS n_stop,
           floor((len(list_distinct(t)) * 1.0 / greatest(len(t), 1)) * 1e4 + 0.5) / 1e4 AS uniq_ratio,
           floor((least(len(t) / 100.0, 1.0)
                 * (0.5 + 0.5 * len(list_distinct(t)) * 1.0 / greatest(len(t), 1))) * 1e4 + 0.5) / 1e4 AS quality_score
    FROM toks
    ORDER BY doc_id
    """,
    "doc quality features: length, token stats, uniqueness, composite score",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    d = docs.select("doc_id", "text", F.split("text", " ").alias("t"))
    n_tokens = F.size("t")
    uniq = F.expr("size(array_distinct(t)) / cast(greatest(size(t), 1) as double)")
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        n_tokens.alias("n_tokens"),
        fround(F.length("text") * 1.0 / F.greatest(n_tokens, F.lit(1)), 4).alias("mean_tok_len"),
        F.expr("size(filter(t, x -> x = 'the' OR x = 'a'))").alias("n_stop"),
        fround(uniq, 4).alias("uniq_ratio"),
        fround(F.least(n_tokens / 100.0, F.lit(1.0)) * (0.5 + 0.5 * uniq), 4).alias(
            "quality_score"
        ),
    ).orderBy("doc_id")


@register(
    "text_token_count",
    r"""
    SELECT doc_id,
           len(string_split(text, ' '))                  AS ws_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bpeish_tokens,
           length(text) - length(replace(text, ' ', ''))  AS n_spaces
    FROM documents
    ORDER BY doc_id
    """,
    "token counting: whitespace split and a BPE-ish regex tokenizer",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(F.expr(r"regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)")).alias(
            "bpeish_tokens"
        ),
        (F.length("text") - F.length(F.regexp_replace("text", " ", ""))).alias("n_spaces"),
    ).orderBy("doc_id")


@register(
    "text_fingerprint",
    """
    SELECT doc_id,
           md5(lower(trim(text)))              AS content_hash,
           md5(substr(lower(trim(text)), 1, 64)) AS prefix_hash,
           substr(md5(lower(trim(text))), 1, 8)  AS shard_key
    FROM documents
    ORDER BY doc_id
    """,
    "content fingerprints: full/prefix md5 + shard key for distributed dedup routing",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.col("text")))
    return docs.select(
        "doc_id",
        F.md5(norm.cast("binary")).alias("content_hash"),
        F.md5(F.substring(norm, 1, 64).cast("binary")).alias("prefix_hash"),
        F.substring(F.md5(norm.cast("binary")), 1, 8).alias("shard_key"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# PII-style redaction: scrub emails / URLs / IPv4s before training.
# Pure regexp_replace — stays in codegen; patterns restricted to the
# regex dialect subset DuckDB's RE2 and Java's regex share.
# ---------------------------------------------------------------------------
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_URL_RE = "https?://[^ ]+"
_IPV4_RE = "([0-9]{1,3}\\.){3}[0-9]{1,3}"


@register(
    "text_redact",
    f"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(text, '{_URL_RE}', '<URL>', 'g'),
               '{_EMAIL_RE}', '<EMAIL>', 'g'),
             '{_IPV4_RE}', '<IP>', 'g')                    AS redacted,
           length(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
           length(regexp_extract_all(text, '{_URL_RE}'))   AS n_urls
    FROM documents
    ORDER BY doc_id
    """,
    "PII-style scrubbing: URL/email/IPv4 redaction + match counts",
)
def text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _URL_RE, "<URL>"),
            _EMAIL_RE,
            "<EMAIL>",
        ),
        _IPV4_RE,
        "<IP>",
    )
    return docs.select(
        "doc_id",
        redacted.alias("redacted"),
        F.size(F.expr(f"regexp_extract_all(text, '{_EMAIL_RE}', 0)")).alias("n_emails"),
        F.size(F.expr(f"regexp_extract_all(text, '{_URL_RE}', 0)")).alias("n_urls"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Deterministic train/val/test assignment: md5-bucket on (salt, doc_id) —
# stable across engines, runs, and cluster sizes; no RNG, no shuffle
# beyond the final sort. The standard split primitive for corpus builds.
# ---------------------------------------------------------------------------
SPLIT_SALT = "corpus-v1"


@register(
    "text_split_assign",
    f"""
    WITH b AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5('{SPLIT_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
        FROM documents
    )
    SELECT doc_id, CAST(bucket AS INTEGER) AS bucket,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    ORDER BY doc_id
    """,
    "deterministic 90/5/5 train/val/test split via salted md5 bucketing",
)
def text_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit(f"{SPLIT_SALT}:"), F.col("doc_id").cast("string")).cast("binary")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    return (
        docs.select("doc_id", bucket.cast("int").alias("bucket"))
        .withColumn(
            "split",
            F.when(F.col("bucket") < 90, "train").when(F.col("bucket") < 95, "val").otherwise("test"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# C4/Gopher-style rule-based quality filter: the standard pre-training
# keep/drop gate. Each rule is a named boolean column so downstream
# pipelines can audit WHY a document was dropped, not just that it was.
# Pure Catalyst expressions; thresholds shared with the oracle.
# ---------------------------------------------------------------------------
QR_MIN_TOKENS, QR_MAX_TOKENS = 20, 1000
QR_MIN_MEAN_LEN, QR_MAX_MEAN_LEN = 2.0, 12.0
QR_MIN_STOP_HITS = 1
QR_MIN_UNIQ = 0.3
QR_MAX_NUM_RATIO = 0.3
_NUM_TOKEN_RE = "^[0-9]+$"


@register(
    "text_quality_rules",
    f"""
    WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
    m AS (
        SELECT doc_id,
               len(t) AS n_tokens,
               floor((list_sum(list_transform(t, x -> length(x))) / greatest(len(t), 1)::DOUBLE) * 1e4 + 0.5) / 1e4 AS mean_tok_len,
               len(list_filter(t, x -> x IN ({_sql_list(STOPWORDS['en'])}))) AS stop_hits,
               floor((len(list_distinct(t)) / greatest(len(t), 1)::DOUBLE) * 1e4 + 0.5) / 1e4 AS uniq_ratio,
               floor((len(list_filter(t, x -> regexp_matches(x, '{_NUM_TOKEN_RE}'))) / greatest(len(t), 1)::DOUBLE) * 1e4 + 0.5) / 1e4 AS num_ratio
        FROM toks
    )
    SELECT doc_id, n_tokens, mean_tok_len, stop_hits, uniq_ratio, num_ratio,
           n_tokens BETWEEN {QR_MIN_TOKENS} AND {QR_MAX_TOKENS}            AS r_word_count,
           mean_tok_len BETWEEN {QR_MIN_MEAN_LEN} AND {QR_MAX_MEAN_LEN}    AS r_mean_len,
           stop_hits >= {QR_MIN_STOP_HITS}                                 AS r_stopword,
           uniq_ratio >= {QR_MIN_UNIQ}                                     AS r_repetition,
           num_ratio <= {QR_MAX_NUM_RATIO}                                 AS r_numeric,
           (n_tokens BETWEEN {QR_MIN_TOKENS} AND {QR_MAX_TOKENS})
             AND (mean_tok_len BETWEEN {QR_MIN_MEAN_LEN} AND {QR_MAX_MEAN_LEN})
             AND stop_hits >= {QR_MIN_STOP_HITS}
             AND uniq_ratio >= {QR_MIN_UNIQ}
             AND num_ratio <= {QR_MAX_NUM_RATIO}                           AS keep
    FROM m
    ORDER BY doc_id
    """,
    "C4/Gopher-style rule filter: per-rule booleans + keep decision",
)
def text_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        apply_quality_rules(docs.select("doc_id", "text"))
        .select("doc_id", *QUALITY_RULE_COLUMNS)
        .orderBy("doc_id")
    )


QUALITY_RULE_COLUMNS = [
    "n_tokens",
    "mean_tok_len",
    "stop_hits",
    "uniq_ratio",
    "num_ratio",
    "r_word_count",
    "r_mean_len",
    "r_stopword",
    "r_repetition",
    "r_numeric",
    "keep",
]


def apply_quality_rules(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the rule metrics/flags/keep columns to any DataFrame with a
    text column. Stateless per-row projection (pure Catalyst exprs) —
    works identically on batch DataFrames and streaming sources, which
    is how a 100 TB ingest applies the gate at document arrival time."""
    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    d = df.withColumn("__t", F.split(text_col, " "))
    d = d.withColumns(
        {
            "n_tokens": F.size("__t"),
            "mean_tok_len": F.expr(
                "floor((aggregate(__t, 0L, (a, x) -> a + length(x)) / cast(greatest(size(__t), 1) as double)) * 1e4 + 0.5) / 1e4"
            ),
            "stop_hits": F.expr(f"size(filter(__t, x -> x in ({en})))"),
            "uniq_ratio": F.expr(
                "floor((size(array_distinct(__t)) / cast(greatest(size(__t), 1) as double)) * 1e4 + 0.5) / 1e4"
            ),
            "num_ratio": F.expr(
                f"floor((size(filter(__t, x -> x rlike '{_NUM_TOKEN_RE}')) / cast(greatest(size(__t), 1) as double)) * 1e4 + 0.5) / 1e4"
            ),
        }
    ).drop("__t")
    r_wc = F.col("n_tokens").between(QR_MIN_TOKENS, QR_MAX_TOKENS)
    r_ml = F.col("mean_tok_len").between(QR_MIN_MEAN_LEN, QR_MAX_MEAN_LEN)
    r_st = F.col("stop_hits") >= QR_MIN_STOP_HITS
    r_rep = F.col("uniq_ratio") >= QR_MIN_UNIQ
    r_num = F.col("num_ratio") <= QR_MAX_NUM_RATIO
    return d.withColumns(
        {
            "r_word_count": r_wc,
            "r_mean_len": r_ml,
            "r_stopword": r_st,
            "r_repetition": r_rep,
            "r_numeric": r_num,
            "keep": r_wc & r_ml & r_st & r_rep & r_num,
        }
    )


# ---------------------------------------------------------------------------
# Deterministic stratified sampling: k docs per (lang, source) stratum,
# ranked by a salted content-independent hash — stable across engines,
# runs, and cluster sizes. The oracle states the naive per-stratum
# window; strata are few (|langs| x |sources|) while the frame is the
# whole corpus, so the Spark side ranks via the grouped two-phase scan
# (distrank.with_grouped_rank) — identical ranks, no per-stratum sort
# funnel.
# ---------------------------------------------------------------------------
STRAT_K = 20
STRAT_SALT = "strat-v1"


@register(
    "sample_stratified",
    f"""
    WITH ranked AS (
        SELECT doc_id, lang, source,
               row_number() OVER (
                   PARTITION BY lang, source
                   ORDER BY md5('{STRAT_SALT}:' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk
        FROM documents
    )
    SELECT doc_id, lang, source, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {STRAT_K}
    ORDER BY lang, source, rk
    """,
    f"deterministic stratified sample: top-{STRAT_K} per (lang, source) by salted md5 rank",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .distrank import with_grouped_rank

    docs = table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit(f"{STRAT_SALT}:"), F.col("doc_id").cast("string")).cast("binary"))
    keyed = docs.select("doc_id", "lang", "source", key.alias("__k"))
    return (
        with_grouped_rank(
            spark,
            keyed,
            ["lang", "source"],
            [F.col("__k"), F.col("doc_id")],
            rn_col="rk",
        )
        .filter(F.col("rk") <= STRAT_K)
        .select("doc_id", "lang", "source", F.col("rk").cast("bigint").alias("rk"))
        .orderBy("lang", "source", "rk")
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination: score every training doc by its distinct
# word-3-gram overlap against a benchmark set (here: source = 'src0').
# The benchmark gram set is broadcast (eval sets are small in practice);
# the per-doc count is one hash aggregation — the canonical shape for
# decontaminating a 100 TB corpus against held-out eval suites.
# ---------------------------------------------------------------------------
CONTAM_NGRAM = 3
CONTAM_BENCH_SOURCE = "src0"
CONTAM_THRESHOLD = 0.5


@register(
    "text_contamination",
    f"""
    WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
    grams AS (
        SELECT DISTINCT doc_id, source,
               unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                       for i in range(1, greatest(len(t) - {CONTAM_NGRAM - 2}, 1))]) AS g
        FROM toks
    ),
    bench AS (SELECT DISTINCT g FROM grams WHERE source = '{CONTAM_BENCH_SOURCE}'),
    per_doc AS (
        SELECT gr.doc_id, count(*) AS n_grams, count(b.g) AS n_hit
        FROM grams gr LEFT JOIN bench b ON gr.g = b.g
        WHERE gr.source <> '{CONTAM_BENCH_SOURCE}'
        GROUP BY gr.doc_id
    )
    SELECT doc_id, n_grams, n_hit,
           floor((n_hit / n_grams::DOUBLE) * 1e4 + 0.5) / 1e4 AS contamination,
           n_hit / n_grams::DOUBLE >= {CONTAM_THRESHOLD} AS contaminated
    FROM per_doc
    ORDER BY doc_id
    """,
    "benchmark decontamination: distinct 3-gram overlap vs the benchmark source",
)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "source", F.split("text", " ").alias("t"))
    # distinct-per-doc via array_distinct INSIDE the row — no global
    # (doc_id, g) distinct shuffle; the only shuffles left are the tiny
    # bench-gram distinct and the per-doc aggregate
    grams = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"case when size(t) >= {CONTAM_NGRAM} then"
                    f" transform(sequence(1, size(t) - {CONTAM_NGRAM - 1}),"
                    f"  i -> concat_ws(' ', t[i-1], t[i], t[i+1]))"
                    f" else array() end"
                )
            )
        ).alias("g"),
    )
    bench = (
        grams.filter(F.col("source") == CONTAM_BENCH_SOURCE).select(F.col("g").alias("bg")).distinct()
    )
    per_doc = (
        grams.filter(F.col("source") != CONTAM_BENCH_SOURCE)
        .join(F.broadcast(bench), F.col("g") == F.col("bg"), "left")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_grams"), F.count("bg").alias("n_hit"))
    )
    contamination = F.col("n_hit") / F.col("n_grams")
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_hit",
        fround(contamination, 4).alias("contamination"),
        (contamination >= CONTAM_THRESHOLD).alias("contaminated"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Sequence packing: assign docs (in doc_id order) to fixed-size context
# shards by global token offset — the shard-building step of a training
# pipeline. The global prefix sum is computed the scalable way: range-
# partition by doc_id, per-partition totals (one tiny job), then a
# per-partition cumulative sum seeded with the exclusive partition
# offset — NO single-partition global window, so the same plan holds at
# 100 TB. Oracle: DuckDB's global window cumsum (fine at oracle scale).
# ---------------------------------------------------------------------------
PACK_CTX = 4096


@register(
    "text_pack_sequences",
    f"""
    WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents),
    c AS (
        SELECT doc_id, n_tok,
               sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        FROM t
    )
    SELECT CAST((cum - n_tok) // {PACK_CTX} AS BIGINT) AS shard_id,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM c
    GROUP BY 1
    ORDER BY shard_id
    """,
    f"pack docs into {PACK_CTX}-token shards via distributed two-phase prefix sum",
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tok")
    )
    nparts = max(spark.sparkContext.defaultParallelism, 1)
    d = (
        docs.repartitionByRange(nparts, "doc_id")
        .sortWithinPartitions("doc_id")
        .withColumn("pid", F.spark_partition_id())
        # two consumers (per-partition totals + the cumsum pass) must see
        # identical partitioning; the pin fixes it and runs the range
        # shuffle once
        .transform(pin)
    )
    totals = {r.pid: r.s for r in d.groupBy("pid").agg(F.sum("n_tok").alias("s")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]
    b_off = spark.sparkContext.broadcast(offsets)

    def cumsum(batches):
        running = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if running is None:
                running = b_off.value[int(pdf["pid"].iloc[0])]
            cs = pdf["n_tok"].cumsum() + running
            running = int(cs.iloc[-1])
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "n_tok": pdf["n_tok"], "cum": cs}
            )

    c = d.mapInPandas(cumsum, schema="doc_id long, n_tok long, cum long")
    shard = F.floor((F.col("cum") - F.col("n_tok")) / F.lit(PACK_CTX)).cast("bigint")
    return (
        c.groupBy(shard.alias("shard_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("shard_id")
    )


# ---------------------------------------------------------------------------
# Corpus n-gram statistics: the LM-data counting workload. Top-k by
# count with a deterministic tie-break; the heavy lifting is one
# explode + one hash aggregation (map-side partial combine), the
# canonical shape for counting over a 100 TB corpus.
# ---------------------------------------------------------------------------
NGRAM_N = 2
NGRAM_TOP = 100


@register(
    "text_ngram_counts",
    f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
        SELECT unnest([t[i] || ' ' || t[i+1]
                       for i in range(1, greatest(len(t), 1))]) AS g
        FROM toks
    )
    SELECT g AS ngram, count(*) AS n, count(*) * 1.0 / (SELECT count(*) FROM grams) AS frac
    FROM grams
    GROUP BY g
    ORDER BY n DESC, ngram
    LIMIT {NGRAM_TOP}
    """,
    "top bigrams with counts and corpus fraction (LM-data statistics)",
)
def text_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # materialize the token array once; build bigrams over it (the naive
    # expr re-runs split(text) three times per row)
    grams = (
        docs.select(F.split("text", " ").alias("t"))
        .select(
            F.explode(
                F.expr(
                    f"case when size(t) >= {NGRAM_N} then"
                    f" transform(sequence(1, size(t) - 1),"
                    f"  i -> concat_ws(' ', t[i-1], t[i]))"
                    f" else array() end"
                )
            ).alias("ngram")
        )
    )
    # ONE pass over the corpus: the total gram count is the sum of the
    # per-ngram counts, derived from the aggregated (tiny) result rather
    # than a second full explode+count job. The broadcast scalar join
    # costs nothing; the heavy explode shuffle is shared via Spark's
    # exchange reuse.
    counts = grams.groupBy("ngram").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("__total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select("ngram", "n", (F.col("n") / F.col("__total")).alias("frac"))
        .orderBy(F.col("n").desc(), "ngram")
        .limit(NGRAM_TOP)
    )


# ---------------------------------------------------------------------------
# End-to-end curation: the corpus-build composition every training-data
# pipeline runs — rule-based quality gate ∘ exact-dedup keeper ∘
# deterministic split assignment — as ONE declarative plan, so Catalyst
# fuses the gates into a single pass over the corpus plus one dedup
# aggregation (keepers broadcast back as a semi-join).
# ---------------------------------------------------------------------------
@register(
    "pipeline_curate",
    f"""
    WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
    m AS (
        SELECT doc_id,
               len(t) AS n_tokens,
               floor((list_sum(list_transform(t, x -> length(x))) / greatest(len(t), 1)::DOUBLE) * 1e4 + 0.5) / 1e4 AS mean_tok_len,
               len(list_filter(t, x -> x IN ({_sql_list(STOPWORDS['en'])}))) AS stop_hits,
               floor((len(list_distinct(t)) / greatest(len(t), 1)::DOUBLE) * 1e4 + 0.5) / 1e4 AS uniq_ratio,
               floor((len(list_filter(t, x -> regexp_matches(x, '{_NUM_TOKEN_RE}'))) / greatest(len(t), 1)::DOUBLE) * 1e4 + 0.5) / 1e4 AS num_ratio
        FROM toks
    ),
    keepers AS (SELECT min(doc_id) AS keeper FROM documents GROUP BY md5(text)),
    b AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5('{SPLIT_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
        FROM documents
    )
    SELECT m.doc_id, m.n_tokens, CAST(b.bucket AS INTEGER) AS bucket,
           CASE WHEN b.bucket < 90 THEN 'train'
                WHEN b.bucket < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM m
    JOIN keepers k ON k.keeper = m.doc_id
    JOIN b ON b.doc_id = m.doc_id
    WHERE m.n_tokens BETWEEN {QR_MIN_TOKENS} AND {QR_MAX_TOKENS}
      AND m.mean_tok_len BETWEEN {QR_MIN_MEAN_LEN} AND {QR_MAX_MEAN_LEN}
      AND m.stop_hits >= {QR_MIN_STOP_HITS}
      AND m.uniq_ratio >= {QR_MIN_UNIQ}
      AND m.num_ratio <= {QR_MAX_NUM_RATIO}
    ORDER BY m.doc_id
    """,
    "end-to-end curation: quality gate + exact-dedup keeper + split assignment",
)
def pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    flagged = apply_quality_rules(docs.select("doc_id", "text")).filter("keep")
    keepers = (
        docs.groupBy(F.md5(F.col("text").cast("binary")))
        .agg(F.min("doc_id").alias("keeper"))
        .select("keeper")
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{SPLIT_SALT}:"), F.col("doc_id").cast("string")).cast("binary")),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    return (
        flagged.join(keepers, flagged.doc_id == keepers.keeper, "left_semi")
        .withColumn("bucket", bucket.cast("int"))
        .withColumn(
            "split",
            F.when(F.col("bucket") < 90, "train").when(F.col("bucket") < 95, "val").otherwise("test"),
        )
        .select("doc_id", "n_tokens", "bucket", "split")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Edit-distance similarity (beyond reference): Levenshtein over
# normalized prefixes — the character-level near-dup metric, here over
# adjacent-id pairs (the shape after any candidate generator; swap the
# self-join condition for LSH candidates at scale).
# ---------------------------------------------------------------------------
EDIT_PREFIX = 64


# Parity note: DuckDB's levenshtein counts BYTES while Spark's counts
# CHARACTERS, so any multi-byte UTF-8 character shifts the distance
# (caught by tests/test_edge_oracle.py on an accented doc). Both sides
# therefore ASCII-fold first — every non-ASCII char becomes '?' BEFORE
# the prefix cut (pinned order) — making byte and character edits
# identical by construction.
@register(
    "text_edit_distance",
    f"""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(
               substr(regexp_replace(lower(a.text), '[^\\x00-\\x7f]', '?', 'g'), 1, {EDIT_PREFIX}),
               substr(regexp_replace(lower(b.text), '[^\\x00-\\x7f]', '?', 'g'), 1, {EDIT_PREFIX})
           ) AS edit_dist
    FROM documents a
    JOIN documents b ON b.doc_id = a.doc_id + 1
    ORDER BY doc_a
    """,
    f"Levenshtein distance over ASCII-folded lowercased {EDIT_PREFIX}-char prefixes of adjacent docs",
)
def text_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")

    def folded(col: str):
        return F.substring(
            F.regexp_replace(F.lower(col), "[^\\x00-\\x7f]", "?"), 1, EDIT_PREFIX
        )

    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("ta"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"))
    return (
        a.join(b, F.col("doc_b") == F.col("doc_a") + 1)
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein(folded("ta"), folded("tb")).alias("edit_dist"),
        )
        .orderBy("doc_a")
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition signals: fraction of mass in the single most
# frequent token, and duplicate-bigram / duplicate-trigram fractions.
# All within-row array math (no shuffle at all except the final sort):
# each document's signals are computed from its own token array inside
# whole-stage codegen, so the operator is embarrassingly parallel and
# scan-bound at any scale.
# ---------------------------------------------------------------------------
@register(
    "text_repetition",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    g AS (
        SELECT doc_id, t,
               [t[i] || ' ' || t[i+1] for i in range(1, greatest(len(t), 1))] AS big,
               [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                for i in range(1, greatest(len(t) - 1, 1))] AS tri
        FROM toks
    )
    SELECT doc_id,
           len(t) AS n_tokens,
           floor((list_max(list_transform(list_distinct(t), x -> len(list_filter(t, y -> y = x))))
                 * 1.0 / greatest(len(t), 1)) * 1e4 + 0.5) / 1e4 AS top_token_frac,
           floor((1.0 - len(list_distinct(big)) * 1.0 / greatest(len(big), 1)) * 1e4 + 0.5) / 1e4 AS dup_bigram_frac,
           floor((1.0 - len(list_distinct(tri)) * 1.0 / greatest(len(tri), 1)) * 1e4 + 0.5) / 1e4 AS dup_trigram_frac
    FROM g
    ORDER BY doc_id
    """,
    "Gopher repetition signals: top-token mass, duplicate bigram/trigram fractions",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    d = docs.select("doc_id", F.split("text", " ").alias("t")).select(
        "doc_id",
        "t",
        F.expr(
            "case when size(t) >= 2 then transform(sequence(1, size(t) - 1),"
            " i -> concat_ws(' ', t[i-1], t[i])) else array() end"
        ).alias("big"),
        F.expr(
            "case when size(t) >= 3 then transform(sequence(1, size(t) - 2),"
            " i -> concat_ws(' ', t[i-1], t[i], t[i+1])) else array() end"
        ).alias("tri"),
    )
    top_frac = F.expr(
        "floor((array_max(transform(array_distinct(t), x -> size(filter(t, y -> y = x))))"
        " / cast(greatest(size(t), 1) as double)) * 1e4 + 0.5) / 1e4"
    )
    dup_frac = lambda c: F.expr(  # noqa: E731
        f"floor((1.0 - size(array_distinct({c})) / cast(greatest(size({c}), 1) as double)) * 1e4 + 0.5) / 1e4"
    )
    return d.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        top_frac.alias("top_token_frac"),
        dup_frac("big").alias("dup_bigram_frac"),
        dup_frac("tri").alias("dup_trigram_frac"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Domain-mix resampling weights: per-language corpus share vs a uniform
# target mix — the knob a data pipeline turns to rebalance training
# corpora. One hash aggregate over the corpus; the normalizing window
# runs over the |langs|-row result (bounded, so the single-partition
# window is safe at any corpus size).
# ---------------------------------------------------------------------------
@register(
    "text_mix_weights",
    f"""
    WITH c AS (SELECT lang, count(*) AS n_docs,
                      CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
               FROM documents GROUP BY lang),
    t AS (SELECT lang, n_docs, n_tokens,
                 CAST(sum(n_docs) OVER () AS BIGINT) AS total,
                 CAST(count(*) OVER () AS BIGINT) AS n_langs
          FROM c)
    SELECT lang, n_docs, n_tokens,
           {share_sql("n_docs", "total")} AS doc_frac_e4,
           {share_sql("total", "n_langs * n_docs", 6)} AS resample_e6
    FROM t
    ORDER BY lang
    """,
    "per-language corpus shares + resampling weights toward a uniform mix",
)
def text_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy()
    # ALL-INTEGER output contract (r5 verdict item 2): this query was
    # driver-red three rounds running despite bit-exact local parity on
    # a pure basic-op double form, so no engine-derived DOUBLE may
    # reach the hash at all. The shares are round-half-up scaled
    # integers via share_expr/share_sql (DECIMAL(38,0)/HUGEINT
    # arithmetic — the r6-era BIGINT bound proof on total * 2e6 is now
    # moot, the widened form has ~1e15x headroom at any corpus size).
    total = F.sum("n_docs").over(w).cast("long")
    n_langs = F.count(F.lit(1)).over(w).cast("long")
    t = c.select("lang", "n_docs", "n_tokens", total.alias("total"), n_langs.alias("n_langs"))
    return t.select(
        "lang",
        "n_docs",
        "n_tokens",
        share_expr("n_docs", "total").alias("doc_frac_e4"),
        share_expr("total", "n_langs * n_docs", 6).alias("resample_e6"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# TF-IDF top terms per document — the classic retrieval/keyword-
# extraction primitive. Shape: per-(doc, term) hash-agg counts, a
# corpus document-frequency aggregate on term (|vocab|-bounded),
# broadcast back, rank per doc. idf = ln((N+1)/(df+1)) + 1 (the smoothed sklearn form)
# with every input integral, so both engines compute identical doubles.
# ---------------------------------------------------------------------------
TFIDF_TOP = 3


@register(
    "text_tfidf_top_terms",
    f"""
    WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY doc_id, term),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    staged AS ({stage_subselects(
        "SELECT tf.doc_id, tf.term, tf.tf, df.df, n.n_docs "
        "FROM tf JOIN df USING (term), n",
        _IDF_A_STAGES + _IDF_B_STAGES,
    )}),
    scored AS (
        SELECT doc_id, term,
               floor((tf * ((({_IDF_A_LN} - {_IDF_B_LN})) + 1.0)) * 1e4 + 0.5) / 1e4 AS tfidf
        FROM staged
    )
    SELECT doc_id, term, tfidf
    FROM (SELECT doc_id, term, tfidf,
                 row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
          FROM scored)
    WHERE rn <= {TFIDF_TOP}
    ORDER BY doc_id, tfidf DESC, term
    """,
    "top-3 TF-IDF terms per document (smoothed idf, deterministic ties)",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    # plain explode + hash-agg histogram: Spark's partial+final count on
    # (doc_id, term) beats the tempting in-row
    # transform(array_distinct, filter-count) histogram by ~2x — that
    # variant is O(distinct_terms x tokens) interpreted string compares
    # per document, while the agg is one codegen'd shuffle
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_counts = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.count()  # driver-side scalar: one tiny count job
    joined = tf.join(F.broadcast(df_counts), "term").withColumn(
        "n_docs", F.lit(n_docs).cast("long")
    )
    joined = with_stages(joined, _IDF_A_STAGES + _IDF_B_STAGES)
    idf = F.col(_IDF_A_LN) - F.col(_IDF_B_LN)
    scored = joined.select(
        "doc_id",
        "term",
        fround(F.col("tf") * (idf + F.lit(1.0)), 4).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TFIDF_TOP)
        .select("doc_id", "term", "tfidf")
        .orderBy("doc_id", F.col("tfidf").desc(), "term")
    )


# ---------------------------------------------------------------------------
# Bigram PMI (pointwise mutual information) — the collocation/phrase-
# mining primitive (tokenizer vocab construction, stop-phrase lists).
# Shape: one explode+hash-agg for bigram counts, one for unigram counts,
# both shuffled on the token key; corpus totals derive from the two
# aggregates (sums, no extra scan). PMI's log argument is built as the
# same parenthesized double product/division chain in both engines.
# ---------------------------------------------------------------------------
PMI_MIN_COUNT = 5
PMI_TOP = 50


# PMI as a pinned left-associated sum/difference of portable lns:
# ln(c_ab) + 2 ln(n_uni) - ln(n_bi) - ln(c_a) - ln(c_b). The five lns
# are STAGED columns (r6 verdict item 4: the macro form expanded pln
# six times here and ran 2.1x the r5 wall time in pure Catalyst tree
# overhead); the combining expression is identical on both surfaces,
# so both engines evaluate the same correctly-rounded op DAG.
_PMI_STAGES: list[tuple[str, str]] = []
for _arg, _pfx in (
    ("c_ab", "lab"),
    ("n_uni", "lnu"),
    ("n_bi", "lnb"),
    ("c_a", "la"),
    ("c_b", "lb"),
):
    _PMI_STAGES.extend(pln_stages(_arg, _pfx)[0])
_PMI_EXPR = "(((((lab_ln + lnu_ln) + lnu_ln) - lnb_ln) - la_ln) - lb_ln)"


@register(
    "token_bigram_pmi",
    f"""
    WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
    bg AS (
        SELECT unnest([t[i] || ' ' || t[i+1] for i in range(1, greatest(len(t), 1))]) AS bigram
        FROM toks
    ),
    bc AS (SELECT bigram, count(*) AS c_ab FROM bg GROUP BY bigram),
    uc AS (SELECT unnest(t) AS w FROM toks),
    ucnt AS (SELECT w, count(*) AS c_w FROM uc GROUP BY w),
    tot AS (SELECT (SELECT sum(c_ab) FROM bc) AS n_bi, (SELECT sum(c_w) FROM ucnt) AS n_uni),
    staged AS (
        {stage_subselects(
            f"SELECT b.bigram, b.c_ab, ua.c_w AS c_a, ub.c_w AS c_b, t.n_uni, t.n_bi "
            f"FROM bc b "
            f"CROSS JOIN tot t "
            f"JOIN ucnt ua ON ua.w = string_split(b.bigram, ' ')[1] "
            f"JOIN ucnt ub ON ub.w = string_split(b.bigram, ' ')[2] "
            f"WHERE b.c_ab >= {PMI_MIN_COUNT}",
            _PMI_STAGES,
        )}
    )
    SELECT bigram, c_ab, c_a, c_b,
           floor(({_PMI_EXPR}) * 1e4 + 0.5) / 1e4 AS pmi
    FROM staged
    ORDER BY pmi DESC, bigram
    LIMIT {PMI_TOP}
    """,
    "top-50 bigram collocations by PMI (min count 5, deterministic ties)",
)
def token_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(F.split("text", " ").alias("t"))
    # sequence(1, 0) counts DOWN in Spark — guard docs shorter than 2 tokens
    bg = toks.select(
        F.explode(
            F.expr(
                "case when size(t) >= 2 then"
                " transform(sequence(1, size(t) - 1), i -> concat_ws(' ', t[i-1], t[i]))"
                " else array() end"
            )
        ).alias("bigram")
    )
    bc = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c_ab"))
    ucnt = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_w"))
    )
    tot = bc.agg(F.sum("c_ab").alias("n_bi")).crossJoin(
        ucnt.agg(F.sum("c_w").alias("n_uni"))
    )
    # Stage each portable ln on its SMALLEST pre-join subtree instead of
    # on the 3-join result (r8 verdict item 6): the r7 lateral-alias
    # select over 25 stage columns on the joined tree cost a flat
    # ~0.65 s of Catalyst analysis per run (measured plan-only, no
    # execution). ln(c_w) is staged ONCE on the vocab aggregate and
    # flows through both join legs; the two corpus-total lns stage on
    # the 1-row tot. The op DAG per value is unchanged, so results stay
    # bit-identical to the oracle's joined-select staging (the SQL
    # keeps the _PMI_STAGES form).
    lw_stages, lw_ln = pln_stages("c_w", "lw")
    ucnt_ln = with_stages(ucnt, lw_stages).select("w", "c_w", lw_ln)
    lab_stages, lab_ln = pln_stages("c_ab", "lab")
    lnu_stages, _ = pln_stages("n_uni", "lnu")
    lnb_stages, _ = pln_stages("n_bi", "lnb")
    tot_ln = with_stages(tot, lnu_stages + lnb_stages).select(
        "n_uni", "n_bi", "lnu_ln", "lnb_ln"
    )
    ua = ucnt_ln.select(
        F.col("w").alias("w1"), F.col("c_w").alias("c_a"), F.col(lw_ln).alias("la_ln")
    )
    ub = ucnt_ln.select(
        F.col("w").alias("w2"), F.col("c_w").alias("c_b"), F.col(lw_ln).alias("lb_ln")
    )
    scored = (
        with_stages(bc.filter(F.col("c_ab") >= PMI_MIN_COUNT), lab_stages)
        .select("bigram", "c_ab", lab_ln)
        .withColumn("w1", F.split("bigram", " ").getItem(0))
        .withColumn("w2", F.split("bigram", " ").getItem(1))
        .join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(tot_ln))
    )
    pmi = fround(F.expr(_PMI_EXPR), 4)
    return (
        scored.select("bigram", "c_ab", "c_a", "c_b", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "bigram")
        .limit(PMI_TOP)
    )


# ---------------------------------------------------------------------------
# Per-document token entropy — the repetitiveness/diversity quality
# signal (low entropy = TOC/boilerplate/keyword-stuffed docs). Shape:
# explode -> (doc, token) hash agg -> per-doc agg; H = ln(n) - Σc·ln(c)/n.
# Parity: the Σc·ln(c) term is quantized per (doc, token) to a scaled
# BIGINT — round(c·ln(c)·1e6) — so the aggregate SUM is an integer sum
# (order-independent across engines); one final double division, pinned
# with identical parentheses in both engines. A double-SUM here differs
# in the last ulp between Spark and DuckDB (accumulation order) and
# flips round(,4) on boundary docs — the CORRECTNESS_r03 red row.
# ---------------------------------------------------------------------------
@register(
    "text_token_entropy",
    f"""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    tc AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY doc_id, w),
    tcs AS ({stage_subselects("SELECT doc_id, c FROM tc", _PC_STAGES)}),
    agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
                   sum({_ENT_TERM6}) AS s6
            FROM tcs GROUP BY doc_id),
    aggs AS ({stage_subselects("SELECT doc_id, n, s6 FROM agg", _PN_STAGES)})
    SELECT doc_id, n AS n_tokens,
           floor(({_PN_LN} - (CAST(s6 AS DOUBLE) / 1000000.0) / n) * 1e4 + 0.5) / 1e4
               AS token_entropy
    FROM aggs
    ORDER BY doc_id
    """,
    "per-doc Shannon entropy over the token distribution (repetitiveness signal)",
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tc = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tc = with_stages(tc, _PC_STAGES)
    agg = tc.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.sum(F.expr(_ENT_TERM6)).alias("s6"),
    )
    agg = with_stages(agg, _PN_STAGES)
    entropy = F.col(_PN_LN) - (
        F.col("s6").cast("double") / F.lit(1000000.0)
    ) / F.col("n")
    return agg.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        fround(entropy, 4).alias("token_entropy"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis–Spirakis A-ExpJ
# keys): priority = -ln(u)/w with u derived from md5(doc_id) — fully
# deterministic and engine-independent, so both engines draw the SAME
# sample. The distributed shape is a top-k under a total order
# (TakeOrderedAndProject), no global sort. Weight = n_chars: longer
# docs proportionally likelier — the "sample by quality/length score"
# step of a data pipeline.
# ---------------------------------------------------------------------------
WSAMPLE_K = 20
WSAMPLE_SALT = "wsample:"

# ln(v+1) as staged columns: this runs per DOCUMENT row (unbounded
# frame), so the macro form would pay its ~5x expression-tree blowup
# on the hot path (r7 verdict item 5 — same conversion as _PMI_STAGES).
_WS_STAGES, _WS_LN = pln_stages("(v + 1)", "pw")
_WS_PRIORITY = f"((32.0 * {LN2} - {_WS_LN}) / n_chars)"


@register(
    "sample_weighted",
    f"""
    WITH keyed AS (
        SELECT doc_id, lang, n_chars,
               ('0x' || substr(md5('{WSAMPLE_SALT}' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS v
        FROM documents
        WHERE n_chars > 0
    ),
    staged AS ({stage_subselects("SELECT * FROM keyed", _WS_STAGES)})
    SELECT doc_id, lang, n_chars,
           floor(({_WS_PRIORITY}) * 1e8 + 0.5) / 1e8 AS priority
    FROM staged
    ORDER BY priority, doc_id
    LIMIT {WSAMPLE_K}
    """,
    "deterministic weighted sampling (Efraimidis–Spirakis keys, weight = n_chars)",
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    v = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(WSAMPLE_SALT), F.col("doc_id").cast("string")).cast("binary")),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    # -ln((v+1)/2^32) = 32 ln2 - ln(v+1), via the portable staged form
    # so both engines compute bit-identical priorities (v+1 >= 1 always)
    keyed = docs.filter(F.col("n_chars") > 0).withColumn("v", v)
    keyed = with_stages(keyed, _WS_STAGES)
    priority = fround(F.expr(_WS_PRIORITY), 8)
    return (
        keyed.select("doc_id", "lang", "n_chars", priority.alias("priority"))
        .orderBy("priority", "doc_id")
        .limit(WSAMPLE_K)
    )


# ---------------------------------------------------------------------------
# Bigram language-model scoring — the perplexity-filter proxy (score
# each doc under corpus bigram MLE statistics; low-probability docs are
# gibberish/boilerplate candidates). Shape: the corpus counts are two
# hash aggregates; scoring joins each doc bigram to its count — all
# shuffles on token keys; per-doc reduce at the end. At 100 TB the
# count tables are exactly the "LM stats" artifact a pipeline would
# snapshot and broadcast.
# ---------------------------------------------------------------------------
_LM_AVG = "((CAST(s6 AS DOUBLE) / 1000000.0) / n_bigrams)"
# staged pln chains for the per-bigram log-prob (r6 verdict item 4)
_LM_A_STAGES, _LM_A_LN = pln_stages("c_ab", "pla")
_LM_W_STAGES, _LM_W_LN = pln_stages("c_w", "plw")
_LM_LP6 = (
    f"CAST(floor(((({_LM_A_LN} - {_LM_W_LN})) * 1000000.0) + 0.5) AS BIGINT)"
)


@register(
    "text_lm_score",
    f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    bg AS (
        SELECT doc_id,
               unnest([t[i] || ' ' || t[i+1] for i in range(1, greatest(len(t), 1))]) AS bigram
        FROM toks
    ),
    bc AS (SELECT bigram, count(*) AS c_ab FROM bg GROUP BY bigram),
    uc AS (SELECT w, count(*) AS c_w
           FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
    joined AS ({stage_subselects(
        "SELECT g.doc_id, c.c_ab, u.c_w "
        "FROM bg g "
        "JOIN bc c USING (bigram) "
        "JOIN uc u ON u.w = string_split(g.bigram, ' ')[1]",
        _LM_A_STAGES + _LM_W_STAGES,
    )}),
    scored AS (SELECT doc_id, {_LM_LP6} AS lp6 FROM joined),
    agg AS (SELECT doc_id, count(*) AS n_bigrams, sum(lp6) AS s6 FROM scored GROUP BY doc_id),
    aggx AS (SELECT doc_id, n_bigrams, s6, (0.0 - {_LM_AVG}) AS nx FROM agg)
    SELECT doc_id, n_bigrams,
           floor(({_LM_AVG}) * 1e4 + 0.5) / 1e4 AS avg_logprob,
           floor(({pexp('nx')}) * 1e4 + 0.5) / 1e4 AS ppl
    FROM aggx
    ORDER BY doc_id
    """,
    "per-doc bigram-LM score + perplexity proxy under corpus MLE counts",
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # r15 (guide §6/§2.4, r14-verdict item 4): the scan+tokenize
    # projection feeds THREE distinct passes (bigram counts, unigram
    # counts, the scoring join's bigram stream) — semantically distinct
    # aggregates, but the split() of every document is shared work. Pin
    # it once so the corpus is read and tokenized one time instead of
    # three (composers text_ccnet_bucket / dedup_rate-style consumers
    # inherit the collapse).
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).transform(pin)
    bg = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "case when size(t) >= 2 then"
                " transform(sequence(1, size(t) - 1), i -> concat_ws(' ', t[i-1], t[i]))"
                " else array() end"
            )
        ).alias("bigram"),
    )
    bc = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c_ab"))
    uc = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_w"))
        .withColumnRenamed("w", "w1")
    )
    # Parity: per-bigram log-prob quantized to a scaled BIGINT so the
    # per-doc SUM is integral (order-independent); one final double
    # division pinned identically in the oracle SQL (same discipline as
    # text_token_entropy — a double sum(lp) flips round(,4) on boundary
    # docs between engines).
    joined = (
        bg.join(bc, "bigram")
        .withColumn("w1", F.split("bigram", " ").getItem(0))
        .join(uc, "w1")
    )
    joined = with_stages(joined, _LM_A_STAGES + _LM_W_STAGES)
    scored = joined.select("doc_id", F.expr(_LM_LP6).alias("lp6"))
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"), F.sum("lp6").alias("s6")
    )
    aggx = agg.withColumn("nx", F.expr(f"(0.0 - {_LM_AVG})"))
    return aggx.select(
        "doc_id",
        "n_bigrams",
        fround(F.expr(_LM_AVG), 4).alias("avg_logprob"),
        fround(F.expr(pexp("nx")), 4).alias("ppl"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Per-source corpus descriptive stats — the "corpus card" numbers a
# data pipeline reports per ingest source: doc counts, token totals,
# exact length quantiles (Spark `percentile` == DuckDB `quantile_cont`,
# same linear interpolation — see sketches.q18). One hash agg.
# ---------------------------------------------------------------------------
@register(
    "text_length_stats",
    """
    WITH d AS (SELECT source, n_chars, len(string_split(text, ' ')) AS n_tokens FROM documents)
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           floor((avg(n_chars)) * 1e4 + 0.5) / 1e4 AS mean_chars,
           floor((quantile_cont(n_tokens, 0.5)) * 1e4 + 0.5) / 1e4 AS p50_tokens,
           floor((quantile_cont(n_tokens, 0.9)) * 1e4 + 0.5) / 1e4 AS p90_tokens,
           CAST(max(n_tokens) AS BIGINT) AS max_tokens
    FROM d
    GROUP BY source
    ORDER BY source
    """,
    "per-source corpus card: doc/token counts, mean chars, exact length quantiles",
)
def text_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    d = docs.select("source", "n_chars", F.size(F.split("text", " ")).alias("n_tokens"))
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            fround(F.avg("n_chars"), 4).alias("mean_chars"),
            fround(F.expr("percentile(n_tokens, 0.5)"), 4).alias("p50_tokens"),
            fround(F.expr("percentile(n_tokens, 0.9)"), 4).alias("p90_tokens"),
            F.max("n_tokens").cast("bigint").alias("max_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Deterministic global shuffle for training order — the LAST step of
# every training-data pipeline: assign each doc a (shard, position) from
# a salted content-independent hash so the order is reproducible across
# engines, runs, and cluster sizes. Distributed shape: the shard key is
# a pure projection; positions are a per-shard window (each shard sorts
# independently — no global sort, scales with executors exactly like a
# real shuffle-to-shards job writing N output files).
# ---------------------------------------------------------------------------
SHARD_SALT = "shard-v1:"
N_SHARDS = 16


@register(
    "shard_assign",
    f"""
    WITH keyed AS (
        SELECT doc_id, lang,
               md5('{SHARD_SALT}' || CAST(doc_id AS VARCHAR)) AS k
        FROM documents
    )
    SELECT doc_id, lang,
           CAST(('0x' || substr(k, 1, 8))::BIGINT % {N_SHARDS} AS INTEGER) AS shard,
           CAST(row_number() OVER (
               PARTITION BY ('0x' || substr(k, 1, 8))::BIGINT % {N_SHARDS}
               ORDER BY k, doc_id) AS BIGINT) AS pos
    FROM keyed
    ORDER BY shard, pos
    """,
    f"deterministic training-order shuffle: salted-hash shard ({N_SHARDS}) + within-shard position",
)
def shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the oracle states the naive per-shard window; shards are a fixed
    # handful while the frame is the whole corpus, so within-shard
    # positions come from the grouped two-phase rank instead
    from .distrank import with_grouped_rank

    docs = table(spark, sf_dir, "documents")
    k = F.md5(F.concat(F.lit(SHARD_SALT), F.col("doc_id").cast("string")).cast("binary"))
    keyed = docs.select("doc_id", "lang", k.alias("k"))
    shard = (F.conv(F.substring("k", 1, 8), 16, 10).cast("long") % N_SHARDS).cast("int")
    return (
        with_grouped_rank(
            spark,
            keyed.withColumn("shard", shard),
            ["shard"],
            [F.col("k"), F.col("doc_id")],
            rn_col="pos",
        )
        .select("doc_id", "lang", "shard", F.col("pos").cast("bigint").alias("pos"))
        .orderBy("shard", "pos")
    )


# ---------------------------------------------------------------------------
# Curriculum binning: quartile docs per language by length (the classic
# short-to-long curriculum), report each bin's bounds and mass. NTILE
# semantics agree between engines (equal buckets, earlier buckets take
# the remainder); everything else is integer aggregates + one rounded
# average. Window is per-lang — no global sort.
# ---------------------------------------------------------------------------
CURRICULUM_BINS = 4


@register(
    "curriculum_bins",
    f"""
    WITH binned AS (
        SELECT lang, n_chars,
               len(string_split(text, ' ')) AS n_tokens,
               ntile({CURRICULUM_BINS}) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS bin
        FROM documents
    )
    SELECT lang, CAST(bin AS INTEGER) AS bin,
           count(*) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           floor((avg(CAST(n_tokens AS DOUBLE))) * 1e4 + 0.5) / 1e4 AS mean_tokens
    FROM binned
    GROUP BY lang, bin
    ORDER BY lang, bin
    """,
    f"per-lang length curriculum: ntile({CURRICULUM_BINS}) bins with bounds and token mass",
)
def curriculum_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the oracle states ntile() over the naive per-lang window; the
    # Spark side derives the IDENTICAL bins from the grouped two-phase
    # rank + the exact integer ntile formula (orders_rfm_migration's
    # recipe), so no per-lang sort funnel touches the corpus
    from .distrank import ntile_expr, with_grouped_rank

    docs = table(spark, sf_dir, "documents")
    ranked = with_grouped_rank(
        spark,
        docs.select(
            "doc_id",
            "lang",
            "n_chars",
            F.size(F.split("text", " ")).alias("n_tokens"),
        ),
        ["lang"],
        [F.col("n_chars"), F.col("doc_id")],
        rn_col="rn",
        n_col="n",
    )
    binned = ranked.select(
        "lang",
        "n_chars",
        "n_tokens",
        ntile_expr("rn", "n", CURRICULUM_BINS).alias("bin"),
    )
    return (
        binned.groupBy("lang", F.col("bin").cast("int").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
            fround(F.avg(F.col("n_tokens").cast("double")), 4).alias("mean_tokens"),
        )
        .orderBy("lang", "bin")
    )


# ---------------------------------------------------------------------------
# Span-level contamination (the Lee-et-al-style refinement of the
# doc-level score): where doc-level contamination asks "what fraction of
# this doc's grams appear in the benchmark", this finds CONSECUTIVE runs
# of benchmark-matching trigram positions — a long verbatim quote is a
# far stronger leak signal than the same hits scattered. Gaps-islands
# over hit positions (pos - row_number is constant within a run); every
# output column is an integer, so there is no float parity surface at
# all. Benchmark grams broadcast, one window per doc — scales.
# ---------------------------------------------------------------------------
@register(
    "text_span_contamination",
    f"""
    WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
    pos AS (
        SELECT doc_id, source, u.i AS i, u.g AS g
        FROM toks,
             unnest([{{'i': i, 'g': t[i] || ' ' || t[i+1] || ' ' || t[i+2]}}
                     for i in range(1, greatest(len(t) - {CONTAM_NGRAM - 2}, 1))]) AS t2(u)
        WHERE len(t) >= {CONTAM_NGRAM}
    ),
    bench AS (SELECT DISTINCT g FROM pos WHERE source = '{CONTAM_BENCH_SOURCE}'),
    hits AS (
        SELECT p.doc_id, p.i,
               p.i - row_number() OVER (PARTITION BY p.doc_id ORDER BY p.i) AS grp
        FROM pos p JOIN bench b ON p.g = b.g
        WHERE p.source <> '{CONTAM_BENCH_SOURCE}'
    ),
    spans AS (
        SELECT doc_id, grp, count(*) AS span_len
        FROM hits GROUP BY doc_id, grp
    )
    SELECT doc_id,
           count(*) AS n_spans,
           CAST(max(span_len) AS BIGINT) AS max_span,
           CAST(sum(span_len) AS BIGINT) AS n_hits
    FROM spans
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    "span-level contamination: consecutive benchmark-gram runs per doc (gaps-islands, all-integer)",
)
def text_span_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "source", F.split("text", " ").alias("t"))
    # positional trigrams: posexplode keeps the 0-based offset; +1 to
    # match the oracle's 1-based list index (the value never surfaces,
    # only differences do, but keeping them identical costs nothing)
    pos = toks.filter(F.size("t") >= CONTAM_NGRAM).select(
        "doc_id",
        "source",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(t) - {CONTAM_NGRAM - 1}),"
                f" i -> concat_ws(' ', t[i-1], t[i], t[i+1]))"
            )
        ).alias("p", "g"),
    ).select("doc_id", "source", (F.col("p") + 1).alias("i"), "g")
    bench = (
        pos.filter(F.col("source") == CONTAM_BENCH_SOURCE)
        .select(F.col("g").alias("bg"))
        .distinct()
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    hits = (
        pos.filter(F.col("source") != CONTAM_BENCH_SOURCE)
        .join(F.broadcast(bench), F.col("g") == F.col("bg"))
        .select("doc_id", "i")
        .withColumn("grp", F.col("i") - F.row_number().over(w))
    )
    spans = hits.groupBy("doc_id", "grp").agg(F.count(F.lit(1)).alias("span_len"))
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.max("span_len").cast("bigint").alias("max_span"),
            F.sum("span_len").cast("bigint").alias("n_hits"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Apply the domain-mix plan (the executable half of text_mix_weights):
# rebalance the corpus toward a uniform per-lang share under a total
# budget. Two-phase distributed shape: a tiny per-lang stats aggregate
# decides the quotas, broadcasts back, and a salted-hash rank filter
# applies them — no global sort, no driver round-trip, determinism from
# the same md5 ranking contract as sample_stratified.
# ---------------------------------------------------------------------------
MIX_BUDGET = 200
MIX_SALT = "mix-v1"


@register(
    "pipeline_mix_sample",
    f"""
    WITH langs AS (SELECT count(DISTINCT lang) AS n_langs FROM documents),
    ranked AS (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5('{MIX_SALT}:' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk
        FROM documents
    )
    SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk,
           CAST({MIX_BUDGET} // n_langs AS BIGINT) AS quota
    FROM ranked, langs
    WHERE rk <= {MIX_BUDGET} // n_langs
    ORDER BY lang, rk
    """,
    f"apply the domain-mix plan: uniform per-lang quota under a {MIX_BUDGET}-doc budget, salted-hash rank",
)
def pipeline_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-lang salted rank via the grouped two-phase scan — the naive
    # per-lang window the oracle states would sort the corpus in
    # |langs| tasks
    from .distrank import with_grouped_rank

    docs = table(spark, sf_dir, "documents")
    langs = docs.agg(F.countDistinct("lang").alias("n_langs"))
    key = F.md5(
        F.concat(F.lit(f"{MIX_SALT}:"), F.col("doc_id").cast("string")).cast("binary")
    )
    ranked = with_grouped_rank(
        spark,
        docs.select("doc_id", "lang", key.alias("__k")),
        ["lang"],
        [F.col("__k"), F.col("doc_id")],
        rn_col="rk0",
    ).select("doc_id", "lang", F.col("rk0").cast("bigint").alias("rk"))
    quota = F.expr(f"{MIX_BUDGET} div n_langs")
    return (
        ranked.crossJoin(F.broadcast(langs))
        .filter(F.col("rk") <= quota)
        .select("doc_id", "lang", "rk", quota.cast("bigint").alias("quota"))
        .orderBy("lang", "rk")
    )


# ---------------------------------------------------------------------------
# N-gram novelty scoring — the dedup-aware curation metric: what
# fraction of a doc's distinct trigrams first appear in THIS doc
# (owner = min doc_id per gram, the deterministic proxy for ingestion
# order)? Low novelty = mostly-seen content even when no single pair
# crosses a near-dup threshold. Shape: gram -> min(doc_id) hash agg,
# join back on the gram, one integer division per doc.
# ---------------------------------------------------------------------------
@register(
    "text_ngram_novelty",
    f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
        SELECT DISTINCT doc_id,
               unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                       for i in range(1, greatest(len(t) - {CONTAM_NGRAM - 2}, 1))]) AS g
        FROM toks
    ),
    first_owner AS (SELECT g, min(doc_id) AS owner FROM grams GROUP BY g),
    per_doc AS (
        SELECT gr.doc_id,
               count(*) AS n_grams,
               CAST(sum(CASE WHEN fo.owner = gr.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
        FROM grams gr JOIN first_owner fo USING (g)
        GROUP BY gr.doc_id
    )
    SELECT doc_id, n_grams, n_novel,
           {share_sql("n_novel", "n_grams")} AS novelty_e4
    FROM per_doc
    ORDER BY doc_id
    """,
    "per-doc trigram novelty vs earlier docs (first-owner join, integer counts, one division)",
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"case when size(t) >= {CONTAM_NGRAM} then"
                    f" transform(sequence(1, size(t) - {CONTAM_NGRAM - 1}),"
                    f"  i -> concat_ws(' ', t[i-1], t[i], t[i+1]))"
                    f" else array() end"
                )
            )
        ).alias("g"),
    ).transform(pin)  # feeds the owner agg AND the join probe
    first_owner = grams.groupBy("g").agg(F.min("doc_id").alias("owner"))
    per_doc = (
        grams.join(first_owner, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("owner") == F.col("doc_id"), 1).otherwise(0)).alias("n_novel"),
        )
    )
    # ALL-INTEGER output (r5 verdict item 2): novelty as a round-half-up
    # scaled BIGINT — no engine-derived DOUBLE reaches the driver hash
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_novel",
        share_expr("n_novel", "n_grams").alias("novelty_e4"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Boilerplate-prefix detection: per source, the most common leading
# trigram and the share of documents that open with it — high shares
# flag templated/boilerplate sources that near-dup banding misses
# (the shared span is too short to dominate a document signature).
# Shape: per-(source, prefix) hash agg, then a per-source top-1 window
# over the bounded distinct-prefix result. Parity: string_split and
# list slicing agree (probe_string_split contract); the share is the
# exact-integer round-half-up form.
# ---------------------------------------------------------------------------
@register(
    "text_boilerplate_prefix",
    f"""
    WITH p AS (
        SELECT source,
               coalesce(array_to_string(string_split(text, ' ')[1:3], ' '), '') AS prefix
        FROM documents
    ),
    c AS (SELECT source, prefix, count(*) AS n FROM p GROUP BY source, prefix),
    t AS (SELECT source, prefix, n,
                 row_number() OVER (PARTITION BY source ORDER BY n DESC, prefix) AS rn,
                 CAST(sum(n) OVER (PARTITION BY source) AS BIGINT) AS n_docs
          FROM c)
    SELECT source, prefix AS top_prefix, n AS n_prefix, n_docs,
           {share_sql("n", "n_docs")} AS share_e4
    FROM t
    WHERE rn = 1
    ORDER BY source
    """,
    "per-source most common leading trigram + share: templated/boilerplate source detector",
)
def text_boilerplate_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # coalesce to '' on BOTH surfaces: DuckDB's ORDER BY prefix is
    # NULLS LAST while Spark's min(struct(...)) puts a NULL field
    # first, so a count tie between a NULL-text prefix and a string
    # prefix would otherwise pick different winners per engine
    # (r7 ADVICE).
    p = docs.select(
        "source",
        F.coalesce(
            F.array_join(F.slice(F.split("text", " "), 1, 3), " "),
            F.lit(""),
        ).alias("prefix"),
    )
    c = p.groupBy("source", "prefix").agg(F.count(F.lit(1)).alias("n"))
    # Top-1 per source as a min-struct aggregate, not a window: the
    # oracle's row_number() ORDER BY n DESC, prefix tie-break is exactly
    # min over (-n, prefix) under lexicographic struct comparison (both
    # engines compare strings bytewise), so the distinct-prefix set is
    # never sorted — two hash aggs end-to-end.
    t = c.groupBy("source").agg(
        F.min(
            F.struct(
                (-F.col("n")).alias("neg_n"),
                F.col("prefix").alias("prefix"),
                F.col("n").alias("n"),
            )
        ).alias("top"),
        F.sum("n").cast("long").alias("n_docs"),
    )
    return t.select(
        "source",
        F.col("top.prefix").alias("top_prefix"),
        F.col("top.n").alias("n_prefix"),
        "n_docs",
        share_expr("top.n", "n_docs").alias("share_e4"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Corpus-wide repeated-span statistics (the exact-substring-dedup
# pipeline op, approximated at non-overlapping 8-token windows): a
# window appearing in >= 2 documents is boilerplate the doc-level
# near-dup family cannot see when the surrounding text differs. Shape:
# explode complete windows (|tokens|/8 rows/doc), one corpus hash agg
# on the window string, then a window->count shuffle join back and a
# per-doc agg. Hot boilerplate windows skew the join key; AQE's
# skew-join split handles that (the count side is 1 row per window).
# All-BIGINT output; the shared-window sum is CAST on the oracle side
# (HUGEINT -> pandas float64 otherwise).
# ---------------------------------------------------------------------------
@register(
    "text_window_dedup",
    f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    wins AS (
        SELECT doc_id,
               unnest([array_to_string(t[i:i+7], ' ')
                       for i in range(1, greatest(len(t) - 6, 1), 8)]) AS w
        FROM toks
    ),
    wc AS (SELECT w, count(*) AS c FROM wins GROUP BY w)
    SELECT doc_id,
           count(*) AS n_windows,
           CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           {share_sql("n_shared", "n_windows")} AS drop_frac_e4
    FROM wins JOIN wc USING (w)
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    "repeated-span (8-token window) dedup stats per doc: corpus-frequency join, exact drop fraction",
)
def text_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    wins = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "case when size(t) >= 8 then"
                " transform(sequence(1, size(t) - 7, 8),"
                "  i -> concat_ws(' ', slice(t, i, 8)))"
                " else array() end"
            )
        ).alias("w"),
    )
    # n_windows never needs the join: every emitted window is complete,
    # so it is size(t) div 8 straight off the token array. The join
    # therefore only has to carry the SHARED windows (corpus frequency
    # >= 2) — the skew-prone boilerplate keys — while the unique-window
    # bulk (the overwhelming majority of a real corpus) never shuffles
    # a second time. Values are identical to the full-join form the
    # oracle SQL states.
    nw = toks.select(
        "doc_id", F.expr("size(t) div 8").cast("long").alias("n_windows")
    ).filter(F.col("n_windows") >= 1)
    wc2 = (
        wins.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("w")
    )
    sh = (
        wins.join(wc2, "w")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared0"))
    )
    return (
        nw.join(sh, "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            F.coalesce(F.col("n_shared0"), F.lit(0).cast("long")).alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_shared",
            share_expr("n_shared", "n_windows").alias("drop_frac_e4"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Stride-1 repeated-span dedup via winnowing selection — completes the
# exact-substring family: text_window_dedup's non-overlapping 8-token
# windows miss spans that straddle a window boundary, while hashing
# every stride-1 shingle corpus-wide would multiply the shuffle volume
# by the window width. Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03
# — text_winnowing's selection, reused verbatim) picks the window-min
# shingle hash at every position, which GUARANTEES any span shared by
# two documents of >= WSD_K + WSD_W - 1 = 14 tokens selects at least
# one identical fingerprint in both — alignment-free — while keeping
# ~2/(W+1) of stride-1 positions. Shape: posexplode -> per-DOC window
# min (doc-sized partitions, no cross-doc traffic) -> distinct
# (doc, fp) -> corpus doc-frequency hash agg; only fingerprints shared
# by >= 2 docs join back (text_window_dedup's semi-join shape), so the
# unique-fingerprint bulk never shuffles twice. All-BIGINT output.
# ---------------------------------------------------------------------------
WSD_K = 8  # tokens per shingle (matches text_window_dedup's span unit)
WSD_W = 7  # hashes per winnowing window -> catches shared spans >= 14


@register(
    "text_winnow_dedup",
    f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
        SELECT doc_id, CAST(i AS INTEGER) AS pos,
               array_to_string(t[CAST(i AS INTEGER):CAST(i + {WSD_K - 1} AS INTEGER)], ' ') AS g
        FROM toks, LATERAL unnest(range(1, len(t) - {WSD_K - 2})) x(i)
        WHERE len(t) >= {WSD_K}
    ),
    hashed AS (
        SELECT doc_id, pos, ('0x' || substr(md5(g), 1, 8))::BIGINT AS h
        FROM grams
    ),
    wm AS (
        SELECT doc_id,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND {WSD_W - 1} FOLLOWING) AS fp
        FROM hashed
    ),
    fps AS (SELECT DISTINCT doc_id, fp FROM wm),
    docfreq AS (SELECT fp, count(*) AS df FROM fps GROUP BY fp)
    SELECT f.doc_id,
           count(*) AS n_fp,
           CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           {share_sql("n_shared", "n_fp")} AS shared_frac_e4
    FROM fps f JOIN docfreq d USING (fp)
    GROUP BY f.doc_id
    ORDER BY f.doc_id
    """,
    "stride-1 repeated-span dedup: winnowing-selected fingerprints, cross-doc frequency join",
)
def text_winnow_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= WSD_K
    )
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(t) - {WSD_K}),"
                f" i -> concat_ws(' ', slice(t, i + 1, {WSD_K})))"
            )
        ).alias("pos", "g"),
    )
    h = F.conv(F.substring(F.md5(F.col("g").cast("binary")), 1, 8), 16, 10).cast(
        "long"
    )
    hashed = grams.select("doc_id", "pos", h.alias("h"))
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WSD_W - 1)
    # r15 (guide §2.4/§5): fps feeds THREE consumers (n_fp, docfreq,
    # the shared join-back) — pin it so the stride-1 posexplode + md5 +
    # winnowing-window pipeline runs once per call instead of per
    # consumer (the columnar cache stays prunable and plan stats
    # survive, so the shared_fp join-back keeps its broadcast).
    fps = (
        hashed.select("doc_id", F.min("h").over(w).alias("fp"))
        .distinct()
        .transform(pin)
    )
    # n_fp needs no second shuffle pass over docfreq: count per doc
    # straight off the distinct fingerprint set, then join back ONLY
    # the fingerprints shared by >= 2 docs (values identical to the
    # full docfreq join the oracle SQL states).
    n_fp = fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    shared_fp = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 2)
        .select("fp")
    )
    sh = (
        fps.join(shared_fp, "fp")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared0"))
    )
    return (
        n_fp.join(sh, "doc_id", "left")
        .select(
            "doc_id",
            "n_fp",
            F.coalesce(F.col("n_shared0"), F.lit(0).cast("long")).alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_fp",
            "n_shared",
            share_expr("n_shared", "n_fp").alias("shared_frac_e4"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Near-dup PAIR report from the winnowing index — the pair-level
# consumer of text_winnow_dedup's fingerprints (which only says "this
# doc shares spans with SOMEONE"; curation needs to know with WHOM to
# pick a survivor). Shape: distinct (doc, fp) -> fingerprint-bucketed
# self-join restricted to fingerprints shared by 2..WSD_DF_CAP docs —
# the cap bounds per-key pair fan-out to O(CAP^2) so one viral
# boilerplate fingerprint cannot go quadratic at corpus scale (the
# PPJoin/dedup_ngram_jaccard discipline); pairs beyond the cap are by
# definition boilerplate, not near-dup candidates. Overlap fraction =
# shared / min(|fp_a|, |fp_b|) in exact e4 integers. This share stays
# in BIGINT (not share_expr's DECIMAL widening): both operands are
# PER-DOCUMENT fingerprint counts, bounded by a single doc's token
# count regardless of corpus size, and the denominator is >= 1 by the
# shared-fingerprint join construction — no overflow or zero-divide
# surface exists at any scale.
# ---------------------------------------------------------------------------
WSD_DF_CAP = 20


@register(
    "dedup_winnow_pairs",
    f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
        SELECT doc_id, CAST(i AS INTEGER) AS pos,
               array_to_string(t[CAST(i AS INTEGER):CAST(i + {WSD_K - 1} AS INTEGER)], ' ') AS g
        FROM toks, LATERAL unnest(range(1, len(t) - {WSD_K - 2})) x(i)
        WHERE len(t) >= {WSD_K}
    ),
    hashed AS (
        SELECT doc_id, pos, ('0x' || substr(md5(g), 1, 8))::BIGINT AS h
        FROM grams
    ),
    wm AS (
        SELECT doc_id,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND {WSD_W - 1} FOLLOWING) AS fp
        FROM hashed
    ),
    fps AS (SELECT DISTINCT doc_id, fp FROM wm),
    nfp AS (SELECT doc_id, count(*) AS n_fp FROM fps GROUP BY doc_id),
    shared AS (
        SELECT fp FROM fps GROUP BY fp
        HAVING count(*) BETWEEN 2 AND {WSD_DF_CAP}
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_fp
        FROM fps a
        JOIN shared USING (fp)
        JOIN fps b USING (fp)
        WHERE a.doc_id < b.doc_id
        GROUP BY doc_a, doc_b
    )
    SELECT p.doc_a, p.doc_b, p.n_shared_fp,
           CAST((p.n_shared_fp * 20000 + least(na.n_fp, nb.n_fp))
                // (2 * least(na.n_fp, nb.n_fp)) AS BIGINT) AS overlap_e4
    FROM pairs p
    JOIN nfp na ON na.doc_id = p.doc_a
    JOIN nfp nb ON nb.doc_id = p.doc_b
    ORDER BY p.n_shared_fp DESC, p.doc_a, p.doc_b
    LIMIT 20
    """,
    "near-dup doc pairs by shared winnowing fingerprints, df-capped buckets, overlap fraction",
)
def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= WSD_K
    )
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(t) - {WSD_K}),"
                f" i -> concat_ws(' ', slice(t, i + 1, {WSD_K})))"
            )
        ).alias("pos", "g"),
    )
    h = F.conv(F.substring(F.md5(F.col("g").cast("binary")), 1, 8), 16, 10).cast(
        "long"
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WSD_W - 1)
    fps = (
        grams.select("doc_id", "pos", h.alias("h"))
        .select("doc_id", F.min("h").over(w).alias("fp"))
        .distinct()
        # fps (posexplode + window-min — the expensive derivation) fans
        # out to nfp, shared, fa and fb; without a pin the plan shows 6
        # parquet scans and zero ReusedExchange (each consumer filters/
        # projects differently before its exchange). Same pattern as
        # dedup_embedding's materialized signature frame (dedup.py).
        .transform(pin)
    )
    nfp = fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    shared = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= WSD_DF_CAP))
        .select("fp")
    )
    # fa and fb are the SAME fps-x-shared join (only the output column
    # name differs) — derive both from one pinned frame so the df-cap
    # aggregate and the join run once, not twice (plan-reuse audit)
    fj = fps.join(shared, "fp").transform(pin)
    fa = fj.select("fp", F.col("doc_id").alias("doc_a"))
    fb = fj.select("fp", F.col("doc_id").alias("doc_b"))
    pairs = (
        fa.join(fb, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_fp"))
    )
    na = nfp.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("n_fp_a"))
    nb = nfp.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("n_fp_b"))
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared_fp",
            F.expr(
                "(n_shared_fp * 20000 + least(n_fp_a, n_fp_b))"
                " div (2 * least(n_fp_a, n_fp_b))"
            )
            .cast("long")
            .alias("overlap_e4"),
        )
        .orderBy(F.col("n_shared_fp").desc(), "doc_a", "doc_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Context-window fit report — the sequence-length planning op run
# before packing a corpus for training: for each candidate context
# length, how many docs fit whole, how many tokens they carry, and
# how much padding one-doc-per-sequence batching would waste (the
# number text_pack_sequences' first-fit packing is judged against).
# Shape: ONE token-count scan, cross join with a 3-row broadcast
# grid, hash agg — all integers end-to-end.
# ---------------------------------------------------------------------------
CTX_GRID = (512, 2048, 8192)


@register(
    "text_context_window_fit",
    f"""
    WITH d AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
    grid AS (SELECT CAST(unnest([{", ".join(str(c) for c in CTX_GRID)}]) AS BIGINT) AS ctx),
    agg AS (
        SELECT ctx,
               CAST(sum(CASE WHEN n_tok <= ctx THEN 1 ELSE 0 END) AS BIGINT) AS n_fit,
               CAST(sum(CASE WHEN n_tok <= ctx THEN n_tok ELSE 0 END) AS BIGINT) AS tokens_fit,
               CAST(sum(CASE WHEN n_tok <= ctx THEN ctx - n_tok ELSE 0 END) AS BIGINT) AS pad_tokens,
               CAST(sum(CASE WHEN n_tok <= ctx THEN ctx ELSE 0 END) AS BIGINT) AS cap_tokens
        FROM d CROSS JOIN grid
        GROUP BY ctx
    )
    SELECT ctx, n_fit, tokens_fit, pad_tokens,
           {share_sql("pad_tokens", "cap_tokens")} AS waste_frac_e4
    FROM agg
    ORDER BY ctx
    """,
    "context-window fit: per candidate length, docs that fit whole + exact padding waste",
)
def text_context_window_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    d = docs.select(F.size(F.split("text", " ")).cast("long").alias("n_tok"))
    grid = F.broadcast(
        docs.sparkSession.createDataFrame(
            [(c,) for c in CTX_GRID], "ctx long"
        )
    )
    fit = F.col("n_tok") <= F.col("ctx")
    return (
        d.crossJoin(grid)
        .groupBy("ctx")
        .agg(
            F.sum(F.when(fit, 1).otherwise(0)).cast("long").alias("n_fit"),
            F.sum(F.when(fit, F.col("n_tok")).otherwise(0)).cast("long").alias("tokens_fit"),
            F.sum(F.when(fit, F.col("ctx") - F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias("pad_tokens"),
            F.sum(F.when(fit, F.col("ctx")).otherwise(0)).alias("cap_tokens"),
        )
        .select(
            "ctx",
            "n_fit",
            "tokens_fit",
            "pad_tokens",
            share_expr("pad_tokens", "cap_tokens").alias("waste_frac_e4"),
        )
        .orderBy("ctx")
    )


# ---------------------------------------------------------------------------
# BM25 keyword search — the standard full-text relevance ranking
# (Robertson/Spärck Jones probabilistic idf + tf saturation + length
# normalization; tf-idf's production successor and the retrieval
# baseline every RAG corpus gets indexed with). Shape: the exploded
# token stream filters to the QUERY terms BEFORE any aggregation (the
# match set, not the corpus, shuffles), per-(doc, term) tf + per-doc
# length hash aggs, a 3-row term-level idf broadcast, one quantized
# per-pair score, per-doc sum, top-20 under a total order.
# Portability: idf = ln((N - df + 0.5) / (df + 0.5)) is rewritten as
# pln(2N - 2df + 1) - pln(2df + 1) — INTEGER pln arguments, so the
# whole transcendental path stays on the engine-exact portable ln;
# the tf/length chain is the identical parenthesized float DAG on
# both surfaces and each term score quantizes to an e6 BIGINT before
# the order-insensitive per-doc sum.
# BOUNDED-FRAME pln: both macros expand only over the |QUERY_TERMS|-row
# df frame (3 rows) — staging would add plan nodes for nothing.
# ---------------------------------------------------------------------------
BM25_TERMS = ("hash", "join", "stream")
# exponent-form literals: bare `1.2` parses as DECIMAL in Spark SQL
# (decimal arithmetic, different rounding); `1.2e0` is DOUBLE on both
# engines — the same rule portable.py's coefficients follow.
BM25_K1 = "1.2e0"
BM25_B_COMP = "0.25e0"  # 1 - b, b = 0.75
BM25_KB = "0.9e0"  # k1 * b
BM25_TOP = 20

_BM25_IDF = f"({pln('(2 * n_docs - 2 * df + 1)')} - {pln('(2 * df + 1)')})"
_BM25_SCORE_E6 = (
    "CAST(floor((idf * ((CAST(tf AS DOUBLE) * (1.0e0 + " + BM25_K1 + "))"
    " / (CAST(tf AS DOUBLE) + (" + BM25_K1 + " * " + BM25_B_COMP + ")"
    " + (((" + BM25_KB + " * dl) * n_docs) / total_len)))) * 1000000.0 + 0.5) AS BIGINT)"
)


@register(
    "text_bm25_search",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    dl AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        FROM documents
    ),
    corpus AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_len
        FROM dl
    ),
    tf AS (
        SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
        FROM toks
        WHERE w IN ({", ".join(f"'{t}'" for t in BM25_TERMS)})
        GROUP BY doc_id, w
    ),
    df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
    idf AS (
        SELECT df.w, {_BM25_IDF} AS idf
        FROM df CROSS JOIN corpus
    ),
    scored AS (
        SELECT t.doc_id, {_BM25_SCORE_E6} AS s6
        FROM tf t
        JOIN idf i ON i.w = t.w
        JOIN dl ON dl.doc_id = t.doc_id
        CROSS JOIN corpus
    )
    SELECT doc_id, count(*) AS n_terms,
           CAST(sum(s6) AS BIGINT) AS score_e6
    FROM scored
    GROUP BY doc_id
    ORDER BY score_e6 DESC, doc_id
    LIMIT {BM25_TOP}
    """,
    "BM25 keyword relevance ranking: portable-ln idf, saturated tf, length-normalized, top-20",
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    dl = docs.select("doc_id", F.size(F.split("text", " ")).cast("long").alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_len"),
    )
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w").isin(*BM25_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    df_ = tf.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("df"))
    idf = (
        df_.crossJoin(F.broadcast(corpus))
        .select("w", F.expr(_BM25_IDF).alias("idf"))
    )
    scored = (
        tf.join(F.broadcast(idf), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select("doc_id", F.expr(_BM25_SCORE_E6).alias("s6"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("s6").cast("long").alias("score_e6"),
        )
        .orderBy(F.col("score_e6").desc(), "doc_id")
        .limit(BM25_TOP)
    )


# ---------------------------------------------------------------------------
# Content-defined chunk dedup (Gear/FastCDC-style, token granularity) —
# the third member of the repeated-span family, covering the failure
# mode the other two can't: text_window_dedup's fixed 8-token grid
# shifts EVERY downstream window when one token is inserted, and
# text_winnow_dedup detects shared spans but doesn't delimit reusable
# units. CDC cuts chunk boundaries where a per-token hash satisfies
# h % CDC_MOD == 0 — boundaries are a function of CONTENT, not
# position, so an insertion only redraws the one chunk it lands in and
# every other chunk keeps its identity corpus-wide (the property
# storage dedup systems built on Rabin/Gear fingerprints rely on; here
# it finds shared file-versions/boilerplate blocks between near-
# identical documents). Expected chunk length = CDC_MOD tokens.
# Shape: token explode -> per-DOC boundary cumsum (doc_id partition,
# high-cardinality — no low-card window) -> per-(doc, chunk) ordered
# hash agg -> chunk-hash doc-frequency agg; only chunk hashes shared
# by >= 2 docs join back (text_window_dedup's semi-join shape), so the
# unique-chunk bulk never shuffles twice. All-BIGINT output; the dup
# share goes through the widened share_expr/share_sql form.
# ---------------------------------------------------------------------------
CDC_MOD = 32  # expected tokens per chunk


@register(
    "dedup_cdc_chunks",
    f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    pos AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos, t[CAST(i AS INTEGER)] AS tok
        FROM toks, LATERAL unnest(range(1, len(t) + 1)) x(i)
    ),
    flagged AS (
        SELECT doc_id, pos, tok,
               CASE WHEN ('0x' || substr(md5(tok), 1, 8))::BIGINT % {CDC_MOD} = 0
                    THEN 1 ELSE 0 END AS b
        FROM pos
    ),
    chunked AS (
        SELECT doc_id, pos, tok,
               CAST(coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS chunk
        FROM flagged
    ),
    chunks AS (
        SELECT doc_id, chunk, md5(string_agg(tok, ' ' ORDER BY pos)) AS ch
        FROM chunked GROUP BY doc_id, chunk
    ),
    docfreq AS (SELECT ch, count(DISTINCT doc_id) AS ndocs FROM chunks GROUP BY ch)
    SELECT c.doc_id,
           count(*) AS n_chunks,
           CAST(sum(CASE WHEN d.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
           {share_sql("n_dup_chunks", "n_chunks")} AS dup_frac_e4
    FROM chunks c JOIN docfreq d USING (ch)
    GROUP BY c.doc_id
    ORDER BY c.doc_id
    """,
    "content-defined chunking dedup: Gear-style token-hash boundaries, cross-doc chunk frequency",
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "tok")
    b = (
        F.conv(F.substring(F.md5(F.col("tok").cast("binary")), 1, 8), 16, 10)
        .cast("long")
        % CDC_MOD
        == 0
    ).cast("int")
    wch = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = pos.select(
        "doc_id",
        "pos",
        "tok",
        F.coalesce(F.sum(b).over(wch), F.lit(0)).cast("long").alias("chunk"),
    )
    content = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tok"))), lambda s: s.tok
        ),
        " ",
    )
    chunks = (
        chunked.groupBy("doc_id", "chunk")
        .agg(F.md5(content.cast("binary")).alias("ch"))
        # the chunk-hash derivation (posexplode + running-sum window +
        # collect_list md5) feeds n_chunks, shared AND dup — unpinned it
        # ran three times (plan-reuse audit r13)
        .transform(pin)
    )
    n_chunks = chunks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_chunks"))
    shared = (
        chunks.groupBy("ch")
        .agg(F.countDistinct("doc_id").alias("ndocs"))
        .filter(F.col("ndocs") >= 2)
        .select("ch")
    )
    dup = (
        chunks.join(shared, "ch")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_dup0"))
    )
    return (
        n_chunks.join(dup, "doc_id", "left")
        .select(
            "doc_id",
            "n_chunks",
            F.coalesce(F.col("n_dup0"), F.lit(0).cast("long")).alias("n_dup_chunks"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_dup_chunks",
            share_expr("n_dup_chunks", "n_chunks").alias("dup_frac_e4"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_gopher_rules",
    f"""
    WITH toks AS (SELECT doc_id, lang, text, string_split(text, ' ') AS t FROM documents)
    SELECT doc_id, lang,
           len(t) AS n_words,
           floor((list_sum(list_transform(t, x -> length(x))) * 1.0 / greatest(len(t), 1)) * 1e4 + 0.5) / 1e4 AS mean_word_len,
           floor((len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) * 1.0 / greatest(len(t), 1)) * 1e4 + 0.5) / 1e4 AS frac_alpha,
           len(list_filter(t, x -> x IN ({_sql_list(STOPWORDS['en'])}))) AS n_stop,
           CAST(len(t) BETWEEN 50 AND 100000 AS INT) AS pass_words,
           CAST(list_sum(list_transform(t, x -> length(x))) * 1.0 / greatest(len(t), 1) BETWEEN 3 AND 10 AS INT) AS pass_mwl,
           CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) * 1.0 / greatest(len(t), 1) >= 0.8 AS INT) AS pass_alpha,
           CAST(len(list_filter(t, x -> x IN ({_sql_list(STOPWORDS['en'])}))) >= 2 AS INT) AS pass_stop,
           CAST(len(t) BETWEEN 50 AND 100000
                AND list_sum(list_transform(t, x -> length(x))) * 1.0 / greatest(len(t), 1) BETWEEN 3 AND 10
                AND len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) * 1.0 / greatest(len(t), 1) >= 0.8
                AND len(list_filter(t, x -> x IN ({_sql_list(STOPWORDS['en'])}))) >= 2 AS INT) AS pass_all
    FROM toks
    ORDER BY doc_id
    """,
    "Gopher-style quality gates: word count, mean word length, alpha "
    "fraction, stopword presence (Rae et al. 2021 repetition/quality "
    "rules adapted to the corpus) — pure codegen'd array expressions, "
    "per-doc, no shuffle",
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    d = docs.select("doc_id", "lang", "text", F.split("text", " ").alias("t"))
    n = F.size("t")
    wl_sum = F.expr("aggregate(transform(t, x -> length(x)), 0L, (a, x) -> a + x)")
    mwl = wl_sum * 1.0 / F.greatest(n, F.lit(1))
    alpha = F.expr("size(filter(t, x -> x rlike '[a-z]'))") * 1.0 / F.greatest(n, F.lit(1))
    n_stop = F.expr(f"size(filter(t, x -> x in ({_sql_list(STOPWORDS['en'])})))")
    pass_words = n.between(50, 100000)
    pass_mwl = mwl.between(3, 10)
    pass_alpha = alpha >= 0.8
    pass_stop = n_stop >= 2
    return d.select(
        "doc_id",
        "lang",
        n.alias("n_words"),
        fround(mwl, 4).alias("mean_word_len"),
        fround(alpha, 4).alias("frac_alpha"),
        n_stop.alias("n_stop"),
        pass_words.cast("int").alias("pass_words"),
        pass_mwl.cast("int").alias("pass_mwl"),
        pass_alpha.cast("int").alias("pass_alpha"),
        pass_stop.cast("int").alias("pass_stop"),
        (pass_words & pass_mwl & pass_alpha & pass_stop).cast("int").alias("pass_all"),
    ).orderBy("doc_id")


@register(
    "text_repetition_filter",
    """
    WITH g AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS gram
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        WHERE len(t) >= 2
    ),
    c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram)
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_grams,
           floor((max(cnt) * 1.0 / sum(cnt)) * 1e4 + 0.5) / 1e4 AS top_gram_frac,
           floor((sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) * 1.0 / sum(cnt)) * 1e4 + 0.5) / 1e4 AS dup_gram_frac
    FROM c
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    "per-doc 2-gram MASS stats, complementing text_repetition's "
    "distinct-ratio signals: top-2-gram mass (max gram frequency / "
    "total) and duplicated-2-gram mass (tokens inside grams occurring "
    ">1), the Rae et al. 2021 duplication-mass variant — explode -> "
    "hash agg on (doc_id, gram), partial-agg combines map-side",
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    grams = (
        docs.select("doc_id", F.split("text", " ").alias("t"))
        .filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
                )
            ).alias("gram"),
        )
    )
    c = grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    tot = F.sum("cnt")
    return (
        c.groupBy("doc_id")
        .agg(
            tot.alias("n_grams"),
            fround(F.max("cnt") * 1.0 / tot, 4).alias("top_gram_frac"),
            fround(
                F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)) * 1.0 / tot,
                4,
            ).alias("dup_gram_frac"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_oov_rate",
    """
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    vocab AS (SELECT tok FROM cnt ORDER BY c DESC, tok LIMIT 16)
    SELECT t.doc_id,
           count(*) AS n_tokens,
           CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           floor((sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1.0 / count(*)) * 1e4 + 0.5) / 1e4 AS oov_rate
    FROM toks t LEFT JOIN vocab v USING (tok)
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
    "per-doc out-of-vocabulary rate against the corpus's top-16 token "
    "vocab (deterministic count-desc/token-asc cutoff): the vocab is a "
    "bounded agg output broadcast to the token stream — one fact "
    "shuffle for the corpus counts, broadcast join for the scoring",
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok"))
        .limit(16)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    is_oov = F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(is_oov).alias("n_oov"),
            fround(F.sum(is_oov) * 1.0 / F.count(F.lit(1)), 4).alias("oov_rate"),
        )
        .orderBy("doc_id")
    )


# DSIR-style importance weights (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling"): per-doc average
# log-ratio of a TARGET domain's unigram LM over the RAW corpus LM,
# add-1 smoothed over the shared vocab. Target here = lang='en' docs.
# Every per-word log-ratio is quantized to exact integer µ-units
# BEFORE the per-doc sum (floating sums are order-dependent across
# engines; integer sums are not), and ln() is the portable pln()
# polynomial, so Spark and DuckDB agree bit-for-bit.
_DSIR_LR_E6 = (
    "cast(floor(({lr}) * 1e6 + 0.5e0) as bigint)"
)


@register(
    "text_dsir_weights",
    f"""
    WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents),
    cnt AS (
        SELECT tok,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) + 1 AS BIGINT) AS ct,
               CAST(count(*) + 1 AS BIGINT) AS cr
        FROM toks GROUP BY tok
    ),
    q AS (SELECT tok, {_DSIR_LR_E6.format(lr=f"({pln('ct')} - {pln('cr')})")} AS lr_e6 FROM cnt),
    tot AS (
        SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) + (SELECT count(*) FROM cnt) AS BIGINT) AS nt,
               CAST(count(*) + (SELECT count(*) FROM cnt) AS BIGINT) AS nr
        FROM toks
    ),
    c AS (SELECT {_DSIR_LR_E6.format(lr=f"({pln('nr')} - {pln('nt')})")} AS c_e6 FROM tot)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           floor(((CAST(sum(q.lr_e6) AS DOUBLE) / count(*) + CAST(max(c.c_e6) AS DOUBLE)) / 1e6) * 1e4 + 0.5) / 1e4 AS dsir_weight
    FROM toks t JOIN q USING (tok) CROSS JOIN c
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
    "DSIR importance-resampling weights: per-doc mean log-ratio of the "
    "target-domain (lang='en') unigram LM over the raw-corpus LM, add-1 "
    "smoothed — one token-count shuffle builds the ratio table, the "
    "scoring joins tokens to it (model-side table, shuffle hash join), "
    "log-ratios quantized to integer µ-units so per-doc sums are exact",
)
def text_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    # r15 (guide §2.3/§2.4, r14-verdict item 4): cnt is the add-1 token
    # count table — pin it (vocab-sized model artifact) because q AND
    # the totals both read it; and derive the totals FROM it instead of
    # re-aggregating the exploded token stream: sum(ct - 1) over the
    # vocab is exactly the en-token total, sum(cr - 1) the raw total,
    # count(*) the vocab size — integer identities, so one aggregate
    # over the small pinned table replaces a second full corpus pass.
    cnt = toks.groupBy("tok").agg(
        (F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)) + 1)
        .cast("long")
        .alias("ct"),
        (F.count(F.lit(1)) + 1).cast("long").alias("cr"),
    ).transform(pin)
    q = cnt.select(
        "tok",
        F.expr(_DSIR_LR_E6.format(lr=f"({pln('ct')} - {pln('cr')})")).alias("lr_e6"),
    )
    tot = cnt.agg(
        F.sum(F.col("ct") - 1).alias("t_raw"),
        F.sum(F.col("cr") - 1).alias("r_raw"),
        F.count(F.lit(1)).alias("v"),
    ).select(
        (F.col("t_raw") + F.col("v")).cast("long").alias("nt"),
        (F.col("r_raw") + F.col("v")).cast("long").alias("nr"),
    )
    c = tot.select(
        F.expr(_DSIR_LR_E6.format(lr=f"({pln('nr')} - {pln('nt')})")).alias("c_e6")
    )
    return (
        toks.join(q, "tok")
        .crossJoin(F.broadcast(c))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.expr(
                "floor(((cast(sum(lr_e6) as double) / count(*) "
                "+ cast(max(c_e6) as double)) / 1e6) * 1e4 + 0.5) / 1e4"
            ).alias("dsir_weight"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_msttr",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    e AS (
        SELECT doc_id, unnest(range(len(t))) AS i, t
        FROM toks WHERE len(t) >= 20
    ),
    seg AS (
        SELECT doc_id, CAST(i // 20 AS BIGINT) AS seg,
               CAST(count(DISTINCT t[i + 1]) AS BIGINT) AS d
        FROM e WHERE i < (len(t) // 20) * 20
        GROUP BY doc_id, i // 20
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           floor((CAST(sum(d) AS DOUBLE) / (20.0e0 * count(*))) * 1e4 + 0.5) / 1e4 AS msttr
    FROM seg GROUP BY doc_id ORDER BY doc_id
    """,
    "mean segmental type-token ratio (MSTTR-20), the length-insensitive "
    "lexical-diversity standard: distinct-token ratio per FULL 20-token "
    "segment, averaged per doc — per-segment distinct counts are exact "
    "integers so the cross-engine average is deterministic; one "
    "(doc, seg) hash agg, ragged tails dropped, docs under 20 tokens "
    "emit no row",
)
def text_msttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= 20
    )
    e = toked.select(
        "doc_id",
        F.expr("size(t) div 20").alias("n_full"),
        F.posexplode("t").alias("i", "tok"),
    ).filter(F.col("i") < F.col("n_full") * 20)
    seg = e.groupBy("doc_id", F.expr("i div 20").alias("seg")).agg(
        F.countDistinct("tok").cast("long").alias("d")
    )
    return (
        seg.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.expr(
                "floor((cast(sum(d) as double) / (20.0e0 * count(*))) * 1e4 + 0.5) / 1e4"
            ).alias("msttr"),
        )
        .orderBy("doc_id")
    )


@register(
    "docs_k_anonymity",
    """
    SELECT lang, source, CAST(n_chars // 200 AS BIGINT) AS len_bucket,
           CAST(count(*) AS BIGINT) AS group_n,
           CAST(count(*) < 5 AS INT) AS below_k
    FROM documents
    GROUP BY lang, source, n_chars // 200
    ORDER BY lang, source, len_bucket
    """,
    "k-anonymity audit over the (lang, source, length-bucket) "
    "quasi-identifier tuple: group sizes and a below-k=5 re-identification "
    "flag per group — single hash agg, integers only, the privacy gate a "
    "curation pipeline runs before releasing per-group metadata",
)
def docs_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.groupBy(
            "lang", "source", F.expr("n_chars div 200").alias("len_bucket")
        )
        .agg(F.count(F.lit(1)).alias("group_n"))
        .select(
            "lang",
            "source",
            "len_bucket",
            "group_n",
            (F.col("group_n") < 5).cast("int").alias("below_k"),
        )
        .orderBy("lang", "source", "len_bucket")
    )


# ---------------------------------------------------------------------------
# Vocabulary Gini coefficient — corpus-health diagnostic: how unequal is
# the token-frequency distribution per language (0 = uniform usage,
# -> 1 = a few tokens dominate)? The classic rank formula
# G = 2*sum(i*c_i)/(V*sum(c)) - (V+1)/V over counts sorted ascending —
# every term an exact integer until ONE final share-style division, so
# the oracle cannot diverge. The ascending rank runs through the
# grouped two-phase distributed scan (a per-lang window would funnel
# each language's full vocabulary through one sort task at scale).
# ---------------------------------------------------------------------------
@register(
    "text_vocab_gini",
    f"""
    WITH toks AS (
        SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    wc AS (SELECT lang, tok, count(*) AS c FROM toks GROUP BY lang, tok),
    rk AS (
        SELECT lang, c,
               row_number() OVER (PARTITION BY lang ORDER BY c, tok) AS i
        FROM wc
    ),
    g AS (
        SELECT lang, count(*) AS v_size,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(sum(i * c) AS BIGINT) AS s_ic
        FROM rk GROUP BY lang
    )
    SELECT lang, v_size, n_tokens,
           {share_sql('2*s_ic - (v_size + 1)*n_tokens', 'v_size*n_tokens', 6)} AS gini_e6
    FROM g
    ORDER BY lang
    """,
    "per-language token-frequency Gini: exact integer rank formula over "
    "the grouped two-phase distributed sort, one final guarded division",
)
def text_vocab_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .distrank import with_grouped_rank

    docs = table(spark, sf_dir, "documents")
    wc = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rk = with_grouped_rank(
        spark,
        wc,
        ["lang"],
        [F.col("c"), F.col("tok")],
        rn_col="i",
        # the two-phase scan reads its input twice; wc is an explode +
        # aggregate over the corpus — materialize halves that work
        materialize=True,
    )
    g = rk.groupBy("lang").agg(
        F.count(F.lit(1)).alias("v_size"),
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(F.col("i").cast("long") * F.col("c")).cast("long").alias("s_ic"),
    )
    return g.select(
        "lang",
        "v_size",
        "n_tokens",
        share_expr("2*s_ic - (v_size + 1)*n_tokens", "v_size*n_tokens", 6).alias(
            "gini_e6"
        ),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# Vocabulary-fingerprint dedup — order/length-invariant near-template
# detection: two docs with the SAME SET of distinct tokens are rewrites
# of one another (shuffled spans, repeated-phrase padding) that exact
# text hashing misses and shingle dedup only scores fractionally. The
# fingerprint is one md5 over the sorted distinct-token list — a single
# hash-shuffle groupBy, the cheapest dedup signal after raw md5(text),
# and the one template spam actually trips. ASCII-token corpora sort
# identically on both engines (binary vs codepoint order agree there).
# ---------------------------------------------------------------------------
@register(
    "dedup_vocab_fingerprint",
    """
    WITH b AS (
        SELECT doc_id, lang,
               md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS vf
        FROM documents
    )
    SELECT vf,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM b
    GROUP BY vf
    HAVING count(*) >= 2
    ORDER BY vf
    """,
    "order/length-invariant near-template groups: md5 over the sorted "
    "distinct-token set, one hash groupBy",
)
def dedup_vocab_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    vf = F.md5(
        F.array_join(
            F.array_sort(F.array_distinct(F.split("text", " "))), " "
        ).cast("binary")
    )
    return (
        docs.select("doc_id", "lang", vf.alias("vf"))
        .groupBy("vf")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("vf")
    )


# ---------------------------------------------------------------------------
# Shard-balance audit — the observability counterpart of shard_assign:
# per shard the doc count, char mass, and relative load (e4 units,
# 10000 = perfectly balanced), so a skewed salt or a pathological key
# distribution is a report row, not a straggler found mid-training.
# Two partial-agg scans (shard rollup + 1-row total), no windows.
# ---------------------------------------------------------------------------
@register(
    "shard_balance_audit",
    f"""
    WITH keyed AS (
        SELECT CAST(('0x' || substr(md5('{SHARD_SALT}' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                    % {N_SHARDS} AS INTEGER) AS shard,
               n_chars
        FROM documents
    ),
    s AS (
        SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS n_chars
        FROM keyed GROUP BY shard
    ),
    t AS (SELECT CAST(count(*) AS BIGINT) AS total_docs FROM documents)
    SELECT shard, n_docs, n_chars,
           {share_sql(f'n_docs * {N_SHARDS}', 'total_docs', 4)} AS load_e4
    FROM s, t
    ORDER BY shard
    """,
    f"per-shard doc/char mass + relative load (e4; 10000 = balanced) "
    f"for the {N_SHARDS}-way salted shard assignment",
)
def shard_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    k = F.md5(
        F.concat(F.lit(SHARD_SALT), F.col("doc_id").cast("string")).cast("binary")
    )
    shard = (F.conv(F.substring(k, 1, 8), 16, 10).cast("long") % N_SHARDS).cast("int")
    s = (
        docs.select(shard.alias("shard"), "n_chars")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
    )
    t = docs.agg(F.count(F.lit(1)).alias("total_docs"))
    return (
        s.crossJoin(F.broadcast(t))
        .select(
            "shard",
            "n_docs",
            "n_chars",
            share_expr(f"n_docs * {N_SHARDS}", "total_docs", 4).alias("load_e4"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# Shingle document-frequency profile — the index-health diagnostic
# behind every df-capped dedup operator in this repo: how are 3-gram
# document frequencies distributed (log2 bins, pure-integer bin index
# via the binary-digit count so no float log edge can disagree), and
# what fraction of shingles the df > 50 hot-cap actually drops. Reading
# this per corpus is how the cap is TUNED instead of trusted.
# ---------------------------------------------------------------------------
SHINGLE_DF_CAP = 50  # the dedup family's hot-shingle cutoff


@register(
    "dedup_shingle_df_profile",
    f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
        SELECT DISTINCT doc_id,
               unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                       for i in range(1, greatest(len(t) - 1, 1))]) AS g
        FROM toks
    ),
    df AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM grams GROUP BY g),
    binned AS (SELECT CAST(length(bin(df)) - 1 AS INTEGER) AS bin, df FROM df)
    SELECT bin,
           CAST(1 AS BIGINT) << bin AS df_lo,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(df) AS BIGINT) AS n_postings,
           CAST(sum(CASE WHEN df > {SHINGLE_DF_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_over_cap
    FROM binned
    GROUP BY bin
    ORDER BY bin
    """,
    "log2 histogram of 3-gram shingle document frequencies (integer "
    "binary-digit bin index) + the df-cap drop count — tunes the dedup "
    "family's hot-shingle cutoff",
)
def dedup_shingle_df_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    grams = toks.select(
        "doc_id",
        F.explode(
            # the <3-token guard matters: concat_ws SKIPS the NULL
            # out-of-range elements and would emit a short gram where
            # the oracle's range() emits none (textops.py:799's form)
            F.expr(
                "case when size(t) >= 3 then transform(sequence(1, size(t) - 2),"
                " i -> concat_ws(' ', t[i-1], t[i], t[i+1]))"
                " else array() end"
            )
        ).alias("g"),
    ).distinct()
    df = grams.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("df"))
    binned = df.select(
        (F.length(F.expr("bin(df)")) - 1).cast("int").alias("bin"), "df"
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum("df").cast("long").alias("n_postings"),
            F.sum(F.when(F.col("df") > SHINGLE_DF_CAP, 1).otherwise(0))
            .cast("long")
            .alias("n_over_cap"),
        )
        .select(
            "bin",
            F.expr("shiftleft(cast(1 as bigint), bin)").alias("df_lo"),
            "n_shingles",
            "n_postings",
            "n_over_cap",
        )
        .orderBy("bin")
    )
