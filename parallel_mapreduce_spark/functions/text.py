"""Text analysis: the reference's word-count surface, generalized.

The reference's only application is whitespace word-count + point lookup
(``src/main.c:10-40``): tokenize lines on whitespace, emit ``(token, "1")``,
count per key, probe one key. Queries here re-express that as DataFrame plans
(D1 tokenize, D2 count-per-key, D3 keyed lookup, D4 distinct, D5 sort — see
SURVEY.md §2.2) and extend it with the text-pipeline operators a training-data
pipeline needs: per-language stats, n-grams, tf-idf, language-ID heuristic,
quality scoring, document fingerprinting.

Scale posture: everything is built-in-function only (whole-stage codegen, no
Python UDFs); token explosion happens after a columnar scan that prunes to the
needed columns; counts are partial-aggregated map-side by Catalyst — the
headline asymptotic win over the reference, whose every emitted pair crosses
the shuffle (``src/main.c:22``, SURVEY.md §4.2).

NOTE on intended semantics: the reference's tokenizer silently drops the rest
of a line at the first empty token (bug, ``src/main.c:20-21``); per SURVEY.md
§2.4 we implement the *intended* semantics — split on whitespace, drop empty
tokens — and the DuckDB oracle defines truth.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from parallel_mapreduce_spark.functions.portable import phash60, phash60_sql
from parallel_mapreduce_spark.operators.rank import top_k
from parallel_mapreduce_spark.registry import query
from parallel_mapreduce_spark.session import partition_count
from parallel_mapreduce_spark.sources import cut, load_table

# Shared stopword/marker vocabulary (tiny on purpose: the oracle must use the
# exact same lists, inlined into the SQL strings below).
STOPWORDS = ("the", "a", "of", "and")
EN_MARKERS = ("the", "a", "and", "of")
ES_MARKERS = ("el", "la", "de", "y")

# The word-count lookup term (reference: last CLI arg, ``src/main.c:51-52``).
LOOKUP_TERM = "data"


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of a text column, empty tokens dropped (intended D1)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, " "), lambda t: t != F.lit(""))


def bigrams(toks: Column) -> Column:
    """Adjacent-token bigrams; empty array when fewer than two tokens.

    slice + zip_with, not indexed access in a transform lambda: indexed
    access re-evaluates the token expression per element in interpreted
    higher-order functions (see shingles3 in functions/dedup.py).
    """
    n = F.size(toks)
    cnt = F.greatest(n - 1, F.lit(0))
    ab = F.zip_with(
        F.slice(toks, 1, cnt),
        F.slice(toks, 2, cnt),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    return F.when(n >= 2, ab).otherwise(F.array().cast("array<string>"))



def _spread(spark: SparkSession, docs: DataFrame, *cols: str) -> DataFrame:
    """Project to the needed columns and spread rows across cores BEFORE a
    CPU-heavy per-doc expression: the testdata parquet is one row group, so
    without this the whole expression evaluates in the scan's single task
    (see the 10x-corpus probes in README)."""
    n_parts = partition_count(spark)
    out = docs.select(*cols)
    key = cols[0] if cols[0] == "doc_id" else None
    return out.repartition(n_parts, key) if key else out.repartition(n_parts)


def token_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents exploded to one row per token — the engine's `MR_Emit` stream."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", F.explode(tokens("text")).alias("word"))


# DuckDB fragment for the same tokenization (kept in lockstep with tokens()).
_SQL_TOKS = "list_filter(string_split(text, ' '), x -> x <> '')"


# --------------------------------------------------------------------------
# D1+D2: word count — the reference's flagship query.
# --------------------------------------------------------------------------
@query(
    "wordcount",
    oracle=f"""
    SELECT word, COUNT(*) AS cnt
    FROM (SELECT unnest({_SQL_TOKS}) AS word FROM documents)
    GROUP BY word
    """,
    headline=True,
)
def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT word, COUNT(*) FROM tokens GROUP BY word.

    Plan shape: parquet scan (pruned to `text`) -> generate(explode) ->
    partial hash-agg -> exchange -> final hash-agg. The partial aggregation
    is what the reference lacks (every ("w","1") pair crosses its shuffle,
    ``src/main.c:22``).
    """
    return token_df(spark, sf_dir).groupBy("word").agg(F.count("*").alias("cnt"))


# --------------------------------------------------------------------------
# D7: multi-source union word count. The reference's MR_Run takes a LIST of
# input files and word-counts their union (src/mapreduce.c:181-212 wave
# scheduler; src/main.c argv loop); the DataFrame twin unions two distinct
# sources (documents.text + part.p_name) ahead of the same tokenize/count
# pipeline. Union-all is plan-level concatenation — no shuffle of its own;
# the single count shuffle stays keyed by word.
# --------------------------------------------------------------------------
@query(
    "multi_source_wordcount",
    oracle=f"""
    SELECT word, COUNT(*) AS cnt
    FROM (SELECT unnest({_SQL_TOKS}) AS word
          FROM (SELECT text FROM documents
                UNION ALL
                SELECT p_name AS text FROM part))
    GROUP BY word
    """,
)
def multi_source_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("text")
    parts = load_table(spark, sf_dir, "part").select(F.col("p_name").alias("text"))
    src = docs.unionByName(parts)
    return (
        src.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


# --------------------------------------------------------------------------
# D3: keyed point lookup. Catalyst pushes the filter below the aggregate —
# the reference aggregates everything then probes a hashmap (main.c:55-58).
# --------------------------------------------------------------------------
@query(
    "wordcount_lookup",
    oracle=f"""
    SELECT word, COUNT(*) AS cnt
    FROM (SELECT unnest({_SQL_TOKS}) AS word FROM documents)
    WHERE word = '{LOOKUP_TERM}'
    GROUP BY word
    """,
)
def wordcount_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    wc = token_df(spark, sf_dir).groupBy("word").agg(F.count("*").alias("cnt"))
    return wc.filter(F.col("word") == LOOKUP_TERM)


# --------------------------------------------------------------------------
# D4: distinct keys (the engine's prev-dedupe walk, mapreduce.c:225-233).
# --------------------------------------------------------------------------
@query(
    "distinct_tokens",
    oracle=f"""
    SELECT DISTINCT unnest({_SQL_TOKS}) AS word FROM documents
    """,
)
def distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_df(spark, sf_dir).select("word").distinct()


# --------------------------------------------------------------------------
# D5 + top-k: global sort + limit (Spark executes as TakeOrderedAndProject —
# no global shuffle-sort materialization).
# --------------------------------------------------------------------------
@query(
    "top_terms",
    oracle=f"""
    SELECT word, COUNT(*) AS cnt
    FROM (SELECT unnest({_SQL_TOKS}) AS word FROM documents)
    GROUP BY word
    ORDER BY cnt DESC, word
    LIMIT 20
    """,
    headline=True,
)
def top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    wc = token_df(spark, sf_dir).groupBy("word").agg(F.count("*").alias("cnt"))
    return wc.orderBy(F.col("cnt").desc(), F.col("word")).limit(20)


# --------------------------------------------------------------------------
# Per-document token stats (token counting for pipeline budgeting).
# --------------------------------------------------------------------------
@query(
    "token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
           ROUND(list_avg(list_transform(toks, t -> CAST(strlen(t) AS DOUBLE))), 4)
             AS avg_token_len
    FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
    """,
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    lens = F.transform(toks, lambda t: F.octet_length(t).cast("double"))
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.round(
            F.aggregate(lens, F.lit(0.0), lambda acc, x: acc + x) / F.size(toks),
            4,
        ).alias("avg_token_len"),
    )


# --------------------------------------------------------------------------
# BPE-ish regex token counting: pieces are letter runs, digit runs, or single
# non-alphanumeric marks — the coarse pre-tokenization most BPE vocabularies
# apply before merges (GPT-2-style), so piece count tracks LLM token budget
# far better than whitespace count. Same RE in Spark (Java regex) and DuckDB
# (RE2); the character classes used are identical in both dialects.
# --------------------------------------------------------------------------
_BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


@query(
    "regex_token_stats",
    oracle=f"""
    WITH p AS (
      SELECT doc_id, regexp_extract_all(text, '{_BPE_RE}') AS pieces,
             {_SQL_TOKS} AS ws
      FROM documents
    )
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_ws_tokens,
           CAST(len(pieces) AS BIGINT) AS n_pieces,
           CAST(len(list_filter(pieces, x -> regexp_matches(x, '^[A-Za-z]')))
                AS BIGINT) AS n_alpha,
           CAST(len(list_filter(pieces, x -> regexp_matches(x, '^[0-9]')))
                AS BIGINT) AS n_digit,
           CAST(len(list_filter(pieces, x -> regexp_matches(x, '^[^A-Za-z0-9]')))
                AS BIGINT) AS n_punct
    FROM p
    """,
)
def regex_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, load_table(spark, sf_dir, "documents"), "doc_id", "text")
    pieces = F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), F.lit(0))
    # First-char classes via code-point range comparisons — exactly
    # equivalent to the oracle's ^[A-Za-z] / ^[0-9] regexes (both are
    # code-point tests on the first character) but ~20% faster than running
    # three regex matchers per piece inside the interpreted filter.
    first = lambda x: F.substring(x, 1, 1)  # noqa: E731
    is_alpha = lambda x: ((first(x) >= "A") & (first(x) <= "Z")) | (  # noqa: E731
        (first(x) >= "a") & (first(x) <= "z")
    )
    is_digit = lambda x: (first(x) >= "0") & (first(x) <= "9")  # noqa: E731
    return docs.select(
        "doc_id",
        F.size(tokens("text")).cast("long").alias("n_ws_tokens"),
        F.size(pieces).cast("long").alias("n_pieces"),
        F.size(F.filter(pieces, lambda x: is_alpha(x))).cast("long").alias("n_alpha"),
        F.size(F.filter(pieces, lambda x: is_digit(x))).cast("long").alias("n_digit"),
        F.size(F.filter(pieces, lambda x: ~(is_alpha(x) | is_digit(x))))
        .cast("long")
        .alias("n_punct"),
    )


# --------------------------------------------------------------------------
# n-grams: bigram counts (top 20, deterministic tie-break).
# --------------------------------------------------------------------------
@query(
    "bigram_counts",
    oracle=f"""
    WITH t AS (SELECT {_SQL_TOKS} AS toks FROM documents)
    SELECT bigram, COUNT(*) AS cnt
    FROM (
      SELECT unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      FROM t WHERE len(toks) >= 2
    )
    GROUP BY bigram
    ORDER BY cnt DESC, bigram
    LIMIT 20
    """,
)
def bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, load_table(spark, sf_dir, "documents"), "doc_id", "text")
    bg = docs.select(F.explode(bigrams(tokens("text"))).alias("bigram"))
    return (
        bg.groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("bigram"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Per-language corpus stats.
# --------------------------------------------------------------------------
@query(
    "lang_stats",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           ROUND(AVG(CAST(n_chars AS DOUBLE)), 4) AS avg_chars,
           CAST(SUM(len({_SQL_TOKS})) AS BIGINT) AS total_tokens
    FROM documents
    GROUP BY lang
    """,
)
def lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(F.col("n_chars").cast("double")), 4).alias("avg_chars"),
        F.sum(F.size(tokens("text"))).cast("long").alias("total_tokens"),
    )


# --------------------------------------------------------------------------
# Per-source corpus composition: the "which ingestion sources are worth
# keeping" profile every training-data pipeline runs before filtering —
# volume, language diversity, and length stats per source. One shuffle on
# source (bounded cardinality); distinct-lang is a tiny per-group set.
# --------------------------------------------------------------------------
@query(
    "source_composition",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT lang) AS n_langs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           ROUND(AVG(CAST(n_chars AS DOUBLE)), 4) AS avg_chars
    FROM documents
    GROUP BY source
    """,
)
def source_composition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.round(F.avg(F.col("n_chars").cast("double")), 4).alias("avg_chars"),
    )


# --------------------------------------------------------------------------
# Document-length histogram: fixed-width buckets with an overflow tail —
# the length-distribution profile used to pick truncation/packing limits.
# Portable arithmetic bucketing (floor division), no width_bucket needed;
# map-side partial aggregation makes this one tiny shuffle at any scale.
# --------------------------------------------------------------------------
HIST_BUCKET_WIDTH = 100
HIST_N_BUCKETS = 20  # last bucket absorbs the tail


@query(
    "doc_length_histogram",
    oracle=f"""
    SELECT LEAST(n_chars // {HIST_BUCKET_WIDTH}, {HIST_N_BUCKETS - 1}) AS bucket,
           COUNT(*) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY 1
    """,
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.least(
        F.floor(F.col("n_chars") / HIST_BUCKET_WIDTH),
        F.lit(HIST_N_BUCKETS - 1),
    ).cast("long")
    return docs.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n_docs"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )


# --------------------------------------------------------------------------
# tf-idf: top term per document. tf * ln(N/df), rounded for cross-engine
# rank stability (libm vs JVM ln differ in the last ulp).
# --------------------------------------------------------------------------
@query(
    "tfidf_top_term",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * LN(n.n_docs * 1.0 / dfreq.df), 6) AS tfidf6
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term AS top_term, ROUND(tfidf6, 4) AS tfidf
    FROM (SELECT doc_id, term, tfidf6,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY tfidf6 DESC, term) AS rk
          FROM scored)
    WHERE rk = 1
    """,
)
def tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from parallel_mapreduce_spark.functions.dedup import (
        _rep_texts,
        exact_dup_members,
    )

    docs = load_table(spark, sf_dir, "documents")
    n = partition_count(spark)
    # Collapse-first (same shape as the dedup paths): identical texts have
    # identical term vectors, so tf runs per distinct text; document
    # frequency weights each representative by its copy count; the top term
    # per representative expands to every member unchanged.
    members = exact_dup_members(docs).select("rep", "doc_id")
    group_sz = members.groupBy("rep").agg(F.count("*").alias("copies"))
    reps = _rep_texts(docs, n).select(F.col("doc_id").alias("rep"), "text")
    toks = reps.select("rep", F.explode(tokens("text")).alias("term"))
    tf = toks.groupBy("rep", "term").agg(F.count("*").alias("tf"))
    dfreq = (
        tf.join(group_sz, "rep")
        .groupBy("term")
        .agg(F.sum("copies").alias("df"))
    )
    ndocs = docs.agg(F.count("*").alias("n_docs"))
    # ndocs is one row forever: force-broadcast. group_sz and dfreq scale
    # with the corpus (distinct texts / vocabulary), so their join strategy
    # is left to the size threshold + AQE — broadcast while they fit,
    # shuffle when they don't.
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(ndocs))
        .select(
            "rep",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") * F.lit(1.0) / F.col("df")), 6
            ).alias("tfidf6"),
        )
    )
    rep_top = top_k(
        scored, "rep", [F.col("tfidf6").desc(), F.col("term")], 1
    ).select("rep", "term", "tfidf6")
    return members.join(rep_top, "rep").select(
        "doc_id",
        F.col("term").alias("top_term"),
        F.round("tfidf6", 4).alias("tfidf"),
    )


# --------------------------------------------------------------------------
# Quality scoring: length + stopword-ratio heuristic (pipeline filtering).
# --------------------------------------------------------------------------
_SQL_STOP = "['" + "', '".join(STOPWORDS) + "']"


def stop_ratio_expr(toks: Column) -> Column:
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_cnt = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return stop_cnt * F.lit(1.0) / F.size(toks)


def quality_expr(toks: Column) -> Column:
    """0.6 * min(n_tokens/100, 1) + 0.4 * (1 - stopword_ratio); null for
    empty docs (division by zero -> null, filters drop them)."""
    n_tok = F.size(toks)
    return F.lit(0.6) * F.least(n_tok / F.lit(100.0), F.lit(1.0)) + F.lit(0.4) * (
        F.lit(1.0) - stop_ratio_expr(toks)
    )


@query(
    "quality_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           ROUND(len(list_filter(toks, x -> list_contains({_SQL_STOP}, x)))
                 * 1.0 / len(toks), 4) AS stop_ratio,
           ROUND(0.6 * least(len(toks) / 100.0, 1.0)
                 + 0.4 * (1.0 - len(list_filter(toks, x -> list_contains({_SQL_STOP}, x)))
                                * 1.0 / len(toks)), 4) AS quality
    FROM t
    """,
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.round(stop_ratio_expr(toks), 4).alias("stop_ratio"),
        F.round(quality_expr(toks), 4).alias("quality"),
    )


# --------------------------------------------------------------------------
# Language-ID heuristic: marker-word voting (confusion matrix vs true lang).
# --------------------------------------------------------------------------
_SQL_EN = "['" + "', '".join(EN_MARKERS) + "']"
_SQL_ES = "['" + "', '".join(ES_MARKERS) + "']"


@query(
    "lang_id_confusion",
    oracle=f"""
    WITH t AS (
      SELECT lang,
             len(list_filter({_SQL_TOKS}, x -> list_contains({_SQL_EN}, x))) AS en_hits,
             len(list_filter({_SQL_TOKS}, x -> list_contains({_SQL_ES}, x))) AS es_hits
      FROM documents
    )
    SELECT lang,
           CASE WHEN en_hits > es_hits THEN 'en'
                WHEN es_hits > en_hits THEN 'es'
                WHEN en_hits > 0 THEN 'tie'
                ELSE 'unknown' END AS guess,
           COUNT(*) AS n_docs
    FROM t
    GROUP BY 1, 2
    """,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, load_table(spark, sf_dir, "documents"), "lang", "text")
    toks = tokens("text")
    en_arr = F.array(*[F.lit(s) for s in EN_MARKERS])
    es_arr = F.array(*[F.lit(s) for s in ES_MARKERS])
    en_hits = F.size(F.filter(toks, lambda t: F.array_contains(en_arr, t)))
    es_hits = F.size(F.filter(toks, lambda t: F.array_contains(es_arr, t)))
    guess = (
        F.when(en_hits > es_hits, F.lit("en"))
        .when(es_hits > en_hits, F.lit("es"))
        .when(en_hits > 0, F.lit("tie"))
        .otherwise(F.lit("unknown"))
    )
    return (
        docs.select("lang", guess.alias("guess"))
        .groupBy("lang", "guess")
        .agg(F.count("*").alias("n_docs"))
    )


# --------------------------------------------------------------------------
# Document fingerprinting: md5 over the sorted distinct token set (set
# fingerprint) + a rolling polynomial hash over token lengths (order
# fingerprint) — both portable across engines.
# --------------------------------------------------------------------------
@query(
    "doc_fingerprint",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS set_fp,
           list_reduce(list_transform(toks, x -> CAST(strlen(x) AS BIGINT)),
                       (acc, x) -> (acc * 31 + x) % 1000000007) AS roll_fp
    FROM t
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, load_table(spark, sf_dir, "documents"), "doc_id", "text")
    toks = tokens("text")
    lens = F.transform(toks, lambda t: F.octet_length(t).cast("long"))
    # DuckDB's list_reduce seeds the fold with the first element; mirror that:
    # init = lens[0], fold over the tail.
    roll = F.aggregate(
        F.slice(lens, 2, F.greatest(F.size(lens) - 1, F.lit(0))),
        F.get(lens, 0),
        lambda acc, x: (acc * 31 + x) % 1000000007,
    )
    return docs.select(
        "doc_id",
        F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " ")).alias("set_fp"),
        roll.alias("roll_fp"),
    )


# --------------------------------------------------------------------------
# Stratified corpus sampling: per-language fractions via hash-threshold
# Bernoulli — keep a doc iff phash60("sample:" || doc_id) mod DENOM falls
# under its stratum's threshold. Deterministic in the *content* (doc_id),
# not in RNG state: the same doc is kept or dropped regardless of engine,
# partitioning, or task retry — the property a training-data subsampling
# operator actually needs (reproducible corpus cuts, stable across reruns
# at 100 TB), and what makes the query fully value-checkable against the
# DuckDB oracle. Langs absent from the dict are dropped (fraction 0) — the
# rebalancing contract. Narrow op: no shuffle at all.
# --------------------------------------------------------------------------
SAMPLE_FRACTIONS = {"en": 0.5, "es": 0.25}
SAMPLE_DENOM = 1_000_000

_SQL_SAMPLE_CASE = "CASE lang " + " ".join(
    f"WHEN '{lang}' THEN {int(frac * SAMPLE_DENOM)}"
    for lang, frac in SAMPLE_FRACTIONS.items()
) + " ELSE 0 END"


@query(
    "stratified_sample_docs",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {phash60_sql("'sample:' || doc_id::VARCHAR")} % {SAMPLE_DENOM}
          < {_SQL_SAMPLE_CASE}
    """,
)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = phash60(
        F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))
    ) % SAMPLE_DENOM
    threshold = F.lit(0)
    for lang, frac in SAMPLE_FRACTIONS.items():
        threshold = (
            F.when(F.col("lang") == lang, F.lit(int(frac * SAMPLE_DENOM)))
            .otherwise(threshold)
        )
    return docs.filter(bucket < threshold).select("doc_id", "lang")


# --------------------------------------------------------------------------
# Zipf rank-frequency slope: least-squares slope of ln(freq) on ln(rank)
# over the full vocabulary — the classic corpus-health diagnostic (natural
# text sits near -1; boilerplate-heavy or synthetic corpora drift off).
# Token counting shuffles once on the token; the rank is assigned
# HIERARCHICALLY (operators/rank.global_row_number — range shards + broadcast
# bases, precedent: vocab_min_count), never a single-partition global window
# over the vocabulary; regr_slope is one partial-aggregable pass — no
# driver-side math.
# --------------------------------------------------------------------------
@query(
    "zipf_slope",
    oracle=f"""
    WITH counts AS (
      SELECT word, COUNT(*) AS cnt
      FROM (SELECT unnest({_SQL_TOKS}) AS word FROM documents)
      GROUP BY word
    ), ranked AS (
      SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rank
      FROM counts
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
           ROUND(regr_slope(ln(cnt), ln(rank)), 4) AS slope
    FROM ranked
    """,
)
def zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parallel_mapreduce_spark.operators.rank import global_row_number

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        _spread(spark, docs, "text")
        .select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .count()
        .withColumnRenamed("count", "cnt")
    )
    ranked = global_row_number(
        counts, [F.col("cnt").desc(), F.asc("word")], out="rank"
    ).select("cnt", "rank")
    return ranked.agg(
        F.count("*").alias("n_terms"),
        F.round(F.regr_slope(F.log("cnt"), F.log("rank")), 4).alias("slope"),
    )


# --------------------------------------------------------------------------
# Per-source KL divergence: D(P_source || P_corpus) over token unigram
# distributions — the drift/contrast metric for corpus mixing (which source
# deviates most from the blend). One token-count shuffle; everything after
# runs on vocab-sized frames (per-source counts, corpus totals), and the
# corpus-total scalar joins back via a broadcast cross of a 1-row frame.
# KL is finite here by construction: P_source's support is a subset of the
# corpus distribution's support.
# --------------------------------------------------------------------------
@query(
    "source_token_kl",
    oracle=f"""
    WITH c AS (
      SELECT source, word, COUNT(*) AS cnt
      FROM (SELECT source, unnest({_SQL_TOKS}) AS word FROM documents)
      GROUP BY source, word
    ), st AS (SELECT source, SUM(cnt) AS s_total FROM c GROUP BY source),
    tt AS (SELECT word, SUM(cnt) AS w_total FROM c GROUP BY word),
    g AS (SELECT SUM(cnt) AS g_total FROM c)
    SELECT c.source,
           CAST(st.s_total AS BIGINT) AS n_tokens,
           ROUND(SUM((c.cnt * 1.0 / st.s_total)
                     * ln((c.cnt * 1.0 / st.s_total)
                          / (tt.w_total * 1.0 / g.g_total))), 4) AS kl_nats
    FROM c
    JOIN st USING (source)
    JOIN tt USING (word)
    CROSS JOIN g
    GROUP BY c.source, st.s_total
    """,
)
def source_token_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = (
        _spread(spark, docs, "source", "text")
        .select("source", F.explode(tokens("text")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count("*").alias("cnt"))
    )
    st = c.groupBy("source").agg(F.sum("cnt").alias("s_total"))
    tt = c.groupBy("word").agg(F.sum("cnt").alias("w_total"))
    g = c.agg(F.sum("cnt").alias("g_total"))
    p = F.col("cnt") / F.col("s_total")
    q = F.col("w_total") / F.col("g_total")
    return (
        c.join(st, "source")
        .join(tt, "word")
        .crossJoin(F.broadcast(g))
        .groupBy("source", "s_total")
        .agg(F.round(F.sum(p * F.log(p / q)), 4).alias("kl_nats"))
        .select(
            "source",
            F.col("s_total").cast("long").alias("n_tokens"),
            "kl_nats",
        )
    )


_PROFILE_COLS = ("text", "lang", "source", "n_chars")


# --------------------------------------------------------------------------
# Corpus column profile: per-column row/null/exact-NDV counts — the data-
# quality sweep a pipeline runs before trusting a new corpus drop. One
# UNION branch per column rather than one multi-distinct aggregate: N
# COUNT(DISTINCT)s in a single agg force an Expand (every scan row
# duplicated N ways through the shuffle), while per-column branches each
# prune the parquet scan to THEIR column and run an ordinary two-phase
# distinct agg. For cheap repeated profiling at 100 TB, swap the exact NDV
# for approx_count_distinct (the HLL path approx_distinct_parts pins).
# --------------------------------------------------------------------------
@query(
    "corpus_column_profile",
    oracle="""
    SELECT 'text' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct
    FROM documents
    UNION ALL
    SELECT 'lang', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT lang) AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 'source', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT source) AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 'n_chars', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT n_chars) AS BIGINT)
    FROM documents
    """,
)
def corpus_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    parts = []
    for c in _PROFILE_COLS:
        parts.append(
            docs.select(c).agg(
                F.lit(c).alias("column_name"),
                F.count("*").alias("n_rows"),
                F.sum(F.col(c).isNull().cast("long")).alias("n_null"),
                F.countDistinct(c).alias("n_distinct"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# Fence multiplier. Tukey's convention is 1.5; the synthetic corpus's
# length distribution is tight enough that 1.5 flags nothing at any SF, so
# the fixture uses 0.5 to keep the operator's both branches exercised
# (19/23/148 outliers at sf0.001/0.01/0.1). Production tuning is this one
# constant.
IQR_K = 0.5


# --------------------------------------------------------------------------
# Per-language length-outlier filter (Tukey fences): docs outside
# [q1 - 1.5*IQR, q3 + 1.5*IQR] of their language's n_chars distribution —
# the robust-statistics version of the quality gate's fixed thresholds.
# Quartiles are computed per language (a GROUP-sized aggregate, exact
# interpolated percentile on both engines) and broadcast back onto the
# corpus scan; at 100 TB swap percentile for percentile_approx (the
# t-digest path price_percentiles_approx pins) and nothing else changes.
# --------------------------------------------------------------------------
@query(
    "doc_length_outliers",
    oracle=f"""
    WITH q AS (
      SELECT lang,
             quantile_cont(n_chars, 0.25) AS q1,
             quantile_cont(n_chars, 0.75) AS q3
      FROM documents GROUP BY lang
    )
    SELECT doc_id, d.lang, n_chars,
           CASE WHEN n_chars < q1 - {IQR_K} * (q3 - q1) THEN 'short'
                ELSE 'long' END AS outlier_side
    FROM documents d JOIN q ON d.lang = q.lang
    WHERE n_chars < q1 - {IQR_K} * (q3 - q1)
       OR n_chars > q3 + {IQR_K} * (q3 - q1)
    """,
)
def doc_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    q = docs.groupBy("lang").agg(
        F.percentile("n_chars", F.lit(0.25)).alias("q1"),
        F.percentile("n_chars", F.lit(0.75)).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    lo = F.col("q1") - IQR_K * iqr
    hi = F.col("q3") + IQR_K * iqr
    return (
        docs.join(q, "lang")
        .filter((F.col("n_chars") < lo) | (F.col("n_chars") > hi))
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.when(F.col("n_chars") < lo, F.lit("short"))
            .otherwise(F.lit("long"))
            .alias("outlier_side"),
        )
    )


# --------------------------------------------------------------------------
# Shingle novelty: per document, the share of its distinct 3-shingles whose
# FIRST appearance (min doc_id order) is this document — the "how much new
# text does this doc add" signal dedup-aware samplers weight by. Inverted-
# index shape again: explode distinct shingles, min-aggregate the first
# owner per shingle (shingle-keyed shuffle), join back, per-doc ratio.
# --------------------------------------------------------------------------
@query(
    "shingle_novelty",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
      FROM t WHERE len(toks) >= 3
    ),
    first_owner AS (SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s)
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(COUNT(*) FILTER (first_doc = sh.doc_id) AS BIGINT) AS n_novel,
           ROUND(COUNT(*) FILTER (first_doc = sh.doc_id) * 1.0 / COUNT(*), 4)
             AS novelty
    FROM sh JOIN first_owner USING (s)
    GROUP BY sh.doc_id
    """,
)
def shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parallel_mapreduce_spark.functions.dedup import shingles3

    docs = load_table(spark, sf_dir, "documents")
    sh = (
        _spread(spark, docs, "doc_id", "text")
        .select("doc_id", F.explode(shingles3(tokens("text"))).alias("s"))
    )
    first_owner = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    novel = (F.col("first_doc") == F.col("doc_id")).cast("long")
    return (
        sh.join(first_owner, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(novel).alias("n_novel"),
            F.round(F.sum(novel) / F.count("*"), 4).alias("novelty"),
        )
    )


# --------------------------------------------------------------------------
# Source vocabulary overlap matrix: pairwise Jaccard similarity between the
# sources' distinct-token sets — the corpus-mixing diagnostic for "are
# these crawls the same text". All frames after the distinct are
# VOCABULARY-sized: per-source set sizes (#sources rows), intersection via
# a token-keyed self-join of the distinct (source, token) pairs. Same
# inverted-index economics as the dedup family, one level up (sources
# instead of documents).
# --------------------------------------------------------------------------
@query(
    "source_vocab_overlap",
    oracle=f"""
    WITH st AS (
      SELECT DISTINCT source, unnest({_SQL_TOKS}) AS word FROM documents
    ),
    sz AS (SELECT source, COUNT(*) AS n FROM st GROUP BY source),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
      FROM st a JOIN st b ON a.word = b.word AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, n_common,
           ROUND(n_common * 1.0 / (sa.n + sb.n - n_common), 4) AS jaccard
    FROM inter
    JOIN sz sa ON src_a = sa.source
    JOIN sz sb ON src_b = sb.source
    """,
)
def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    st = (
        _spread(spark, docs, "source", "text")
        .select("source", F.explode(tokens("text")).alias("word"))
        .distinct()
    )
    sz = st.groupBy("source").agg(F.count("*").alias("n"))
    a, b = st.alias("a"), st.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sz.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                4,
            ).alias("jaccard"),
        )
    )


# WEIGHTED (multiset) Jaccard between sources (round 10) — the tf-aware
# twin of source_vocab_overlap: J_w = sum_w min(tf_a, tf_b) /
# sum_w max(tf_a, tf_b). Distinct-vocab Jaccard says two crawls share
# WORDS; weighted Jaccard says they share the same text MASS (a source
# that uses a shared vocabulary at wildly different frequencies scores
# high on vocab overlap and low here — the duplicated-crawl detector
# used by mixture tuning). The union term needs no outer join:
# sum max = tot_a + tot_b - sum min, so the only pair-grain frame is the
# inner token join, and every post-join frame is |sources|^2-bounded.
# All sums are integer token counts — the single divide is the only
# float op on either engine.
@query(
    "source_weighted_jaccard",
    oracle=f"""
    WITH tf AS (
      SELECT source, word, COUNT(*) AS tf
      FROM (SELECT source, unnest({_SQL_TOKS}) AS word FROM documents)
      GROUP BY 1, 2
    ),
    tot AS (SELECT source, SUM(tf) AS tot FROM tf GROUP BY 1),
    m AS (
      SELECT a.source AS src_a, b.source AS src_b,
             SUM(LEAST(a.tf, b.tf)) AS w_inter
      FROM tf a JOIN tf b ON a.word = b.word AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b,
           CAST(w_inter AS BIGINT) AS w_inter,
           CAST(ta.tot + tb.tot - w_inter AS BIGINT) AS w_union,
           ROUND(w_inter * 1.0 / (ta.tot + tb.tot - w_inter), 4)
             AS weighted_jaccard
    FROM m
    JOIN tot ta ON src_a = ta.source
    JOIN tot tb ON src_b = tb.source
    """,
)
def source_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src_a, src_b, w_inter, w_union, weighted_jaccard) for every
    source pair sharing at least one token: multiset Jaccard over
    (token -> tf) bags."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        _spread(spark, docs, "source", "text")
        .select("source", F.explode(tokens("text")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count("*").alias("tf"))
    )
    tot = tf.groupBy("source").agg(F.sum("tf").alias("tot"))
    a, b = tf.alias("a"), tf.alias("b")
    m = (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.sum(F.least(F.col("a.tf"), F.col("b.tf"))).alias("w_inter"))
    )
    ta = tot.select(F.col("source").alias("src_a"), F.col("tot").alias("ta"))
    tb = tot.select(F.col("source").alias("src_b"), F.col("tot").alias("tb"))
    w_union = F.col("ta") + F.col("tb") - F.col("w_inter")
    return (
        m.join(F.broadcast(ta), "src_a")
        .join(F.broadcast(tb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("w_inter").cast("long").alias("w_inter"),
            w_union.cast("long").alias("w_union"),
            F.round(F.col("w_inter") / w_union, 4).alias("weighted_jaccard"),
        )
    )


def _pr4(c: Column) -> Column:
    """Portable 4-decimal rounding: floor(x*1e4 + 0.5)/1e4 on BOTH engines.
    Spark round() and DuckDB ROUND() can split on half-ulp boundaries for
    freshly computed doubles at some scale factors; floor is floor
    everywhere (same idiom as events_dow_hod_profile / q2 shape)."""
    return F.floor(c * 10000 + F.lit(0.5)) / 10000


# DuckDB twin of _pr4 (wrap an SQL expression string).
def _sql_pr4(expr: str) -> str:
    return f"floor(({expr}) * 10000 + 0.5) / 10000"


# --------------------------------------------------------------------------
# Per-document lexical quality features: the feature vector a quality
# classifier (fastText/logistic filter a la CCNet/Gopher) consumes —
# token count, mean token length, type-token ratio, the share of the most
# frequent token (repetition/spam flag), and the hapax fraction of the
# vocabulary (low hapax = templated text). Everything is a per-row
# higher-order array expression — shuffle-FREE, whole-stage codegen; the
# nested occurrence counts run over the per-doc DISTINCT vocabulary, so
# cost is O(|vocab| * |tokens|) per doc, bounded by doc length, not
# corpus size. At 100 TB this is a pure map stage.
# --------------------------------------------------------------------------
@query(
    "doc_quality_features",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    f AS (
      SELECT doc_id, toks, len(toks) AS n, list_distinct(toks) AS d
      FROM t WHERE len(toks) >= 1
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           {_sql_pr4("list_sum(list_transform(toks, x -> len(x))) * 1.0 / n")}
             AS avg_tok_len,
           {_sql_pr4("len(d) * 1.0 / n")} AS ttr,
           {_sql_pr4("list_max(list_transform(d,"
                     " w -> len(list_filter(toks, x -> x = w)))) * 1.0 / n")}
             AS top_tok_share,
           {_sql_pr4("len(list_filter(d,"
                     " w -> len(list_filter(toks, x -> x = w)) = 1))"
                     " * 1.0 / len(d)")} AS hapax_frac
    FROM f
    """,
)
def doc_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = (
        _spread(spark, docs, "doc_id", "text")
        .select("doc_id", tokens("text").alias("toks"))
        .filter(F.size("toks") >= 1)
        .select(
            "doc_id",
            "toks",
            F.size("toks").alias("n"),
            F.array_distinct("toks").alias("d"),
        )
    )
    occ_counts = F.transform(
        "d", lambda w: F.size(F.filter(F.col("toks"), lambda x: x == w))
    )
    # One projection computes the occurrence-count array once; the three
    # features that consume it derive from the materialized column.
    t = t.withColumn("occ", occ_counts)
    return t.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        _pr4(
            F.aggregate(
                "toks", F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
            )
            * F.lit(1.0)
            / F.col("n")
        ).alias("avg_tok_len"),
        _pr4(F.size("d") * F.lit(1.0) / F.col("n")).alias("ttr"),
        _pr4(F.array_max("occ") * F.lit(1.0) / F.col("n")).alias("top_tok_share"),
        _pr4(
            F.size(F.filter("occ", lambda c: c == F.lit(1)))
            * F.lit(1.0)
            / F.size("d")
        ).alias("hapax_frac"),
    )


# --------------------------------------------------------------------------
# Per-source hapax statistics: vocabulary size, hapax legomena count and
# ratio per source — the vocabulary-health rollup (synthetic/templated
# sources show collapsed hapax mass). One (source, word) count shuffle;
# the per-source aggregation runs on vocab-sized data.
# --------------------------------------------------------------------------
@query(
    "hapax_ratio_by_source",
    oracle=f"""
    WITH c AS (
      SELECT source, word, COUNT(*) AS cnt
      FROM (SELECT source, unnest({_SQL_TOKS}) AS word FROM documents)
      GROUP BY source, word
    )
    SELECT source,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(COUNT(*) FILTER (cnt = 1) AS BIGINT) AS hapax,
           {_sql_pr4("COUNT(*) FILTER (cnt = 1) * 1.0 / COUNT(*)")}
             AS hapax_ratio
    FROM c GROUP BY source
    """,
)
def hapax_ratio_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = (
        _spread(spark, docs, "source", "text")
        .select("source", F.explode(tokens("text")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count("*").alias("cnt"))
    )
    is_hapax = (F.col("cnt") == 1).cast("long")
    return c.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count("*").alias("vocab"),
        F.sum(is_hapax).alias("hapax"),
        _pr4(F.sum(is_hapax) * F.lit(1.0) / F.count("*")).alias("hapax_ratio"),
    )


# --------------------------------------------------------------------------
# Token-length histogram: corpus-wide distribution of token lengths — the
# sanity check ahead of tokenizer/vocab decisions (a long tail of huge
# "tokens" flags concatenation bugs or binary junk). Pure map + one
# small-keyed count aggregation (as many groups as distinct lengths).
# --------------------------------------------------------------------------
@query(
    "token_length_histogram",
    oracle=f"""
    SELECT CAST(len(word) AS BIGINT) AS tok_len,
           COUNT(*) AS cnt
    FROM (SELECT unnest({_SQL_TOKS}) AS word FROM documents)
    GROUP BY 1
    """,
)
def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        _spread(spark, docs, "text")
        .select(F.explode(tokens("text")).alias("word"))
        .select(F.length("word").cast("long").alias("tok_len"))
        .groupBy("tok_len")
        .agg(F.count("*").alias("cnt"))
    )


# --------------------------------------------------------------------------
# Zipf slope PER SOURCE: the per-domain version of zipf_slope — rank the
# vocabulary within each source, least-squares ln(freq)~ln(rank) slope per
# source. The ranking window partitions by source over VOCAB-sized counts
# (never corpus rows), and regr_slope stays one partial-aggregable pass.
# --------------------------------------------------------------------------
@query(
    "zipf_slope_by_source",
    oracle=f"""
    WITH counts AS (
      SELECT source, word, COUNT(*) AS cnt
      FROM (SELECT source, unnest({_SQL_TOKS}) AS word FROM documents)
      GROUP BY source, word
    ), ranked AS (
      SELECT source, cnt,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY cnt DESC, word) AS rank
      FROM counts
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           ROUND(regr_slope(ln(cnt), ln(rank)), 4) AS slope
    FROM ranked GROUP BY source
    """,
)
def zipf_slope_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        _spread(spark, docs, "source", "text")
        .select("source", F.explode(tokens("text")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count("*").alias("cnt"))
    )
    ranked = counts.select(
        "source",
        "cnt",
        F.row_number()
        .over(W.partitionBy("source").orderBy(F.col("cnt").desc(), "word"))
        .alias("rank"),
    )
    return ranked.groupBy("source").agg(
        F.count("*").alias("n_terms"),
        F.round(F.regr_slope(F.log("cnt"), F.log("rank")), 4).alias("slope"),
    )


PMI_MIN_COUNT = 5  # collocation floor: pairs below this are noise
PMI_TOP_N = 30


# --------------------------------------------------------------------------
# Top PMI collocations: pointwise mutual information of adjacent token
# pairs, ln(p(a,b) / (p(a) p(b))), over pairs seen >= PMI_MIN_COUNT times —
# the standard collocation extractor (phrase mining ahead of tokenizer
# training). Shuffles: one token count, one bigram count (both vocab-ish
# sized after aggregation); the unigram table joins back to the bigram
# table twice on the word key, and the two corpus totals attach as
# broadcast one-row frames. Ranking happens on ROUND(pmi, 6) with a
# bigram tie-break so cross-engine ulp drift in ln() cannot reorder the
# cut (same stance as the ANN sim6 rankings).
# --------------------------------------------------------------------------
@query(
    "token_pmi_top_pairs",
    oracle=f"""
    WITH t AS (SELECT {_SQL_TOKS} AS toks FROM documents),
    uni AS (
      SELECT word, COUNT(*) AS cnt
      FROM (SELECT unnest(toks) AS word FROM t)
      GROUP BY word
    ),
    bi AS (
      SELECT w1, w2, COUNT(*) AS cnt
      FROM (
        SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
               unnest(list_transform(range(1, len(toks)), i -> toks[i + 1])) AS w2
        FROM t WHERE len(toks) >= 2
      )
      GROUP BY w1, w2
    ),
    nu AS (SELECT SUM(cnt) AS n_uni FROM uni),
    nb AS (SELECT SUM(cnt) AS n_bi FROM bi),
    scored AS (
      SELECT bi.w1 || ' ' || bi.w2 AS bigram,
             CAST(bi.cnt AS BIGINT) AS pair_count,
             ROUND(ln((bi.cnt * 1.0 / nb.n_bi)
                      / ((a.cnt * 1.0 / nu.n_uni) * (b.cnt * 1.0 / nu.n_uni))),
                   6) AS pmi6
      FROM bi
      JOIN uni a ON bi.w1 = a.word
      JOIN uni b ON bi.w2 = b.word
      CROSS JOIN nu CROSS JOIN nb
      WHERE bi.cnt >= {PMI_MIN_COUNT}
    )
    SELECT bigram, pair_count, ROUND(pmi6, 4) AS pmi
    FROM scored
    ORDER BY pmi6 DESC, bigram
    LIMIT {PMI_TOP_N}
    """,
)
def token_pmi_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = _spread(spark, docs, "doc_id", "text").select(
        tokens("text").alias("toks")
    )
    uni = (
        t.select(F.explode("toks").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    n = F.size("toks")
    cnt2 = F.greatest(n - 1, F.lit(0))
    pairs = t.filter(n >= 2).select(
        F.explode(
            F.zip_with(
                F.slice("toks", 1, cnt2),
                F.slice("toks", 2, cnt2),
                lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
            )
        ).alias("p")
    )
    bi = (
        pairs.select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= PMI_MIN_COUNT)
    )
    nu = uni.agg(F.sum("cnt").alias("n_uni"))
    nb_tot = (
        t.select(cnt2.cast("long").alias("c")).agg(F.sum("c").alias("n_bi"))
    )
    a = uni.select(F.col("word").alias("w1"), F.col("cnt").alias("cnt_a"))
    b = uni.select(F.col("word").alias("w2"), F.col("cnt").alias("cnt_b"))
    pmi = F.log(
        (F.col("cnt") * F.lit(1.0) / F.col("n_bi"))
        / (
            (F.col("cnt_a") * F.lit(1.0) / F.col("n_uni"))
            * (F.col("cnt_b") * F.lit(1.0) / F.col("n_uni"))
        )
    )
    scored = (
        bi.join(a, "w1")
        .join(b, "w2")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb_tot))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            F.col("cnt").cast("long").alias("pair_count"),
            F.round(pmi, 6).alias("pmi6"),
        )
    )
    return (
        scored.orderBy(F.col("pmi6").desc(), "bigram")
        .limit(PMI_TOP_N)
        .select("bigram", "pair_count", F.round("pmi6", 4).alias("pmi"))
    )


# --------------------------------------------------------------------------
# BPE-style pair statistics: the inner loop of byte-pair-encoding training
# is "count adjacent symbol pairs across the corpus, weighted by word
# frequency; merge the top pair". This computes that first merge step over
# the character alphabet: distinct words with counts (the word-count
# aggregate — BPE's standard preprocessing, so the corpus text is touched
# once), then each word explodes to its len-1 adjacent 2-char pairs and the
# weighted counts rank the merge candidates. The ranking window is a single
# partition, but its input is the distinct-PAIR frame — bounded by the
# alphabet squared, not the corpus — same bounded-input carve-out as
# events_type_share.
# --------------------------------------------------------------------------
BPE_TOP_PAIRS = 20


@query(
    "bpe_pair_merge_step",
    oracle=f"""
    WITH wc AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest({_SQL_TOKS}) AS word FROM documents)
      GROUP BY word
    ), pairs AS (
      SELECT unnest(list_transform(range(1, length(word)),
                                   i -> substr(word, i, 2))) AS pair,
             cnt
      FROM wc WHERE length(word) >= 2
    ), totals AS (
      SELECT pair, CAST(SUM(cnt) AS BIGINT) AS pair_count
      FROM pairs GROUP BY pair
    )
    SELECT pair, pair_count,
           CAST(ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair) AS INT)
             AS merge_rank
    FROM totals
    QUALIFY merge_rank <= {BPE_TOP_PAIRS}
    """,
)
def bpe_pair_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    wc = (
        token_df(spark, sf_dir)
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    pairs = wc.filter(F.length("word") >= 2).select(
        "cnt",
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " i -> substring(word, i, 2))"
            )
        ).alias("pair"),
    )
    totals = pairs.groupBy("pair").agg(
        F.sum("cnt").cast("long").alias("pair_count")
    )
    return top_k(
        totals,
        [],
        [F.desc("pair_count"), "pair"],
        BPE_TOP_PAIRS,
        rank="merge_rank",
    )


# --------------------------------------------------------------------------
# Count-min sketch, value-checked: unlike the HLL / t-digest queries (whose
# estimates are engine-specific, so the driver can only rows-check them),
# this sketch is built from the engine-portable hash — both engines
# construct the IDENTICAL d x w counter table, so the estimates themselves
# are value-checked. The query reports, for the corpus's top terms, the
# exact count next to the CMS estimate and the overestimate (which CMS
# guarantees is >= 0: every collision only inflates).
#
# Scale: the token stream aggregates once per hash row into (row, bucket)
# cells — the sketch is d*w cells TOTAL regardless of corpus size, which
# is the whole point: a heavy-hitter census over 100 TB of tokens reduces
# to a 4x1024 table plus a probe join. The probe set (top-K exact terms)
# is TakeOrdered + broadcast.
# --------------------------------------------------------------------------
CMS_DEPTH = 4
CMS_WIDTH = 1024
CMS_PROBE_K = 10


@query(
    "countmin_heavy_hitters",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_SQL_TOKS}) AS word FROM documents
    ), exact AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM tok GROUP BY word
    ), cells AS (
      SELECT r.r AS row_id,
             {phash60_sql("CAST(r.r AS VARCHAR) || ':' || word")}
               % {CMS_WIDTH} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cell
      FROM tok CROSS JOIN range({CMS_DEPTH}) r(r)
      GROUP BY 1, 2
    ), probes AS (
      SELECT word, exact_cnt FROM exact
      ORDER BY exact_cnt DESC, word LIMIT {CMS_PROBE_K}
    )
    SELECT p.word, p.exact_cnt,
           CAST(MIN(c.cell) AS BIGINT) AS cms_est,
           CAST(MIN(c.cell) - p.exact_cnt AS BIGINT) AS overestimate
    FROM probes p
    CROSS JOIN range({CMS_DEPTH}) r(r)
    JOIN cells c
      ON c.row_id = r.r
     AND c.bucket = {phash60_sql("CAST(r.r AS VARCHAR) || ':' || p.word")}
                    % {CMS_WIDTH}
    GROUP BY p.word, p.exact_cnt
    """,
)
def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # _spread BEFORE the explode: the 4x per-token md5 fan-out below is the
    # CPU-heavy stage, and the single-row-group testdata scan would
    # otherwise evaluate all of it in one task (measured 20s -> 1.3s on
    # the 10x probe corpus).
    tok = _spread(spark, docs, "doc_id", "text").select(
        F.explode(tokens("text")).alias("word")
    )
    rows = F.explode(
        F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))
    ).alias("row_id")
    hashed = tok.select("word", rows).select(
        "row_id",
        (
            phash60(F.concat_ws(":", F.col("row_id").cast("string"), F.col("word")))
            % CMS_WIDTH
        ).alias("bucket"),
    )
    cells = hashed.groupBy("row_id", "bucket").agg(
        F.count("*").alias("cell")
    )
    exact = tok.groupBy("word").agg(F.count("*").alias("exact_cnt"))
    probes = exact.orderBy(F.desc("exact_cnt"), "word").limit(CMS_PROBE_K)
    probe_cells = probes.select(
        "word",
        "exact_cnt",
        F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("row_id"),
    ).select(
        "word",
        "exact_cnt",
        "row_id",
        (
            phash60(F.concat_ws(":", F.col("row_id").cast("string"), F.col("word")))
            % CMS_WIDTH
        ).alias("bucket"),
    )
    return (
        probe_cells.join(F.broadcast(cells), ["row_id", "bucket"])
        .groupBy("word", "exact_cnt")
        .agg(
            F.min("cell").alias("cms_est"),
            (F.min("cell") - F.col("exact_cnt")).alias("overestimate"),
        )
    )


# --------------------------------------------------------------------------
# Bloom filter, value-checked (companion to countmin_heavy_hitters): built
# from the portable hash, so both engines derive the identical bit set and
# the membership verdicts — including which probes FALSE-POSITIVE — are
# value-checked, not rows-only. The filter is built over the words of 'en'
# documents; the probe set is every distinct corpus word; the output is
# each probe's true membership, filter verdict, and false-positive flag.
#
# Scale: the "bitset" is the distinct position table (at most m = 8192
# rows, broadcast); membership = probe-side explode of k positions + one
# broadcast join + count == k. A 100 TB build side reduces to <= m rows
# the moment it passes the distinct — the same reduction that makes the
# engine's runtime bloom-join pruning viable.
# --------------------------------------------------------------------------
BLOOM_M = 8192
BLOOM_K = 3


def _bloom_positions_sql(expr: str) -> str:
    """k hash positions of a word expression (DuckDB side)."""
    parts = []
    for j in range(BLOOM_K):
        inner = f"'b{j}:' || {expr}"
        parts.append(f"({phash60_sql(inner)} % {BLOOM_M})")
    return ", ".join(parts)


@query(
    "bloom_word_membership",
    oracle=f"""
    WITH build AS (
      SELECT DISTINCT unnest({_SQL_TOKS}) AS word
      FROM documents WHERE lang = 'en'
    ), bits AS (
      SELECT DISTINCT pos FROM build
      CROSS JOIN unnest([{_bloom_positions_sql("word")}]) t(pos)
    ), probes AS (
      SELECT DISTINCT unnest({_SQL_TOKS}) AS word FROM documents
    ), verdicts AS (
      SELECT p.word,
             CAST(COUNT(b.pos) AS BIGINT) AS n_hit
      FROM probes p
      CROSS JOIN unnest([{_bloom_positions_sql("p.word")}]) t(pos)
      LEFT JOIN bits b ON b.pos = t.pos
      GROUP BY p.word
    )
    SELECT v.word,
           v.n_hit = {BLOOM_K} AS bloom_member,
           bu.word IS NOT NULL AS true_member,
           (v.n_hit = {BLOOM_K} AND bu.word IS NULL) AS false_positive
    FROM verdicts v LEFT JOIN build bu ON bu.word = v.word
    """,
)
def bloom_word_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    build = (
        docs.filter(F.col("lang") == "en")
        .select(F.explode(tokens("text")).alias("word"))
        .distinct()
    )
    positions = F.array(
        *[
            phash60(
                F.concat_ws(
                    ":", F.concat(F.lit("b"), F.lit(str(j))), F.col("word")
                )
            )
            % BLOOM_M
            for j in range(BLOOM_K)
        ]
    )
    bits = build.select(F.explode(positions).alias("pos")).distinct()
    probes = docs.select(F.explode(tokens("text")).alias("word")).distinct()
    hits = (
        probes.select("word", F.explode(positions).alias("pos"))
        .join(F.broadcast(bits), "pos", "left_semi")
        .groupBy("word")
        .agg(F.count("*").alias("n_hit"))
    )
    verdicts = probes.join(hits, "word", "left").select(
        "word",
        (F.coalesce(F.col("n_hit"), F.lit(0)) == BLOOM_K).alias("bloom_member"),
    )
    truth = build.withColumn("true_member", F.lit(True))
    return verdicts.join(truth, "word", "left").select(
        "word",
        "bloom_member",
        F.coalesce(F.col("true_member"), F.lit(False)).alias("true_member"),
        (
            F.col("bloom_member")
            & ~F.coalesce(F.col("true_member"), F.lit(False))
        ).alias("false_positive"),
    )


# --------------------------------------------------------------------------
# Per-source token unigram ENTROPY (nats): the companion diagnostic to
# source_token_kl — KL measures drift from the corpus blend, entropy
# measures internal diversity (template/boilerplate farms sit far below
# natural text; near-random token soup sits near ln(vocab)). Same shape
# and scale posture as the KL query: ONE token-count shuffle keyed by
# (source, word); everything downstream is vocab-sized per source, and the
# -sum(p ln p) aggregate is partial (map-side combinable). Rounded to 4 dp
# on both engines so summation order can't flip the hash.
# --------------------------------------------------------------------------
@query(
    "source_token_entropy",
    oracle=f"""
    WITH c AS (
      SELECT source, word, COUNT(*) AS cnt
      FROM (SELECT source, unnest({_SQL_TOKS}) AS word FROM documents)
      GROUP BY source, word
    ), st AS (SELECT source, SUM(cnt) AS tot FROM c GROUP BY source)
    SELECT c.source,
           CAST(st.tot AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           ROUND(-SUM((cnt * 1.0 / tot) * ln(cnt * 1.0 / tot)), 4)
             AS entropy_nats
    FROM c JOIN st ON c.source = st.source
    GROUP BY c.source, st.tot
    """,
)
def source_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = (
        _spread(spark, docs, "source", "text")
        .select("source", F.explode(tokens("text")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count("*").alias("cnt"))
    )
    st = c.groupBy("source").agg(F.sum("cnt").alias("tot"))
    p = F.col("cnt") / F.col("tot")
    return (
        c.join(F.broadcast(st), "source")
        .groupBy("source", "tot")
        .agg(
            F.count("*").alias("vocab"),
            F.round(-F.sum(p * F.log(p)), 4).alias("entropy_nats"),
        )
        .select(
            "source",
            F.col("tot").cast("long").alias("n_tokens"),
            "vocab",
            "entropy_nats",
        )
    )


# --------------------------------------------------------------------------
# Tokenizer fertility by language: tokens emitted per input character —
# the standard multilingual-tokenizer health metric (a tokenizer trained
# on English over-segments other scripts; fertility quantifies the tax per
# language before a training run commits to a vocab). Integer sums only
# (token count, char count) with ONE final division, so the value is
# engine-order independent by construction. Shuffle carries |langs| rows.
# --------------------------------------------------------------------------
@query(
    "tokenizer_fertility_by_lang",
    oracle=f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(toks)) AS BIGINT) AS n_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           ROUND(CAST(SUM(len(toks)) AS BIGINT) * 1.0
                 / CAST(SUM(n_chars) AS BIGINT), 6) AS tokens_per_char
    FROM (SELECT lang, n_chars, {_SQL_TOKS} AS toks FROM documents)
    GROUP BY lang
    """,
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "lang", "n_chars", F.size(tokens("text")).cast("long").alias("n_toks")
    )
    return t.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
        F.sum("n_chars").alias("sum_chars"),
        F.round(F.sum("n_toks") * 1.0 / F.sum("n_chars"), 6).alias(
            "tokens_per_char"
        ),
    )


# --------------------------------------------------------------------------
# BM25 lexical retrieval: Okapi BM25 top-k over the document corpus for a
# fixed probe-query set — the sparse-retrieval complement to the dense
# cosine/ANN family (functions/similarity.py) and the scoring behind every
# Lucene/Elasticsearch-shaped corpus search. Lucene's idf form
# ln(1 + (N - df + 0.5)/(df + 0.5)) keeps idf positive for ubiquitous terms.
#
# Scale: the postings build is ONE (doc_id, term) count shuffle (tf) — the
# wordcount shape. Everything query-side is restricted FIRST: postings are
# equi-joined to the broadcast probe-term list before df counting or
# scoring, so the scored frame is |docs containing a probe term|, never
# corpus x queries; corpus stats (N, avgdl) cross in as one broadcast row.
# The top-k cut is hierarchical — per-(query, salt) partial rank, then the
# final rank over Q x salt x K survivors (the pipeline_chunk_index_search
# pattern) — so no window ever orders a corpus-sized partition. Scores are
# rounded to 4 dp BEFORE ranking with doc_id tie-breaks on BOTH engines:
# rank boundaries are value-pinned against summation-order drift.
# --------------------------------------------------------------------------
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 10
BM25_SALT = 16
BM25_QUERIES = [
    ("q1", "spark window merge"),
    ("q2", "customer filter join"),
    ("q3", "stream batch hash"),
]
_BM25_VALUES = ", ".join(f"('{q}', '{t}')" for q, t in BM25_QUERIES)


@query(
    "bm25_topk_docs",
    oracle=f"""
    WITH q AS (SELECT * FROM (VALUES {_BM25_VALUES}) v(qid, qtext)),
    qt AS (
      SELECT qid, unnest(list_distinct(
               list_filter(string_split(qtext, ' '), x -> x <> ''))) AS term
      FROM q
    ),
    t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t
          WHERE len(toks) > 0),
    p AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY 1, 2
    ),
    pq AS (SELECT p.* FROM p JOIN (SELECT DISTINCT term FROM qt) u
           ON p.term = u.term),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 ROUND(AVG(dl), 6) AS avgdl FROM d),
    dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS dfreq
            FROM pq GROUP BY term),
    sc AS (
      SELECT qt.qid, pq.doc_id,
             ROUND(SUM(
               ln(1 + (s.n_docs - dfq.dfreq + 0.5) / (dfq.dfreq + 0.5))
               * pq.tf * ({BM25_K1} + 1)
               / (pq.tf + {BM25_K1}
                  * (1 - {BM25_B} + {BM25_B} * d.dl / s.avgdl))), 4) AS score
      FROM pq
      JOIN qt ON pq.term = qt.term
      JOIN dfq ON pq.term = dfq.term
      JOIN d ON pq.doc_id = d.doc_id
      CROSS JOIN s
      GROUP BY 1, 2
    )
    SELECT qid, doc_id, score, CAST(rnk AS BIGINT) AS rnk FROM (
      SELECT qid, doc_id, score,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY score DESC, doc_id) AS rnk
      FROM sc
    ) WHERE rnk <= {BM25_TOP_K}
    """,
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    probes = spark.createDataFrame(BM25_QUERIES, "qid string, qtext string")
    qterms = probes.select(
        "qid", F.explode(F.array_distinct(tokens("qtext"))).alias("term")
    )
    uterms = qterms.select("term").distinct()

    t = _spread(spark, docs, "doc_id", "text").select(
        "doc_id", tokens("text").alias("toks")
    )
    d = t.select("doc_id", F.size("toks").cast("long").alias("dl")).filter(
        F.col("dl") > 0
    )
    # Restrict the token stream to probe terms BEFORE the tf aggregate
    # (broadcast equi-join below the groupBy): the postings shuffle carries
    # only probe-term occurrences, not the corpus's (doc, term) pairs — the
    # asymptotic difference between |corpus tokens| and |query-term hits|
    # at 100 TB. dl rides the exploded rows into the aggregate key, so the
    # scorer needs NO doc_id-keyed join back to a lengths table.
    pq = (
        t.select(
            "doc_id",
            F.size("toks").cast("long").alias("dl"),
            F.explode("toks").alias("term"),
        )
        .join(F.broadcast(uterms), "term")
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    s = d.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("dl"), 6).alias("avgdl"),
    )
    dfq = pq.groupBy("term").agg(F.count("*").cast("long").alias("dfreq"))

    idf = F.log(
        F.lit(1)
        + (F.col("n_docs") - F.col("dfreq") + 0.5) / (F.col("dfreq") + 0.5)
    )
    tf_part = (
        F.col("tf")
        * (BM25_K1 + 1)
        / (
            F.col("tf")
            + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    sc = (
        pq.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfq), "term")
        .crossJoin(F.broadcast(s))
        .groupBy("qid", "doc_id")
        .agg(F.round(F.sum(idf * tf_part), 4).alias("score"))
    )
    return top_k(
        sc,
        "qid",
        [F.col("score").desc(), "doc_id"],
        BM25_TOP_K,
        rank="rnk",
        salt=F.pmod(F.col("doc_id"), F.lit(BM25_SALT)),
    ).select("qid", "doc_id", "score", F.col("rnk").cast("long").alias("rnk"))


# --------------------------------------------------------------------------
# Intra-document repetition gate (round 6) — the published corpus-cleaning
# rule family this engine had not yet covered: Gopher/C4-style repetition
# filters drop documents whose content is dominated by repeated n-grams
# (boilerplate loops, scraped navigation, degenerate generations). This is
# orthogonal to the cross-document dedup family: a document can be globally
# unique yet internally degenerate. Two signals per doc, both pure count
# ratios so the oracle is exact:
#   - top2_share: occurrences of the most frequent word 2-gram over total
#     2-grams (Gopher's "fraction in most common n-gram", token-count form);
#   - dup3_frac: fraction of 3-gram instances whose 3-gram occurs more than
#     once in the doc (Gopher's "fraction in duplicated n-grams").
# Thresholds are corpus-calibrated (sf0.01 p90 for top2, any-dup for dup3)
# rather than Gopher's web-scale constants, so the gate splits this corpus
# non-trivially; at 100 TB the constants are config, not code. Per-doc work
# is array-local (narrow, post-_spread); the only shuffle is the per-source
# report aggregation.
# --------------------------------------------------------------------------
REP_TOP2_MAX = 0.085  # flag if most-common-2gram share exceeds this
_REP_G2 = "list_transform(generate_series(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1])"
_REP_G3 = (
    "list_transform(generate_series(1, len(toks)-2), "
    "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])"
)


def _trigrams_seq(toks: Column) -> Column:
    """Adjacent-token trigrams IN SEQUENCE (not distinct — repetition
    counting needs multiplicity; dedup.shingles3 deliberately dedups).
    Slice + zip_with idiom per the shingles3 lesson (indexed access in a
    transform lambda re-evaluates the tokenization per element)."""
    n = F.size(toks)
    cnt = F.greatest(n - 2, F.lit(0))
    ab = F.zip_with(
        F.slice(toks, 1, cnt),
        F.slice(toks, 2, cnt),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    abc = F.zip_with(
        ab, F.slice(toks, 3, cnt), lambda x, y: F.concat_ws(" ", x, y)
    )
    return F.when(n >= 3, abc).otherwise(F.array().cast("array<string>"))


def repetition_metrics(with_toks: DataFrame, *keep: str) -> DataFrame:
    """Per-doc repetition shares from a frame with a ``toks`` column (rows
    with <3 tokens are dropped — no 3-gram exists). Factored out so the
    golden tests can pin the metric semantics on handcrafted docs.

    Occurrence counts run over the distinct grams (array-local O(d*n) per
    doc — documents are a few hundred tokens, same budget as
    doc_quality_features); the two shares are exact small-int ratios, so
    both engines compute bit-identical doubles."""
    t = (
        with_toks.filter(F.size("toks") >= 3)
        .select(*keep, bigrams(F.col("toks")).alias("g2"),
                _trigrams_seq(F.col("toks")).alias("g3"))
    )
    occ2 = F.transform(
        F.array_distinct("g2"),
        lambda x: F.size(F.filter(F.col("g2"), lambda y: y == x)),
    )
    dup3_instances = F.aggregate(
        F.filter(
            F.transform(
                F.array_distinct("g3"),
                lambda x: F.size(F.filter(F.col("g3"), lambda y: y == x)),
            ),
            lambda c: c > F.lit(1),
        ),
        F.lit(0),
        lambda acc, c: acc + c,
    )
    return t.select(
        *keep,
        (F.array_max(occ2) * F.lit(1.0) / F.size("g2")).alias("top2_share"),
        (dup3_instances * F.lit(1.0) / F.size("g3")).alias("dup3_frac"),
    )


@query(
    "repetition_filter_report",
    oracle=f"""
    WITH t AS (
      SELECT source, {_SQL_TOKS} AS toks FROM documents
    ), f AS (
      SELECT source, toks FROM t WHERE len(toks) >= 3
    ), g AS (
      SELECT source, {_REP_G2} AS g2, {_REP_G3} AS g3 FROM f
    ), m AS (
      SELECT source,
             list_max(list_transform(list_distinct(g2),
                 x -> len(list_filter(g2, y -> y = x)))) * 1.0 / len(g2)
               AS top2_share,
             COALESCE(list_sum(list_filter(
                 list_transform(list_distinct(g3),
                     x -> len(list_filter(g3, y -> y = x))),
                 c -> c > 1)), 0) * 1.0 / len(g3) AS dup3_frac
      FROM g
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (top2_share > {REP_TOP2_MAX}) AS BIGINT)
             AS n_flag_top2,
           CAST(COUNT(*) FILTER (dup3_frac > 0) AS BIGINT) AS n_flag_dup3,
           CAST(COUNT(*) FILTER (top2_share <= {REP_TOP2_MAX} AND dup3_frac = 0)
             AS BIGINT) AS n_kept,
           {_sql_pr4("AVG(top2_share)")} AS mean_top2_share,
           {_sql_pr4("AVG(dup3_frac)")} AS mean_dup3_frac
    FROM m
    GROUP BY source
    """,
)
def repetition_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    m = repetition_metrics(
        _spread(spark, docs, "source", "text").select(
            "source", tokens("text").alias("toks")
        ),
        "source",
    )
    top2_flag = F.col("top2_share") > REP_TOP2_MAX
    dup3_flag = F.col("dup3_frac") > 0
    return m.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(top2_flag.cast("long")).alias("n_flag_top2"),
        F.sum(dup3_flag.cast("long")).alias("n_flag_dup3"),
        F.sum((~top2_flag & ~dup3_flag).cast("long")).alias("n_kept"),
        _pr4(F.avg("top2_share")).alias("mean_top2_share"),
        _pr4(F.avg("dup3_frac")).alias("mean_dup3_frac"),
    )


# --------------------------------------------------------------------------
# Count-Min Sketch frequent-tokens gate (round 6) — Spark's third sketch
# family (after HLL and the percentile digests), previously unexercised.
# CMS answers "how often does item X occur" in fixed memory with a
# ONE-SIDED error (never underestimates; overestimates by at most
# eps*N with probability >= confidence) and is MERGEABLE — per-shard
# sketches union into the global sketch, the property that makes it free
# at 100 TB (one small binary per partition crosses the wire, not the
# token stream). Same oracle stance as hll_sketch_mergeable_rollup: the
# sketch estimate itself is engine-specific, so the compared output is
# the EXACT top-K twin plus three oracle-pinned booleans — never_under
# (CMS's defining guarantee), within_eps (the error bound, deterministic
# here because the seed is fixed), and merge_equals_direct (per-source
# sketches merged give the same probe answers as the one-shot sketch).
# --------------------------------------------------------------------------
CMS_EPS = 0.0005
CMS_CONF = 0.99
CMS_SEED = 42
CMS_TOP_K = 15


@query(
    "frequent_tokens_cms",
    oracle=f"""
    WITH c AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest({_SQL_TOKS}) AS word FROM documents)
      GROUP BY word
    ), r AS (
      SELECT word, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rnk
      FROM c
    )
    SELECT word, cnt AS exact_cnt, CAST(rnk AS BIGINT) AS rnk,
           TRUE AS never_under, TRUE AS within_eps,
           TRUE AS merge_equals_direct
    FROM r WHERE rnk <= {CMS_TOP_K}
    """,
)
def frequent_tokens_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _spread(spark, docs, "source", "text").select(
        "source", F.explode(tokens("text")).alias("word")
    )
    cms_agg = F.count_min_sketch(
        "word", F.lit(CMS_EPS), F.lit(CMS_CONF), F.lit(CMS_SEED)
    )
    # Three jobs consume the token stream (per-source sketches, the
    # direct sketch + total, the exact top-K) — persist it once so the
    # scan+tokenize+explode work is paid once, not three times.
    toks = toks.persist()
    per_source = toks.groupBy("source").agg(cms_agg.alias("sk")).collect()
    direct_bytes, n_total = toks.agg(
        cms_agg.alias("sk"), F.count("*").alias("n")
    ).collect()[0]
    if not per_source or direct_bytes is None or n_total == 0:
        # Degenerate-input guard (round-7 advice, same stance as the
        # midpoint guard in cbo.py): an empty documents fixture — or one
        # whose texts tokenize to nothing — would otherwise surface as a
        # bare IndexError on per_source[0] in the driver. The sketch
        # comparison is meaningless without tokens; fail loudly and
        # early rather than emit an empty frame that would LOOK like a
        # passing zero-row oracle compare.
        toks.unpersist()
        raise AssertionError(
            "frequent_tokens_cms: documents yielded zero tokens "
            f"(per_source={len(per_source)} groups, n_total={n_total}) — "
            "CMS probe set is undefined on an empty corpus"
        )
    jvm = spark.sparkContext._jvm
    read_from = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom
    direct = read_from(bytes(direct_bytes))
    merged = read_from(bytes(per_source[0]["sk"]))
    for row in per_source[1:]:
        merged.mergeInPlace(read_from(bytes(row["sk"])))
    # Deterministic probe set: the exact top-K (count desc, word asc) —
    # identical in the oracle by construction; K rows to the driver.
    top = (
        toks.groupBy("word")
        .count()
        .orderBy(F.col("count").desc(), "word")
        .limit(CMS_TOP_K)
        .collect()
    )
    toks.unpersist()
    bound = CMS_EPS * n_total
    rows = []
    for rnk, r in enumerate(top, start=1):
        word, exact = r["word"], r["count"]
        est, est_m = direct.estimateCount(word), merged.estimateCount(word)
        rows.append(
            (
                word,
                exact,
                rnk,
                est >= exact,
                est <= exact + bound,
                est_m == est,
            )
        )
    return spark.createDataFrame(
        rows,
        "word string, exact_cnt bigint, rnk bigint, never_under boolean, "
        "within_eps boolean, merge_equals_direct boolean",
    )


# --------------------------------------------------------------------------
# approx_top_k frequent-tokens gate (round 7) — Spark 4.1's FOURTH sketch
# family: the DataSketches Frequent-Items sketch behind approx_top_k /
# approx_top_k_accumulate / _combine / _estimate. Complements CMS: CMS is
# a point-frequency estimator you probe with known items; FI *discovers*
# the heavy hitters and their counts in one fixed-memory pass, and its
# intermediate sketch state is a first-class SQL value (accumulate ->
# combine -> estimate), so per-shard sketches roll up exactly like the
# HLL/CMS binaries — the 100 TB contract again: one small state blob per
# partition crosses the wire, never the token stream.
#
# Oracle stance: the compared output is the EXACT top-K twin (count desc,
# word asc — deterministic) plus oracle-pinned booleans. The sketch's own
# item ORDER among equal counts is hash-arbitrary, so the booleans compare
# the RANK-ALIGNED SORTED COUNT sequences (a multiset comparison — tie-
# proof by construction) within the Misra-Gries error bound n/capacity:
# zero while the sketch never purges (capacity >= distinct tokens, true at
# every tested SF), and the documented estimation bound beyond.
# --------------------------------------------------------------------------
ATK_K = 10
ATK_CAP = 10_000  # maxItemsTracked; no-purge (exact) while distinct < cap


@query(
    "approx_topk_tokens",
    oracle=f"""
    WITH g AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest({_SQL_TOKS}) AS word FROM documents)
      GROUP BY word
    ), r AS (
      SELECT word, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rnk
      FROM g
    )
    SELECT word, cnt AS exact_cnt, CAST(rnk AS BIGINT) AS rnk,
           TRUE AS direct_within_bound, TRUE AS merged_within_bound
    FROM r WHERE rnk <= {ATK_K}
    """,
)
def approx_topk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-{ATK_K} tokens, each rank flagged with whether the direct
    approx_top_k sketch and the per-source accumulate->combine->estimate
    rollup land within the FI error bound at that rank (counts compared
    rank-aligned after sorting, so ties cannot flip the flags)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _spread(spark, docs, "source", "text").select(
        "source", F.explode(tokens("text")).alias("word")
    )
    # Three consumers of the token stream (direct sketch + total, the
    # per-source sketch rollup, the exact top-K) — pay the tokenize once.
    toks = toks.persist()
    direct_row = toks.agg(
        F.expr(f"approx_top_k(word, {ATK_K}, {ATK_CAP})").alias("t"),
        F.count("*").alias("n"),
        F.countDistinct("word").alias("nd"),
    ).collect()[0]
    direct, n_total = direct_row["t"], direct_row["n"]
    # No-purge precondition, asserted (not assumed): the TRUE-pinned
    # booleans below use the classic Misra-Gries bound n/capacity, but
    # Spark's approx_top_k is backed by the DataSketches Frequent-Items
    # sketch whose documented guarantee once it PURGES is looser
    # (~3.5*n/maxMapSize). While distinct < capacity the sketch never
    # purges and both bounds are zero/exact, so the pin is valid; a
    # corpus outside that regime must fail loudly here rather than flip
    # the oracle booleans spuriously.
    if direct_row["nd"] >= ATK_CAP:
        raise AssertionError(
            f"approx_topk_tokens: {direct_row['nd']} distinct tokens >= "
            f"maxItemsTracked {ATK_CAP} — the sketch purges in this "
            "regime and the Misra-Gries n//cap bound understates the "
            "DataSketches FI error (~3.5*n/maxMapSize); raise ATK_CAP "
            "or re-derive the bound from the sketch guarantee"
        )
    merged = (
        toks.groupBy("source")
        .agg(F.expr(f"approx_top_k_accumulate(word, {ATK_CAP})").alias("sk"))
        .agg(F.expr(f"approx_top_k_combine(sk, {ATK_CAP})").alias("m"))
        .selectExpr(f"approx_top_k_estimate(m, {ATK_K}) AS t")
        .collect()[0]["t"]
    )
    exact = (
        toks.groupBy("word")
        .count()
        .orderBy(F.col("count").desc(), "word")
        .limit(ATK_K)
        .collect()
    )
    toks.unpersist()
    if not exact or n_total == 0:
        raise AssertionError(
            "approx_topk_tokens: documents yielded zero tokens — the "
            "frequent-items probe set is undefined on an empty corpus"
        )
    bound = n_total // ATK_CAP  # Misra-Gries purge bound; 0 in exact regime
    d_counts = sorted((r["count"] for r in direct), reverse=True)
    m_counts = sorted((r["count"] for r in merged), reverse=True)
    rows = []
    for rnk, r in enumerate(exact, start=1):
        word, cnt = r["word"], r["count"]
        d_ok = rnk <= len(d_counts) and abs(d_counts[rnk - 1] - cnt) <= bound
        m_ok = rnk <= len(m_counts) and abs(m_counts[rnk - 1] - cnt) <= bound
        rows.append((word, cnt, rnk, d_ok, m_ok))
    return spark.createDataFrame(
        rows,
        "word string, exact_cnt bigint, rnk bigint, "
        "direct_within_bound boolean, merged_within_bound boolean",
    )


# --------------------------------------------------------------------------
# BPE training loop (round 7) — bpe_pair_merge_step above computes ONE
# pair census and stops; this is the actual tokenizer-TRAINING iteration:
# argmax pair -> APPLY the merge to every symbol sequence -> recount ->
# next merge, three rounds, entirely as one declarative plan on both
# engines (no driver-side argmax: each round's winning pair is a 1-row
# frame cross-joined back in, so the whole recurrence replays in the
# DuckDB oracle bit-for-bit — learned merges, their weighted counts, AND
# the shrinking corpus symbol total are all value-checked).
#
# Merge-application semantics: candidate pairs exclude self-pairs
# (a != b), which makes matches provably NON-OVERLAPPING — two adjacent
# matches would force a = b — so "replace left-to-right" degenerates to a
# purely LOCAL rule (merge at i where (s_i,s_{i+1}) = (a,b); drop i where
# (s_{i-1},s_i) = (a,b)) with no sequential scan, the property that lets
# the merge run as a JVM-side higher-order function instead of a Python
# UDF. (Real BPE implementations handle self-pairs with a left-to-right
# tiebreak; excluding them is a documented variant choice — sentencepiece
# reaches the same early merges on natural text, as here: "e r", "o r",
# "i n".)
#
# Scale: the corpus is touched ONCE (the word-count aggregate — BPE's
# standard preprocessing); everything after runs on the persisted
# vocabulary-bounded (word, cnt) frame, so 100 TB of text costs the same
# iteration work as 100 MB with the same vocabulary. Indexed element_at
# inside the transform lambda is the shingles3 O(n^2) carve-out: fine
# here because n = word length (~10), not document length.
# --------------------------------------------------------------------------
BPE_ROUNDS = 3

_BPE_MERGE_EXPR = """
filter(
  transform(sequence(1, size(s)), i ->
    CASE
      WHEN i < size(s) AND element_at(s, i) = a AND element_at(s, i + 1) = b
        THEN concat(element_at(s, i), element_at(s, i + 1))
      WHEN i > 1 AND element_at(s, i - 1) = a AND element_at(s, i) = b
        THEN NULL
      ELSE element_at(s, i)
    END),
  x -> x IS NOT NULL)
"""


def _bpe_oracle(rounds: int = BPE_ROUNDS) -> str:
    cte = [
        f"""wc AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest({_SQL_TOKS}) AS word FROM documents)
      GROUP BY word
    ), s0 AS (
      SELECT cnt, list_transform(range(1, length(word) + 1), i -> word[i]) AS s
      FROM wc
    )"""
    ]
    sel = []
    for r in range(1, rounds + 1):
        p = f"s{r - 1}"
        cte.append(
            f"""p{r} AS (
      SELECT s[i] AS a, s[i + 1] AS b, CAST(SUM(cnt) AS BIGINT) AS pair_count
      FROM (SELECT cnt, s, unnest(range(1, len(s))) AS i FROM {p})
      WHERE s[i] <> s[i + 1]
      GROUP BY 1, 2
    ), t{r} AS (
      SELECT a, b, pair_count FROM p{r} ORDER BY pair_count DESC, a, b LIMIT 1
    ), s{r} AS (
      SELECT cnt, list_filter(
        list_transform(range(1, len(s) + 1), i ->
          CASE
            WHEN i < len(s) AND s[i] = a AND s[i + 1] = b
              THEN s[i] || s[i + 1]
            WHEN i > 1 AND s[i - 1] = a AND s[i] = b
              THEN NULL
            ELSE s[i]
          END),
        x -> x IS NOT NULL) AS s
      FROM {p} CROSS JOIN t{r}
    )"""
        )
        sel.append(
            f"""SELECT {r} AS round,
      (SELECT a || ' ' || b FROM t{r}) AS pair,
      (SELECT pair_count FROM t{r}) AS pair_count,
      CAST((SELECT SUM(cnt * len(s)) FROM s{r}) AS BIGINT) AS symbols_after"""
        )
    return "WITH " + ",\n".join(cte) + "\n" + "\nUNION ALL\n".join(sel)


@query("bpe_train_3merges", headline=True, oracle=_bpe_oracle())
def bpe_train_3merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per training round: (round, pair, pair_count,
    symbols_after) — the learned merge, its frequency-weighted count, and
    the corpus symbol total after applying it."""
    wc = token_df(spark, sf_dir).groupBy("word").agg(F.count("*").alias("cnt"))
    # Vocabulary-bounded; MATERIALIZED so the corpus tokenize-and-count
    # runs once, not once per round-consumer (3 pair censuses + 3 stat
    # rows). Round-13 optimization: a lineage cut here and after each
    # merge keeps every round's census a one-scan job over the
    # vocabulary-bounded frame instead of a re-derivation chain the
    # engine must dedup via ReusedExchange (measured at sf0.1: 2.7-4.1s
    # -> 1.6-2.2s, identical rows). The vocabulary grows with the
    # corpus, so the cut gates on the documents table's bytes.
    syms = wc.select(
        "cnt",
        F.expr(
            "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
        ).alias("s"),
    )
    syms = cut(syms, sf_dir, "documents", eager=True)
    out = None
    for r in range(1, BPE_ROUNDS + 1):
        pairs = syms.select(
            "cnt",
            F.explode(
                F.zip_with(
                    F.slice("s", 1, F.size("s") - 1),
                    F.slice("s", 2, F.size("s") - 1),
                    lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                )
            ).alias("p"),
        ).filter(F.col("p.a") != F.col("p.b"))
        top = (
            pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("cnt").cast("long").alias("pair_count"))
            .orderBy(F.desc("pair_count"), "a", "b")
            .limit(1)
        )
        syms = syms.crossJoin(F.broadcast(top)).select(
            "cnt", F.expr(_BPE_MERGE_EXPR).alias("s")
        )
        syms = cut(syms, sf_dir, "documents", eager=True)
        stat = syms.agg(
            F.sum(F.col("cnt") * F.size("s")).cast("long").alias("symbols_after")
        )
        row = top.crossJoin(F.broadcast(stat)).select(
            F.lit(r).alias("round"),
            F.concat_ws(" ", "a", "b").alias("pair"),
            "pair_count",
            "symbols_after",
        )
        out = row if out is None else out.unionByName(row)
    return out


# --------------------------------------------------------------------------
# pyspark.ml feature-transformer parity (round 9) — the third leg of the
# MLlib cross-validation family (MinHashLSH: functions/dedup.py; BRP-LSH:
# functions/similarity.py): the transformers a real Spark user feeds an
# ML pipeline with must agree EXACTLY with the engine's portable text
# layer, or every downstream parity claim is built on sand.
#
#   - RegexTokenizer(pattern=" ", gaps, toLowercase=False,
#     minTokenLength=1) == tokens() (split on single spaces, drop empty
#     tokens) — exact array equality per document.
#   - NGram(n=3) over those tokens == the 3-shingle SEQUENCE; its
#     distinct set == shingles3() — exact set equality per document.
#
# Both claims are deterministic (no seeds), measured equal on every
# document at every SF. The per-source report carries the equality
# counts AND the token/shingle totals computed FROM THE MLLIB COLUMNS,
# so the oracle's portable-definition totals only hash-match if the
# transformers really produced identical arrays.
#
# Deliberately absent: HashingTF. Its term hash is murmur3-of-UTF8 with
# MLlib's own byte path, measured DISJOINT from Spark SQL's hash() on
# every document — not replayable in SQL on either engine, which is
# exactly why the portable phash60 discipline exists.
# --------------------------------------------------------------------------
@query(
    "mllib_feature_parity_report",
    oracle=f"""
    WITH t AS (
      SELECT source, doc_id, {_SQL_TOKS} AS toks FROM documents
    ),
    sh AS (
      SELECT source, doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct(list_transform(
                         range(1, len(toks) - 1),
                         i -> toks[i] || ' ' || toks[i + 1] || ' ' ||
                              toks[i + 2]))
                  ELSE [] END AS shg
      FROM t
    )
    SELECT t.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_tokenizer_equal,
           CAST(COUNT(*) AS BIGINT) AS n_ngram_equal,
           CAST(SUM(len(t.toks)) AS BIGINT) AS n_tokens,
           CAST(SUM(len(sh.shg)) AS BIGINT) AS n_shingles
    FROM t JOIN sh ON t.doc_id = sh.doc_id
    GROUP BY 1
    """,
)
def mllib_feature_parity_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(source, n_docs, n_tokenizer_equal, n_ngram_equal, n_tokens,
    n_shingles) — per-source proof that pyspark.ml's RegexTokenizer and
    NGram reproduce the portable tokens()/shingles3() layer exactly
    (the totals come from the MLlib columns; the oracle recomputes them
    from the portable definitions)."""
    from pyspark.ml.feature import NGram, RegexTokenizer

    from parallel_mapreduce_spark.functions.dedup import shingles3

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "text"
    )
    tokd = RegexTokenizer(
        inputCol="text",
        outputCol="ml_toks",
        pattern=" ",
        gaps=True,
        toLowercase=False,
        minTokenLength=1,
    ).transform(docs)
    ngrd = NGram(n=3, inputCol="ml_toks", outputCol="ml_ngrams").transform(
        tokd
    )
    per_doc = ngrd.select(
        "source",
        (F.col("ml_toks") == tokens("text")).alias("tok_eq"),
        (
            F.array_sort(F.array_distinct("ml_ngrams"))
            == F.array_sort(shingles3(tokens("text")))
        ).alias("ng_eq"),
        F.size("ml_toks").cast("long").alias("n_tok"),
        F.size(F.array_distinct("ml_ngrams")).cast("long").alias("n_shg"),
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("tok_eq").cast("long")).cast("long").alias(
            "n_tokenizer_equal"
        ),
        F.sum(F.col("ng_eq").cast("long")).cast("long").alias(
            "n_ngram_equal"
        ),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.sum("n_shg").cast("long").alias("n_shingles"),
    )
