"""Training-data preparation operators beyond dedup/similarity: the
curation steps an LLM pretraining pipeline runs between "raw corpus" and
"tokenized training examples".

The reference engine (cern1710/Parallel-MapReduce) has no analogue — its
only application is word count (src/main.c) — so this module is pure
extension surface, mandated alongside SURVEY.md §2's dedup/similarity/
multimodal/text families. Everything here is built-ins-only (JVM-side,
whole-stage codegen); every query has a full DuckDB value oracle.

Scale notes per operator are inline; the common theme: per-document maps
are shuffle-free, and the operators that do shuffle (contamination join,
vocab build, domain-mix rates) shuffle bucket keys / vocab-sized /
per-source-count data, never the corpus text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from parallel_mapreduce_spark.functions.dedup import shingles3
from parallel_mapreduce_spark.functions.portable import phash60, phash60_sql
from parallel_mapreduce_spark.functions.text import (
    _SQL_TOKS,
    _spread,
    bigrams,
    tokens,
)
from parallel_mapreduce_spark.operators.rank import top_k
from parallel_mapreduce_spark.registry import query
from parallel_mapreduce_spark.session import partition_count
from parallel_mapreduce_spark.sources import load_table

# DuckDB twin of text.bigrams(): 1-indexed range(1, len) -> len-1 bigrams.
_SQL_BIGRAMS = (
    "list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])"
)

REPETITION_FLAG_THRESHOLD = 0.2  # Gopher-style: flag docs > 20% repeated bigrams


# --------------------------------------------------------------------------
# Intra-document repetition (Gopher quality rule): the fraction of bigram
# occurrences that are repeats of an earlier bigram in the same document.
# High values mark boilerplate/spam/looped generations. No UDF; the bigram
# arrays never leave the projection. Collapse-first like the dedup family:
# identical texts have identical metrics, so the (interpreted higher-order)
# bigram expressions run once per DISTINCT text and the results expand back
# to members over a digest-keyed join — on the 10x replicated probe corpus
# (10 exact copies per text) that is 10x less expression work.
# --------------------------------------------------------------------------
@query(
    "repetition_bigram_ratio",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    b AS (SELECT doc_id, {_SQL_BIGRAMS} AS bgs FROM t WHERE len(toks) >= 2)
    SELECT doc_id,
           CAST(len(bgs) AS BIGINT) AS n_bigrams,
           CAST(len(list_distinct(bgs)) AS BIGINT) AS n_distinct,
           ROUND(1.0 - len(list_distinct(bgs)) * 1.0 / len(bgs), 4) AS dup_ratio,
           (1.0 - len(list_distinct(bgs)) * 1.0 / len(bgs))
               > {REPETITION_FLAG_THRESHOLD} AS flagged
    FROM b
    """,
)
def repetition_bigram_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parallel_mapreduce_spark.functions.dedup import (
        _rep_texts,
        exact_dup_members,
    )

    docs = load_table(spark, sf_dir, "documents")
    n_parts = partition_count(spark)
    bgs = bigrams(tokens("text"))
    # _rep_texts repartitions representatives across n_parts, so the heavy
    # expression also escapes the one-row-group single-task scan.
    rep_counts = (
        _rep_texts(docs, n_parts)
        .select("doc_id", bgs.alias("bgs"))
        .filter(F.size("bgs") >= 1)
        # Two scalars in ONE projection so array_distinct evaluates once per
        # row; ratio/flag derive from the scalars afterwards.
        .select(
            F.col("doc_id").alias("rep"),
            F.size("bgs").cast("long").alias("n_bigrams"),
            F.size(F.array_distinct("bgs")).cast("long").alias("n_distinct"),
        )
    )
    members = exact_dup_members(docs)
    counts = members.join(rep_counts, "rep").select(
        "doc_id", "n_bigrams", "n_distinct"
    )
    dup_ratio = F.lit(1.0) - F.col("n_distinct") / F.col("n_bigrams")
    return counts.select(
        "doc_id",
        "n_bigrams",
        "n_distinct",
        F.round(dup_ratio, 4).alias("dup_ratio"),
        (dup_ratio > REPETITION_FLAG_THRESHOLD).alias("flagged"),
    )


PACK_CAPACITY_TOKENS = 512
# Hierarchical-packing shard width: docs are range-sharded by doc_id
# (shard = doc_id div span) so the running sum inside a shard plus the
# broadcast sum of all earlier shards reconstructs the exact per-source
# prefix sum. Contiguous ranges (not hash) keep the (source, doc_id)
# order: every doc in shard k precedes every doc in shard k+1.
PACK_SHARD_SPAN = 4096


def _pack_prefix(t: DataFrame, span: int) -> DataFrame:
    """tokens-before-this-doc in (source, doc_id) order, hierarchically:
    (1) window prefix-sum within (source, shard) — thousands of bounded
    partitions even when one source is 90% of the corpus; (2) per-shard
    totals aggregated to a tiny (source, shard) frame; (3) base offset =
    running sum of earlier shard totals, computed on that tiny frame and
    broadcast-joined back. Two narrow passes + one broadcast join replace
    the per-source window whose biggest partition was the biggest source.
    Returns t plus a `before` column; exact same value as
    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ROWS
    UNBOUNDED PRECEDING AND 1 PRECEDING), so oracles need not know the
    shard span."""
    t = t.withColumn("_shard", (F.col("doc_id") / F.lit(span)).cast("long"))
    w_local = (
        W.partitionBy("source", "_shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    local_before = F.coalesce(F.sum("n_tokens").over(w_local), F.lit(0).cast("long"))
    shard_totals = t.groupBy("source", "_shard").agg(
        F.sum("n_tokens").alias("_shard_total")
    )
    w_base = (
        W.partitionBy("source").orderBy("_shard").rowsBetween(W.unboundedPreceding, -1)
    )
    bases = shard_totals.select(
        "source",
        "_shard",
        F.coalesce(F.sum("_shard_total").over(w_base), F.lit(0).cast("long")).alias(
            "_base"
        ),
    )
    return (
        t.withColumn("_local_before", local_before)
        .join(F.broadcast(bases), ["source", "_shard"])
        .withColumn("before", F.col("_base") + F.col("_local_before"))
        .drop("_shard", "_local_before", "_base")
    )


# --------------------------------------------------------------------------
# Sequence packing: assign documents to fixed-token-budget training examples
# ("packs") by contiguous fill in deterministic (source, doc_id) order —
# pack_id = tokens-before-this-doc div capacity. A doc may straddle a pack
# boundary; the tokenizer downstream splits it (standard contiguous packing,
# the shuffle-free alternative to bin-packing).
#
# Scale: the prefix sum is HIERARCHICAL (see _pack_prefix) — never a
# per-source window. A real corpus is source-skewed (one crawl source can
# be 90% of 100 TB), so PARTITION BY source alone would serialize that
# source through one sorted task; range shards of doc_id bound every
# window partition at ~PACK_SHARD_SPAN docs regardless of skew, and the
# per-shard base offsets are a broadcast-sized frame (|docs|/span rows).
# --------------------------------------------------------------------------
@query(
    "seq_pack_contiguous",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, source, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             // {PACK_CAPACITY_TOKENS} AS pack_id,
           CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             % {PACK_CAPACITY_TOKENS} AS tok_offset
    FROM t
    """,
)
def seq_pack_contiguous(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    return _pack_prefix(t, PACK_SHARD_SPAN).select(
        "doc_id",
        "source",
        "n_tokens",
        (F.col("before") / F.lit(PACK_CAPACITY_TOKENS)).cast("long").alias("pack_id"),
        (F.col("before") % PACK_CAPACITY_TOKENS).alias("tok_offset"),
    )


EVAL_SET_MOD = 97  # doc_id % 97 == 0 -> held-out "benchmark" docs


# --------------------------------------------------------------------------
# Benchmark decontamination: find training docs sharing 3-token shingles
# with a held-out eval set (here: doc_id % 97 == 0 stands in for the
# benchmark corpus). The standard n-gram contamination check (GPT-3 appendix
# C / PaLM style), as an inverted-index equi-join on the shingle — identical
# shape to the near-dup index, so the same scale argument: candidate pairs
# come from bucket joins, never an all-pairs product, and the eval side of
# the join is tiny (the benchmark), so AQE broadcasts it.
# --------------------------------------------------------------------------
@query(
    "contamination_shingle_overlap",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
      FROM t WHERE len(toks) >= 3
    ),
    ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % {EVAL_SET_MOD} = 0)
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_contaminated_shingles
    FROM sh JOIN ev USING (s)
    WHERE sh.doc_id % {EVAL_SET_MOD} <> 0
    GROUP BY sh.doc_id
    """,
)
def contamination_shingle_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_parts = partition_count(spark)
    # Repartition ahead of the interpreted shingle expression + explode
    # (single-row-group scan would serialize it on one core).
    sh = (
        docs.select("doc_id", "text")
        .repartition(n_parts, "doc_id")
        .select("doc_id", F.explode(shingles3(tokens("text"))).alias("s"))
    )
    ev = sh.filter(F.col("doc_id") % EVAL_SET_MOD == 0).select("s").distinct()
    return (
        sh.filter(F.col("doc_id") % EVAL_SET_MOD != 0)
        .join(ev, "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated_shingles"))
    )


# Redaction patterns: identical semantics under Java regex (Spark) and RE2
# (DuckDB) — character classes, bounded repetition, and \\b only.
PII_EMAIL = "[a-zA-Z0-9._]+@[a-zA-Z0-9.]+"
PII_NUMBER = "[0-9]{4,}"
PII_TERMS = ["customer", "supplier"]  # denylist stand-in for name lists


# --------------------------------------------------------------------------
# PII redaction: replace emails / long digit runs / denylisted terms with
# typed placeholder tokens, reporting per-doc hit counts. The synthetic
# corpus has no emails or digit runs (the regex plumbing still runs; the
# denylist terms do fire), so hit counts prove which patterns matched.
# Per-doc map — shuffle-free, all JVM regex, no UDF.
# --------------------------------------------------------------------------
_TERM_PAT = "\\b(" + "|".join(PII_TERMS) + ")\\b"


@query(
    "pii_redact",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{PII_EMAIL}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(text, '{PII_NUMBER}')) AS BIGINT) AS n_number,
           CAST(len(regexp_extract_all(text, '{_TERM_PAT}')) AS BIGINT) AS n_term,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
               '{PII_EMAIL}', '<EMAIL>', 'g'),
               '{PII_NUMBER}', '<NUM>', 'g'),
               '{_TERM_PAT}', '<TERM>', 'g')) AS redacted_hash
    FROM documents
    """,
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_parts = partition_count(spark)
    # Spread the regex-heavy projection across cores (single-row-group scan
    # would otherwise run it on one task; 10x probe: 3.1s -> ~0.5s).
    docs = docs.select("doc_id", "text").repartition(n_parts, "doc_id")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", PII_EMAIL, "<EMAIL>"),
            PII_NUMBER,
            "<NUM>",
        ),
        _TERM_PAT,
        "<TERM>",
    )
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit(PII_EMAIL)).cast("long").alias("n_email"),
        F.regexp_count("text", F.lit(PII_NUMBER)).cast("long").alias("n_number"),
        F.regexp_count("text", F.lit(_TERM_PAT)).cast("long").alias("n_term"),
        F.md5(redacted).alias("redacted_hash"),
    )


VOCAB_MIN_COUNT = 3


# --------------------------------------------------------------------------
# Vocabulary construction: tokens above a frequency floor, with stable
# contiguous ids assigned by (count desc, token asc). The corpus-sized work
# (tokenize + count) is fully parallel; the id assignment runs on the VOCAB
# — which at web scale is still 10^8–10^9 distinct tokens, so it is ranked
# HIERARCHICALLY (operators/rank.global_row_number: range-partition on the
# sort key, rank within bounded shards, broadcast shard bases), never as a
# single-partition global window. Oracle unchanged: identical value.
# --------------------------------------------------------------------------
@query(
    "vocab_min_count",
    oracle=f"""
    WITH c AS (
      SELECT unnest({_SQL_TOKS}) AS token FROM documents
    ), v AS (
      SELECT token, COUNT(*) AS cnt FROM c GROUP BY token
      HAVING COUNT(*) >= {VOCAB_MIN_COUNT}
    )
    SELECT token, CAST(cnt AS BIGINT) AS cnt,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) - 1 AS BIGINT)
             AS token_id
    FROM v
    """,
)
def vocab_min_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parallel_mapreduce_spark.operators.rank import global_row_number

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= VOCAB_MIN_COUNT)
    )
    # (cnt desc, token) is total — token is unique — so the hierarchical
    # rank is exactly ROW_NUMBER() OVER (ORDER BY cnt DESC, token).
    ranked = global_row_number(
        counts, [F.desc("cnt"), F.asc("token")], out="_rank"
    )
    return ranked.select(
        "token", "cnt", (F.col("_rank") - 1).cast("long").alias("token_id")
    )


# --------------------------------------------------------------------------
# Embedding scalar quantization (int8): per-vector max-abs scaling, the
# storage/bandwidth step ahead of ANN serving. round-half-up via
# floor(x + 0.5) on BOTH engines (Spark round() and DuckDB round() disagree
# on ties for some types; floor is floor everywhere). Per-row map over the
# embedding array — shuffle-free, JVM higher-order functions only.
# --------------------------------------------------------------------------
@query(
    "embedding_quantize",
    oracle="""
    WITH t AS (
      SELECT vec_id,
             greatest(list_max(list_transform(embedding, x -> abs(x))),
                      1e-30) AS scale
      FROM embeddings
    )
    SELECT t.vec_id,
           ROUND(CAST(scale AS DOUBLE), 6) AS scale_r,
           list_aggregate(
             list_transform(e.embedding,
               x -> CAST(CAST(floor(x * 127.0 / scale + 0.5) AS BIGINT)
                         AS VARCHAR)),
             'string_agg', ',') AS q_csv
    FROM t JOIN embeddings e USING (vec_id)
    """,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # greatest(., eps): an all-zero vector would otherwise quantize to NaN
    # (0/0) — same guard as ann_sq_topk, mirrored literally in the oracle.
    scale = F.greatest(
        F.array_max(F.transform("embedding", lambda x: F.abs(x))), F.lit(1e-30)
    )
    with_scale = emb.select("vec_id", "embedding", scale.alias("scale"))
    q = F.transform(
        "embedding",
        lambda x: F.floor(x * 127.0 / F.col("scale") + 0.5).cast("long").cast("string"),
    )
    return with_scale.select(
        "vec_id",
        F.round(F.col("scale").cast("double"), 6).alias("scale_r"),
        F.array_join(q, ",").alias("q_csv"),
    )


MIX_DENOM = 1_000_000


# --------------------------------------------------------------------------
# Domain-mixture rebalancing: downsample over-represented languages to a
# UNIFORM target mix, with rates computed FROM the data (unlike
# stratified_sample_docs' fixed fractions). Per-language acceptance
# threshold = min(1, fair_share / actual_share), applied as the same
# deterministic content-hash Bernoulli — reproducible across engines,
# partitionings, and task retries. Thresholds use pure integer arithmetic
# ((total * DENOM) div (n_langs * cnt)) so Spark and DuckDB agree bit-for-
# bit. Plan shape: the rate table is one row per language (tiny — broadcast
# back to the corpus); the corpus itself is never shuffled, only scanned,
# counted (map-side combined), and filtered.
# --------------------------------------------------------------------------
@query(
    "domain_rebalance",
    oracle=f"""
    WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
    t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total,
                 CAST(COUNT(*) AS BIGINT) AS n_src
          FROM c),
    r AS (SELECT lang,
                 LEAST({MIX_DENOM},
                       (total * {MIX_DENOM}) // (n_src * cnt)) AS thr
          FROM c, t)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN r USING (lang)
    WHERE {phash60_sql("'mix:' || doc_id::VARCHAR")} % {MIX_DENOM} < thr
    """,
)
def domain_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(F.count("*").alias("cnt"))
    t = c.agg(
        F.sum("cnt").cast("long").alias("total"),
        F.count("*").cast("long").alias("n_src"),
    )
    r = c.crossJoin(F.broadcast(t)).select(
        "lang",
        F.least(
            F.lit(MIX_DENOM).cast("long"),
            F.expr(f"(total * {MIX_DENOM}) div (n_src * cnt)"),
        ).alias("thr"),
    )
    bucket = phash60(
        F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))
    ) % MIX_DENOM
    return (
        docs.join(F.broadcast(r), "lang")
        .filter(bucket < F.col("thr"))
        .select("doc_id", "lang")
    )


# --------------------------------------------------------------------------
# Unigram log-probability quality score (perplexity proxy, CCNet-style):
# score(doc) = mean ln p(token) under the corpus's own unigram model.
# Low (very negative) scores mark documents of rare/garbage tokens; high
# scores mark stereotyped text. The language-model table is built FROM the
# corpus in the same plan (self-referential statistic — the corpus is
# necessarily scanned twice: once to count, once to score).
#
# Scale: the frequency table is vocab-sized (orders below the corpus) and
# joins the exploded token stream on the token key — AQE broadcasts it
# while it fits, shuffles otherwise; the global total is a broadcast 1-row
# aggregate of the vocab frame, never a driver collect.
# --------------------------------------------------------------------------
@query(
    "unigram_logprob_score",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS token FROM documents
    ),
    freq AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM freq)
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(ln(f.cnt * 1.0 / tot.n)), 4) AS mean_logprob
    FROM tok t JOIN freq f USING (token), tot
    GROUP BY t.doc_id
    """,
)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_parts = partition_count(spark)
    # Repartition ahead of the tokenize+explode (single-row-group scans would
    # run the whole token stream's partial aggregation on one task).
    tok = (
        docs.select("doc_id", "text")
        .repartition(n_parts, "doc_id")
        .select("doc_id", F.explode(tokens("text")).alias("token"))
    )
    freq = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    tot = freq.agg(F.sum("cnt").cast("long").alias("n"))
    return (
        tok.join(freq, "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.avg(F.log(F.col("cnt") * 1.0 / F.col("n"))), 4
            ).alias("mean_logprob"),
        )
    )


# --------------------------------------------------------------------------
# Boilerplate span detection (CCNet / RefinedWeb style, adapted): web
# curation removes lines repeated across many pages; this corpus has no
# line structure (single-line documents), so the repetition unit is the
# 3-token shingle — a span whose corpus document frequency reaches
# BOILERPLATE_DF_MIN is boilerplate, and each document reports what
# fraction of its distinct spans are boilerplate. Two shuffles, both keyed
# by the shingle / doc_id — never text: the DF aggregation map-side
# combines, and the flagged-span set (df >= min) is small relative to the
# span universe, so AQE broadcasts the join back. On a duplicate-heavy
# corpus run this post-exact-dedup (or collapse-first with member-count
# weights, as dedup.py does) so identical pages don't vote their spans
# into boilerplate many times over.
# --------------------------------------------------------------------------
BOILERPLATE_DF_MIN = 4  # span appears in >= 4 docs -> boilerplate
BOILERPLATE_FLAG_RATIO = 0.10  # doc > 10% boilerplate spans -> flagged


def boilerplate_coverage(
    docs: DataFrame,
    n_parts: int,
    df_min: int = BOILERPLATE_DF_MIN,
    flag_ratio: float = BOILERPLATE_FLAG_RATIO,
) -> DataFrame:
    """Core of boilerplate_shingle_coverage over any (doc_id, text) frame."""
    sh = (
        docs.select("doc_id", "text")
        .repartition(n_parts, "doc_id")
        .select("doc_id", F.explode(shingles3(tokens("text"))).alias("s"))
    )
    boiler = (
        sh.groupBy("s")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= df_min)
        .select("s", F.lit(1).alias("_b"))
    )
    # One pass over the span stream for the per-doc stats: left-join the
    # (small) boilerplate set as a flag, then a single doc-keyed aggregation
    # counts total and flagged spans together — no second aggregation or
    # doc-level join, and the span stream is computed twice total (once for
    # the DF census, once here), not three times.
    ratio = F.col("_nb") / F.col("n_spans")
    return (
        sh.join(boiler, "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.count("_b").alias("_nb"),
        )
        .select(
            "doc_id",
            "n_spans",
            F.col("_nb").alias("n_boilerplate"),
            F.round(ratio, 4).alias("boilerplate_ratio"),
            (ratio > flag_ratio).alias("flagged"),
        )
    )


@query(
    "boilerplate_shingle_coverage",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
      FROM t WHERE len(toks) >= 3
    ),
    df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
    tot AS (SELECT doc_id, COUNT(*) AS n_spans FROM sh GROUP BY doc_id),
    nb AS (
      SELECT sh.doc_id, COUNT(*) AS n_boilerplate
      FROM sh JOIN df USING (s)
      WHERE df.df >= {BOILERPLATE_DF_MIN}
      GROUP BY sh.doc_id
    )
    SELECT tot.doc_id,
           CAST(n_spans AS BIGINT) AS n_spans,
           CAST(COALESCE(nb.n_boilerplate, 0) AS BIGINT) AS n_boilerplate,
           ROUND(COALESCE(nb.n_boilerplate, 0) * 1.0 / n_spans, 4)
               AS boilerplate_ratio,
           COALESCE(nb.n_boilerplate, 0) * 1.0 / n_spans
               > {BOILERPLATE_FLAG_RATIO} AS flagged
    FROM tot LEFT JOIN nb USING (doc_id)
    """,
    headline=True,
)
def boilerplate_shingle_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_parts = partition_count(spark)
    return boilerplate_coverage(docs, n_parts)


# --------------------------------------------------------------------------
# Incremental ingest dedup: the continuous-crawl shape — dedup a NEW batch
# against the already-ingested corpus, then within itself, emitting one
# decision per batch document: 'ingest', 'dup_of_corpus', or 'dup_in_batch'
# (keep = min doc_id). The corpus is doc_id % 10 < 8; the batch is the
# remaining slice plus two deterministic "re-crawl" copies (originals
# re-keyed at +10M / +20M) so every decision branch fires at every SF — the
# shipped small-SF corpora contain no organic exact copies.
#
# Every shuffle carries (md5, length) digests and ids only, never text; the
# corpus side collapses to a distinct digest set before the joins. At 100 TB
# the corpus side is a maintained digest index (the output of previous
# ingests), not a rescan — the batch-vs-index anti-join shape is identical.
# --------------------------------------------------------------------------
RECRAWL_A_MOD = 40  # originals live in the corpus slice -> dup_of_corpus
RECRAWL_B_MOD = 50  # originals (=9 mod 50) live in the batch -> dup_in_batch
RECRAWL_A_OFFSET = 10_000_000
RECRAWL_B_OFFSET = 20_000_000


def ingest_decisions(batch: DataFrame, corpus: DataFrame) -> DataFrame:
    """Core of incremental_dedup_ingest: one (doc_id, decision) row per
    batch document, deduping against the corpus digests then within the
    batch (keep = min doc_id). Both inputs are (doc_id, text) frames.

    One linear pipeline, everything keyed by the (md5, length) digest: the
    corpus tag is one left join, and the within-batch keeper is a
    conditional window MIN over the SAME digest partitioning — no second
    consumer of the joined frame, so the plan scans batch and corpus once
    each and shuffles each once (a groupBy-and-rejoin formulation
    duplicates the whole join subtree, and the semi/anti/union one scanned
    the batch four times). The window partition is one digest group —
    bounded by the copy count of a single text, so no skew hazard. The
    corpus side stays a digest set — at 100 TB it is the maintained index
    from prior ingests, and it is NOT force-broadcast (it scales with the
    corpus; AQE picks the join strategy)."""
    b = batch.select(
        "doc_id", F.md5("text").alias("_k"), F.length("text").alias("_l")
    )
    c = (
        corpus.select(F.md5("text").alias("_k"), F.length("text").alias("_l"))
        .distinct()
        .select("_k", "_l", F.lit(1).alias("_in"))
    )
    keep = F.min(
        F.when(F.col("_in").isNull(), F.col("doc_id"))
    ).over(W.partitionBy("_k", "_l"))
    return (
        b.join(c, ["_k", "_l"], "left")
        .withColumn("_keep", keep)
        .select(
            "doc_id",
            F.when(F.col("_in").isNotNull(), F.lit("dup_of_corpus"))
            .when(F.col("doc_id") == F.col("_keep"), F.lit("ingest"))
            .otherwise(F.lit("dup_in_batch"))
            .alias("decision"),
        )
    )


@query(
    "incremental_dedup_ingest",
    oracle=f"""
    WITH batch AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 8
      UNION ALL
      SELECT doc_id + {RECRAWL_A_OFFSET}, text FROM documents
      WHERE doc_id % {RECRAWL_A_MOD} = 0
      UNION ALL
      SELECT doc_id + {RECRAWL_B_OFFSET}, text FROM documents
      WHERE doc_id % {RECRAWL_B_MOD} = 9
    ),
    b AS (SELECT doc_id, md5(text) AS k, len(text) AS l FROM batch),
    corpus AS (
      SELECT DISTINCT md5(text) AS k, len(text) AS l FROM documents
      WHERE doc_id % 10 < 8
    ),
    tagged AS (
      SELECT b.doc_id, b.k, b.l, (corpus.k IS NOT NULL) AS in_corpus
      FROM b LEFT JOIN corpus ON b.k = corpus.k AND b.l = corpus.l
    ),
    keep AS (
      SELECT k, l, MIN(doc_id) AS keep_id FROM tagged
      WHERE NOT in_corpus GROUP BY k, l
    )
    SELECT t.doc_id,
           CASE WHEN t.in_corpus THEN 'dup_of_corpus'
                WHEN t.doc_id = keep.keep_id THEN 'ingest'
                ELSE 'dup_in_batch' END AS decision
    FROM tagged t LEFT JOIN keep ON t.k = keep.k AND t.l = keep.l
    """,
)
def incremental_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text")
    batch = (
        base.filter(F.col("doc_id") % 10 >= 8)
        .unionByName(
            base.filter(F.col("doc_id") % RECRAWL_A_MOD == 0).select(
                (F.col("doc_id") + RECRAWL_A_OFFSET).alias("doc_id"), "text"
            )
        )
        .unionByName(
            base.filter(F.col("doc_id") % RECRAWL_B_MOD == 9).select(
                (F.col("doc_id") + RECRAWL_B_OFFSET).alias("doc_id"), "text"
            )
        )
    )
    corpus = base.filter(F.col("doc_id") % 10 < 8)
    return ingest_decisions(batch, corpus)


# --------------------------------------------------------------------------
# Bloom-gated incremental dedup (round 10) — the SCALE path for the ingest
# decision incremental_dedup_ingest makes with an exact anti-join: build a
# Bloom filter over the base corpus's text digests, gate the new batch on
# it, and run the exact-verify join ONLY on the bloom-positive slice. A
# bloom miss is a mathematical no ("no false negatives": every inserted
# digest sets all its k bits), so bloom-negative docs ingest with ZERO
# join work — at 100 TB the corpus-vs-batch shuffle shrinks to
# (dup_rate + fp_rate) of the batch, which is why Dolma/CCNet ship
# exactly this gate. Same portable-hash bloom as bloom_word_membership
# (both engines derive the identical bit set), so n_false_positive is
# VALUE-CHECKED, not estimated; the no_false_negatives boolean is
# measured (the bloom-negative slice is exact-joined too — the gate's
# correctness audit, not the ship path) and pinned by the math.
# TWO filters ship side by side because sizing IS the operator's real
# lesson: BLOOMD_M_SMALL is deliberately undersized (it saturates at the
# 10x corpus — measured fp 2/4/837 of ~113/113/1125 batch docs across the
# three SFs) while BLOOMD_M_SIZED carries ~29 bits/key at the largest
# test corpus and holds fp at/near zero everywhere. Both verdict columns
# are value-checked; a user reading the report sees exactly what an
# m/n mis-size costs before shipping one filter to a 100 TB ingest.
# --------------------------------------------------------------------------
BLOOMD_M_SMALL = 4096
BLOOMD_M_SIZED = 131072
BLOOMD_K = 3


def _bloomd_positions_sql(expr: str, m: int) -> str:
    parts = []
    for j in range(BLOOMD_K):
        inner = f"'d{j}:' || {expr}"
        parts.append(f"({phash60_sql(inner)} % {m})")
    return ", ".join(parts)


def _bloomd_positions(col, m: int) -> "F.Column":
    return F.array(
        *[
            phash60(F.concat(F.lit(f"d{j}:"), col)) % m
            for j in range(BLOOMD_K)
        ]
    )


@query(
    "bloom_incremental_dedup",
    oracle=f"""
    WITH corpus AS (
      SELECT DISTINCT md5(text) AS k FROM documents WHERE doc_id % 10 < 8
    ),
    bits_s AS (
      SELECT DISTINCT pos FROM corpus
      CROSS JOIN unnest([{_bloomd_positions_sql("k", BLOOMD_M_SMALL)}]) t(pos)
    ),
    bits_z AS (
      SELECT DISTINCT pos FROM corpus
      CROSS JOIN unnest([{_bloomd_positions_sql("k", BLOOMD_M_SIZED)}]) t(pos)
    ),
    batch AS (
      SELECT doc_id, md5(text) AS k FROM documents WHERE doc_id % 10 >= 8
      UNION ALL
      SELECT doc_id + {RECRAWL_A_OFFSET}, md5(text) FROM documents
      WHERE doc_id % {RECRAWL_A_MOD} = 0
    ),
    verdicts AS (
      SELECT b.doc_id, b.k,
             (SELECT COUNT(*)
              FROM unnest([{_bloomd_positions_sql("b.k", BLOOMD_M_SMALL)}])
                t(pos) JOIN bits_s USING (pos)) = {BLOOMD_K} AS pos_small,
             (SELECT COUNT(*)
              FROM unnest([{_bloomd_positions_sql("b.k", BLOOMD_M_SIZED)}])
                t(pos) JOIN bits_z USING (pos)) = {BLOOMD_K} AS pos_sized
      FROM batch b
    ),
    tagged AS (
      SELECT v.doc_id, v.pos_small, v.pos_sized, c.k IS NOT NULL AS true_dup
      FROM verdicts v LEFT JOIN corpus c ON v.k = c.k
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_batch,
           CAST(SUM(CASE WHEN true_dup THEN 1 ELSE 0 END) AS BIGINT)
             AS n_true_dup,
           CAST(SUM(CASE WHEN pos_small THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pos_small,
           CAST(SUM(CASE WHEN pos_small AND NOT true_dup THEN 1 ELSE 0 END)
                AS BIGINT) AS n_fp_small,
           CAST(SUM(CASE WHEN pos_sized THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pos_sized,
           CAST(SUM(CASE WHEN pos_sized AND NOT true_dup THEN 1 ELSE 0 END)
                AS BIGINT) AS n_fp_sized,
           SUM(CASE WHEN true_dup AND NOT (pos_small AND pos_sized)
                    THEN 1 ELSE 0 END) = 0 AS no_false_negatives
    FROM tagged
    """,
)
def bloom_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row report: the bloom gate's accounting over the recrawl batch
    for BOTH filters (n_batch, n_true_dup, n_pos_small, n_fp_small,
    n_pos_sized, n_fp_sized, no_false_negatives)."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text")
    corpus = (
        base.filter(F.col("doc_id") % 10 < 8)
        .select(F.md5("text").alias("k"))
        .distinct()
    )
    batch = (
        base.filter(F.col("doc_id") % 10 >= 8)
        .select("doc_id", F.md5("text").alias("k"))
        .unionByName(
            base.filter(F.col("doc_id") % RECRAWL_A_MOD == 0).select(
                (F.col("doc_id") + RECRAWL_A_OFFSET).alias("doc_id"),
                F.md5("text").alias("k"),
            )
        )
    )

    def verdict(m: int, name: str) -> DataFrame:
        bits = corpus.select(
            F.explode(_bloomd_positions(F.col("k"), m)).alias("pos")
        ).distinct()
        hits = (
            batch.select(
                "doc_id", F.explode(_bloomd_positions(F.col("k"), m)).alias("pos")
            )
            .join(F.broadcast(bits), "pos", "left_semi")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_hit"))
        )
        return batch.join(hits, "doc_id", "left").select(
            "doc_id",
            (F.coalesce("n_hit", F.lit(0)) == BLOOMD_K).alias(name),
        )

    # The audit join covers the WHOLE batch (so no_false_negatives is
    # measured); the ship path would exact-verify only the bloom_pos
    # slice of ONE sized filter.
    tagged = (
        batch.join(verdict(BLOOMD_M_SMALL, "pos_small"), "doc_id")
        .join(verdict(BLOOMD_M_SIZED, "pos_sized"), "doc_id")
        .join(corpus.withColumn("true_dup", F.lit(True)), "k", "left")
        .select(
            "pos_small",
            "pos_sized",
            F.coalesce("true_dup", F.lit(False)).alias("true_dup"),
        )
    )
    as_l = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    return tagged.agg(
        F.count("*").cast("long").alias("n_batch"),
        as_l(F.col("true_dup")).alias("n_true_dup"),
        as_l(F.col("pos_small")).alias("n_pos_small"),
        as_l(F.col("pos_small") & ~F.col("true_dup")).alias("n_fp_small"),
        as_l(F.col("pos_sized")).alias("n_pos_sized"),
        as_l(F.col("pos_sized") & ~F.col("true_dup")).alias("n_fp_sized"),
        (
            F.sum(
                F.when(
                    F.col("true_dup")
                    & ~(F.col("pos_small") & F.col("pos_sized")),
                    1,
                ).otherwise(0)
            )
            == 0
        ).alias("no_false_negatives"),
    )


# --------------------------------------------------------------------------
# Training-shard manifest: deterministic assignment of documents to
# training shards by content-independent hash of the stable id (so the
# split is reproducible across engines, task retries, and corpus reorders
# — the same contract as the content-hash Bernoulli sampler), plus the
# per-shard manifest a dataloader needs: document count, token budget, and
# the hash range (shards are written hash-sorted, so min/max pin the file
# order). The full-corpus pass is a single hash-keyed aggregation; the
# writer-side twin is `df.repartition(N, shard_id).write.partitionBy(
# shard_id)` — one shuffle, N balanced files, no global sort.
# --------------------------------------------------------------------------
N_TRAIN_SHARDS = 16


def shard_manifest(docs: DataFrame, n_shards: int = N_TRAIN_SHARDS) -> DataFrame:
    """Core of train_shard_manifest over any (doc_id, text) frame."""
    h = phash60(F.col("doc_id").cast("string"))
    return (
        docs.select(
            F.size(tokens("text")).alias("n_toks"),
            h.alias("h"),
            (h % n_shards).alias("shard_id"),
        )
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.min("h").alias("min_h"),
            F.max("h").alias("max_h"),
        )
    )


@query(
    "train_shard_manifest",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             len({_SQL_TOKS}) AS n_toks,
             {phash60_sql("CAST(doc_id AS VARCHAR)")} AS h
      FROM documents
    )
    SELECT h % {N_TRAIN_SHARDS} AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           MIN(h) AS min_h,
           MAX(h) AS max_h
    FROM d
    GROUP BY shard_id
    """,
)
def train_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return shard_manifest(docs)


# --------------------------------------------------------------------------
# Corpus encoding: map every document to its token-id sequence under the
# frequency-floored vocabulary (OOV -> -1) — the tokenize-to-ids step
# between vocabulary construction and sequence packing. Ids are emitted as
# a CSV string (same convention as embedding_quantize's q_csv: exact
# integers, engine-portable, no float-array comparison). The vocab side of
# the join is the distinct-token table after the frequency floor — small
# relative to the corpus, AQE broadcasts it; the per-doc reassembly is a
# collect_list bounded by one document's length, ordered by token position
# (array_sort on (pos, id) structs — pos is unique within a doc).
# --------------------------------------------------------------------------
@query(
    "tokens_to_ids",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    u AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks) + 1),
                    i -> struct_pack(pos := i, token := toks[i]))) AS u
      FROM t WHERE len(toks) >= 1
    ),
    c AS (SELECT u.token AS token, COUNT(*) AS cnt FROM u GROUP BY u.token
          HAVING COUNT(*) >= {VOCAB_MIN_COUNT}),
    v AS (SELECT token,
                 CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) - 1
                      AS BIGINT) AS token_id
          FROM c),
    j AS (
      SELECT doc_id, u.pos AS pos, COALESCE(v.token_id, -1) AS id
      FROM u LEFT JOIN v ON u.token = v.token
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos) AS ids_csv
    FROM j GROUP BY doc_id
    """,
)
def tokens_to_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    vocab = vocab_min_count(spark, sf_dir).select("token", "token_id")
    n_parts = partition_count(spark)
    tok = (
        docs.select("doc_id", "text")
        .repartition(n_parts, "doc_id")
        .select("doc_id", F.posexplode(tokens("text")).alias("pos", "token"))
    )
    seq = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct("pos", F.coalesce("token_id", F.lit(-1)).alias("id"))
            )
        ),
        lambda x: x.getField("id").cast("string"),
    )
    return (
        tok.join(vocab, "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.array_join(seq, ",").alias("ids_csv"),
        )
    )


PROBE_TOKENS = 5  # probe = an eval doc's first 5 tokens, joined by ' '


# --------------------------------------------------------------------------
# Exact-substring decontamination — the complement of the n-gram overlap
# check above: instead of shingle-set intersection, each held-out doc
# (doc_id % EVAL_SET_MOD = 0) contributes one literal probe string (its
# PROBE_TOKENS-token prefix), and any training doc whose raw text CONTAINS a
# probe is flagged. This is the "exact match" decontamination rule
# (substring containment, not token-set similarity), which catches verbatim
# benchmark leakage that survives tokenization differences.
#
# Scale: the probe set is benchmark-sized (fixed, tiny — it does NOT grow
# with the corpus), so the containment join is a broadcast nested-loop of
# the probe list against one corpus scan: corpus rows stream once, never
# shuffle. The multi-probe scan is exactly how Aho-Corasick-style
# decontamination passes are deployed over web-scale corpora.
# --------------------------------------------------------------------------
@query(
    "decontam_exact_substring",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents),
    probes AS (
      SELECT DISTINCT array_to_string(toks[1:{PROBE_TOKENS}], ' ') AS probe
      FROM t WHERE doc_id % {EVAL_SET_MOD} = 0 AND len(toks) >= {PROBE_TOKENS}
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_probe_hits
    FROM t JOIN probes ON contains(t.text, probes.probe)
    WHERE doc_id % {EVAL_SET_MOD} <> 0
    GROUP BY doc_id
    """,
)
def decontam_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_probe_hits) for training docs containing any eval-prefix
    probe verbatim. Probes are distinct, so a doc's hit count is the number
    of distinct leaked benchmark prefixes it carries."""
    docs = load_table(spark, sf_dir, "documents")
    t = _spread(spark, docs, "doc_id", "text").withColumn(
        "toks", tokens("text")
    )
    probes = (
        t.filter(
            (F.col("doc_id") % EVAL_SET_MOD == 0)
            & (F.size("toks") >= PROBE_TOKENS)
        )
        .select(
            F.array_join(F.slice("toks", 1, PROBE_TOKENS), " ").alias("probe")
        )
        .distinct()
    )
    return (
        t.filter(F.col("doc_id") % EVAL_SET_MOD != 0)
        .join(F.broadcast(probes), F.col("text").contains(F.col("probe")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_probe_hits"))
    )


CHUNK_TOKENS = 128
CHUNK_STRIDE = 96  # 32-token overlap between consecutive chunks


# --------------------------------------------------------------------------
# Context-window chunking: slice each document's token stream into
# fixed-size overlapping windows (the standard pretraining prep step between
# tokenization and packing). Pure per-doc map — explode over a sequence of
# chunk starts, then an array slice — so the operator is shuffle-FREE and
# streams at scan speed at any corpus size; chunk identity is pinned by an
# md5 over the joined chunk text so the oracle value-checks content, not
# just offsets.
# --------------------------------------------------------------------------
@query(
    "chunk_documents",
    headline=True,
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    n AS (SELECT doc_id, toks, len(toks) AS n_tok FROM t WHERE len(toks) > 0),
    starts AS (
      SELECT doc_id, toks, n_tok,
             unnest(range(0, n_tok, {CHUNK_STRIDE})) AS start
      FROM n
    )
    SELECT doc_id,
           CAST(start / {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(start AS BIGINT) AS start_tok,
           CAST(least(n_tok - start, {CHUNK_TOKENS}) AS BIGINT) AS chunk_len,
           md5(array_to_string(toks[start + 1 : least(start + {CHUNK_TOKENS}, n_tok)], ' '))
             AS chunk_hash
    FROM starts
    """,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, chunk_idx, start_tok, chunk_len, chunk_hash) for overlapping
    CHUNK_TOKENS-token windows every CHUNK_STRIDE tokens."""
    docs = load_table(spark, sf_dir, "documents")
    t = (
        _spread(spark, docs, "doc_id", "text")
        .withColumn("toks", tokens("text"))
        .withColumn("n_tok", F.size("toks"))
        .filter(F.col("n_tok") > 0)
    )
    starts = t.select(
        "doc_id",
        "toks",
        "n_tok",
        F.explode(
            F.sequence(F.lit(0), F.col("n_tok") - 1, F.lit(CHUNK_STRIDE))
        ).alias("start"),
    )
    chunk = F.slice(F.col("toks"), F.col("start") + 1, F.lit(CHUNK_TOKENS))
    return starts.select(
        "doc_id",
        (F.col("start") / CHUNK_STRIDE).cast("long").alias("chunk_idx"),
        F.col("start").cast("long").alias("start_tok"),
        F.least(F.col("n_tok") - F.col("start"), F.lit(CHUNK_TOKENS))
        .cast("long")
        .alias("chunk_len"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


# --------------------------------------------------------------------------
# Partitioned sink, value-checked through the filesystem: write the corpus
# hive-partitioned by lang, read the directory tree back, and emit the
# per-partition manifest (rows + files). repartition("lang") ahead of
# partitionBy("lang") gives each lang exactly one writing task, hence
# exactly one file per partition directory — the layout a downstream
# per-language consumer wants (no small-file spray: without the repartition,
# every task writes a file into every lang directory it happens to hold).
# The oracle pins BOTH the row fidelity and the one-file-per-partition
# writer contract.
# --------------------------------------------------------------------------
@query(
    "write_partitioned_by_lang",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(1 AS BIGINT) AS n_files
    FROM documents
    GROUP BY lang
    """,
)
def write_partitioned_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip manifest of a lang-partitioned parquet write."""
    from parallel_mapreduce_spark.sources.tables import sink_dir

    docs = load_table(spark, sf_dir, "documents")
    out = sink_dir("part_sink") + "/docs"
    (
        docs.repartition("lang")
        .write.mode("overwrite")
        .partitionBy("lang")
        .parquet(out)
    )
    back = spark.read.parquet(out).select(
        "lang", "n_chars", F.input_file_name().alias("_file")
    )
    return back.groupBy("lang").agg(
        F.count("*").alias("n_rows"),
        F.sum("n_chars").alias("sum_chars"),
        F.countDistinct("_file").alias("n_files"),
    )


# --------------------------------------------------------------------------
# Packing efficiency report: per-source pack counts, fill ratio, and the
# number of pack-boundary-straddling docs — the observability companion to
# seq_pack_contiguous (how much compute the packing wastes and how many
# docs the downstream tokenizer must split). Engine side reuses the
# hierarchical _pack_prefix (skew-proof); the oracle recomputes the prefix
# with the naive per-source window, proving the hierarchy is value-exact.
# Final aggregation is per-source — tiny.
# --------------------------------------------------------------------------
@query(
    "pack_fill_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens
      FROM documents
    ), p AS (
      SELECT source, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
                 PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS bef
      FROM t
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(CEIL(SUM(n_tokens) * 1.0 / {PACK_CAPACITY_TOKENS}) AS BIGINT)
             AS n_packs,
           floor(SUM(n_tokens) * 1.0
                 / (GREATEST(CEIL(SUM(n_tokens) * 1.0 / {PACK_CAPACITY_TOKENS}), 1)
                    * {PACK_CAPACITY_TOKENS}) * 10000 + 0.5) / 10000
             AS fill_ratio,
           CAST(COUNT(*) FILTER (n_tokens > 0
                 AND bef // {PACK_CAPACITY_TOKENS}
                     <> (bef + n_tokens - 1) // {PACK_CAPACITY_TOKENS})
                AS BIGINT) AS straddle_docs
    FROM p GROUP BY source
    """,
)
def pack_fill_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    p = _pack_prefix(t, PACK_SHARD_SPAN)
    cap = F.lit(PACK_CAPACITY_TOKENS)
    straddle = (
        (F.col("n_tokens") > 0)
        & (
            (F.col("before") / cap).cast("long")
            != ((F.col("before") + F.col("n_tokens") - 1) / cap).cast("long")
        )
    ).cast("long")
    n_packs = F.ceil(F.sum("n_tokens") * F.lit(1.0) / cap)
    return p.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        n_packs.cast("long").alias("n_packs"),
        (
            F.floor(
                F.sum("n_tokens")
                * F.lit(1.0)
                / (F.greatest(n_packs, F.lit(1)) * cap)
                * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("fill_ratio"),
        F.sum(straddle).alias("straddle_docs"),
    )


# --------------------------------------------------------------------------
# Deterministic epoch shuffle order: every training run needs a reproducible
# pseudo-random permutation of the corpus (data order is part of the recipe;
# retries/re-runs must see the identical order). A naive ORDER BY random()
# is non-deterministic AND a global sort. Here the permutation key is the
# portable content hash of (epoch_tag, doc_id); the global position is
# assigned HIERARCHICALLY, exactly like _pack_prefix: rank within one of
# N_SHUFFLE_SHARDS hash shards (bounded window partitions regardless of
# corpus size), plus a broadcast running-sum base of earlier shards' counts.
# The resulting position is identical to ROW_NUMBER() OVER (ORDER BY shard,
# h, doc_id) — which is exactly what the oracle computes — without any
# global ORDER BY in the engine plan.
# --------------------------------------------------------------------------
N_SHUFFLE_SHARDS = 64
EPOCH_TAG = "epoch0"


@query(
    "epoch_shuffle_order",
    headline=True,
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             {phash60_sql(f"'{EPOCH_TAG}:' || doc_id")} AS h
      FROM documents
    )
    SELECT doc_id,
           h % {N_SHUFFLE_SHARDS} AS shard,
           ROW_NUMBER() OVER (ORDER BY h % {N_SHUFFLE_SHARDS}, h, doc_id) - 1
             AS global_pos
    FROM t
    """,
)
def epoch_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        phash60(F.concat_ws(":", F.lit(EPOCH_TAG), F.col("doc_id"))).alias("h"),
    ).withColumn("shard", F.col("h") % N_SHUFFLE_SHARDS)
    w_local = W.partitionBy("shard").orderBy("h", "doc_id")
    ranked = t.withColumn("rank_local", F.row_number().over(w_local) - 1)
    counts = t.groupBy("shard").agg(F.count("*").alias("_n"))
    w_base = W.orderBy("shard").rowsBetween(W.unboundedPreceding, -1)
    bases = counts.select(
        "shard",
        F.coalesce(F.sum("_n").over(w_base), F.lit(0).cast("long")).alias("_base"),
    )
    return ranked.join(F.broadcast(bases), "shard").select(
        "doc_id",
        "shard",
        (F.col("_base") + F.col("rank_local")).alias("global_pos"),
    )


# --------------------------------------------------------------------------
# Length-bucketed batching: group documents into power-of-two token-length
# buckets (floor 16) and report the padding cost of batching each bucket to
# its boundary — the standard alternative to sequence packing when examples
# must stay un-split (SFT, eval). Integer-exact bucket edges: ceil(log2 n)
# is read off the binary representation's length (length(bin(n-1))), never
# a float log that can land on 7.9999... at an exact power of two.
# Shuffle-free per doc; the only exchange carries |buckets| rows.
# --------------------------------------------------------------------------
MIN_LEN_BUCKET = 16


@query(
    "length_bucket_padding",
    oracle=f"""
    WITH t AS (
      SELECT CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens FROM documents
    ), b AS (
      SELECT n_tokens,
             GREATEST({MIN_LEN_BUCKET},
                      CASE WHEN n_tokens <= 1 THEN 1
                           ELSE CAST(pow(2, length(bin(n_tokens - 1))) AS BIGINT)
                      END) AS bucket
      FROM t
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(SUM(bucket - n_tokens) AS BIGINT) AS padding_tokens,
           FLOOR(SUM(n_tokens) * 10000.0 / (COUNT(*) * bucket) + 0.5) / 10000
             AS fill_ratio
    FROM b GROUP BY bucket
    """,
)
def length_bucket_padding(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(tokens("text")).cast("long")
    t = docs.select(n.alias("n_tokens"))
    p = F.length(F.bin(F.col("n_tokens") - 1))
    bucket = F.greatest(
        F.lit(MIN_LEN_BUCKET).cast("long"),
        F.when(F.col("n_tokens") <= 1, F.lit(1).cast("long")).otherwise(
            F.pow(F.lit(2.0), p).cast("long")
        ),
    )
    return (
        t.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            F.sum(F.col("bucket") - F.col("n_tokens"))
            .cast("long")
            .alias("padding_tokens"),
            (
                F.floor(
                    F.sum("n_tokens")
                    * 10000.0
                    / (F.count("*") * F.first("bucket"))
                    + F.lit(0.5)
                )
                / 10000
            ).alias("fill_ratio"),
        )
    )


# --------------------------------------------------------------------------
# Corpus-derived stopword strip with ORDER-PRESERVING reassembly: the K
# tokens with the highest document frequency (ties broken by token) are
# removed from every document and the cleaned text is rebuilt in original
# token order — the shape of every span-removal cleaner (boilerplate, PII
# spans, stop-token pruning) whose output must remain running text.
#
# Scale: the stoplist is K rows (broadcast anti-join); document frequency
# is a two-level hash aggregate over (word, doc_id); the reassembly groups
# the kept token stream by doc_id — the one corpus-scale shuffle, inherent
# to reassembly (same class as the corpus itself, key is the doc id, never
# skewed beyond the longest document).
# --------------------------------------------------------------------------
STRIP_TOP_K_DF = 5


@query(
    "strip_boilerplate_tokens",
    headline=True,
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS word
      FROM (SELECT doc_id, {_SQL_TOKS} AS t FROM documents)
    ), stop AS (
      SELECT word FROM (
        SELECT word, COUNT(DISTINCT doc_id) AS dfc FROM toks GROUP BY word
      ) ORDER BY dfc DESC, word LIMIT {STRIP_TOP_K_DF}
    ), kept AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
             md5(string_agg(word, ' ' ORDER BY pos)) AS clean_md5
      FROM toks WHERE word NOT IN (SELECT word FROM stop)
      GROUP BY doc_id
    ), base AS (
      SELECT doc_id, CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens FROM documents
    )
    SELECT b.doc_id,
           COALESCE(k.n_kept, 0) AS n_kept,
           b.n_tokens - COALESCE(k.n_kept, 0) AS n_removed,
           COALESCE(k.clean_md5, md5('')) AS clean_md5
    FROM base b LEFT JOIN kept k USING (doc_id)
    """,
)
def strip_boilerplate_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "word")
    )
    stop = (
        toks.groupBy("word")
        .agg(F.countDistinct("doc_id").alias("dfc"))
        .orderBy(F.desc("dfc"), "word")
        .limit(STRIP_TOP_K_DF)
        .select("word")
    )
    kept = (
        toks.join(F.broadcast(stop), "word", "left_anti")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("pos"), F.col("word")))
                        ),
                        lambda s: s.getField("word"),
                    ),
                )
            ).alias("clean_md5"),
        )
    )
    base = docs.select(
        "doc_id", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    return base.join(kept, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
        (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0))).alias(
            "n_removed"
        ),
        F.coalesce(F.col("clean_md5"), F.md5(F.lit(""))).alias("clean_md5"),
    )


# --------------------------------------------------------------------------
# Bigram language-model scoring (the CCNet/unigram_logprob_score idea, one
# order up): per-document mean ln P(w_i | w_{i-1}) under the corpus bigram
# model with add-one smoothing — P = (c(prev,cur) + 1) / (c(prev) + V).
# Low scores mark incoherent or out-of-domain text that a unigram model
# cannot distinguish (it sees only marginal frequencies).
#
# Scale: two corpus-scale equi-joins key the exploded bigram stream by the
# bigram string and by the preceding token; both count frames are
# vocabulary-sized (AQE broadcasts them when they fit); V is a broadcast
# one-row scalar. Docs with < 2 tokens have no bigrams and are excluded on
# both sides.
# --------------------------------------------------------------------------
@query(
    "bigram_logprob_score",
    headline=True,
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    bg AS (
      SELECT doc_id, unnest({_SQL_BIGRAMS}) AS bigram
      FROM t WHERE len(toks) >= 2
    ),
    bc AS (SELECT bigram, COUNT(*) AS bcnt FROM bg GROUP BY bigram),
    uc AS (
      SELECT unnest(toks) AS tok FROM t
    ),
    ucnt AS (SELECT tok, COUNT(*) AS tcnt FROM uc GROUP BY tok),
    vv AS (SELECT COUNT(*) AS v FROM ucnt)
    SELECT bg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(ln((bc.bcnt + 1.0)
                        / (ucnt.tcnt + (SELECT v FROM vv)))), 4)
             AS mean_bigram_lp
    FROM bg
    JOIN bc USING (bigram)
    JOIN ucnt ON ucnt.tok = string_split(bg.bigram, ' ')[1]
    GROUP BY bg.doc_id
    """,
)
def bigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse-first like the dedup/repetition family: identical texts
    have identical scores, so tokenization, the bigram explode, and the
    scoring joins run once per DISTINCT text; the corpus-level counts stay
    exact by weighting each representative's occurrences with its copy
    count, and scores expand back to members over the digest join."""
    from parallel_mapreduce_spark.functions.dedup import (
        _rep_texts,
        exact_dup_members,
    )

    docs = load_table(spark, sf_dir, "documents")
    n_parts = partition_count(spark)
    # Round-14 NEGATIVE result (OPTIMIZATION_r14.md §8, with a
    # members-only arm): a lazy cut on members and/or the
    # tokenized reps frame measured SLOWER at sf0.1 (old 1.71s vs
    # members-only 1.80s vs both 1.98s, interleaved min-of-6, equality
    # asserted) — unlike the near-dup family the shared chains here are
    # scan+split+md5-agg, cheaper to recompute than to materialize (the
    # cut pays token-array/row materialization and loses the fused
    # codegen scan). Left lazy on purpose.
    members = exact_dup_members(docs)
    weights = members.groupBy("rep").agg(F.count("*").alias("w"))
    reps = (
        _rep_texts(docs, n_parts)
        .withColumnRenamed("doc_id", "rep")
        .join(weights, "rep")
        .select("rep", "w", tokens("text").alias("toks"))
    )
    bg = reps.filter(F.size("toks") >= 2).select(
        "rep", "w", F.explode(bigrams(F.col("toks"))).alias("bigram")
    )
    bc = bg.groupBy("bigram").agg(F.sum("w").alias("bcnt"))
    uc = reps.select("w", F.explode("toks").alias("tok"))
    ucnt = uc.groupBy("tok").agg(F.sum("w").alias("tcnt"))
    vv = ucnt.agg(F.count("*").alias("v"))
    prev_tok = F.split(F.col("bigram"), " ").getItem(0)
    per_rep = (
        bg.join(bc, "bigram")
        .withColumn("tok", prev_tok)
        .join(ucnt, "tok")
        .crossJoin(F.broadcast(vv))
        .groupBy("rep")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.avg(
                    F.log(
                        (F.col("bcnt") + F.lit(1.0))
                        / (F.col("tcnt") + F.col("v"))
                    )
                ),
                4,
            ).alias("mean_bigram_lp"),
        )
    )
    return members.join(per_rep, "rep").select(
        "doc_id", "n_bigrams", "mean_bigram_lp"
    )


# --------------------------------------------------------------------------
# Detokenize round trip: decode tokens_to_ids' id sequences back through
# the id->token side of the vocabulary and verify that the reconstruction
# equals the original token stream with OOV tokens replaced by '<unk>' —
# the integrity check a tokenization pipeline runs before shipping shards
# (an id mapping that cannot round-trip corrupts training text silently).
# Decode joins the exploded id stream to the vocab on token_id; the
# expected side re-walks the original tokens against the vocab membership;
# both reassemble order-preserving and compare digests per document.
# --------------------------------------------------------------------------
@query(
    "detokenize_ids_roundtrip",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    u AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks) + 1),
                    i -> struct_pack(pos := i, token := toks[i]))) AS u
      FROM t WHERE len(toks) >= 1
    ),
    c AS (SELECT u.token AS token, COUNT(*) AS cnt FROM u GROUP BY u.token
          HAVING COUNT(*) >= {VOCAB_MIN_COUNT}),
    v AS (SELECT token,
                 CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) - 1
                      AS BIGINT) AS token_id
          FROM c),
    j AS (
      SELECT doc_id, u.pos AS pos, u.token AS token, v.token_id
      FROM u LEFT JOIN v ON u.token = v.token
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) FILTER (j.token_id IS NULL) AS BIGINT) AS n_oov,
           md5(string_agg(COALESCE(dv.token, '<unk>'), ' ' ORDER BY pos))
             = md5(string_agg(CASE WHEN j.token_id IS NULL THEN '<unk>'
                                   ELSE j.token END, ' ' ORDER BY pos))
             AS roundtrip_ok
    FROM j LEFT JOIN v dv ON dv.token_id = j.token_id
    GROUP BY doc_id
    """,
)
def detokenize_ids_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    vocab = vocab_min_count(spark, sf_dir).select("token", "token_id")
    enc = tokens_to_ids(spark, sf_dir)
    ids = enc.select(
        "doc_id",
        F.posexplode(F.split("ids_csv", ",")).alias("pos", "id_str"),
    ).withColumn("id", F.col("id_str").cast("long"))
    decoded = ids.join(
        vocab.select(
            F.col("token_id").alias("id"), F.col("token").alias("dec_token")
        ),
        "id",
        "left",
    )
    dec_agg = decoded.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum((F.col("id") == -1).cast("long")).alias("n_oov"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("pos"),
                                F.coalesce(
                                    F.col("dec_token"), F.lit("<unk>")
                                ).alias("w"),
                            )
                        )
                    ),
                    lambda s: s.getField("w"),
                ),
            )
        ).alias("dec_md5"),
    )
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "token")
    )
    exp_agg = (
        tok.join(vocab, "token", "left")
        .groupBy("doc_id")
        .agg(
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("pos"),
                                    F.when(
                                        F.col("token_id").isNull(),
                                        F.lit("<unk>"),
                                    )
                                    .otherwise(F.col("token"))
                                    .alias("w"),
                                )
                            )
                        ),
                        lambda s: s.getField("w"),
                    ),
                )
            ).alias("exp_md5"),
        )
    )
    return dec_agg.join(exp_agg, "doc_id").select(
        "doc_id",
        "n_tokens",
        "n_oov",
        (F.col("dec_md5") == F.col("exp_md5")).alias("roundtrip_ok"),
    )


# --------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
# pick K docs per source with probability proportional to token count —
# the standard way to subsample a corpus while preserving long-document
# mass. Deterministic: the uniform draw is the portable content hash
# scaled into (0, 1], so both engines derive identical sampling keys
# (u^(1/w), rounded before ranking so a last-ulp pow() difference cannot
# flip the cut).
#
# Scale: the per-source top-K is HIERARCHICAL (the RAG-capstone pattern) —
# a local top-K within (source, hash-salt-of-16) partitions bounds every
# window partition regardless of source skew, then the final top-K sees
# at most 16*K survivors per source.
# --------------------------------------------------------------------------
AES_SAMPLE_K = 3
AES_SALT = 16
_TWO60 = float(2**60)


@query(
    "weighted_sample_per_source",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens
      FROM documents
    ), keyed AS (
      SELECT doc_id, source, n_tokens,
             ROUND(pow(({phash60_sql("'aes:' || doc_id")} + 1) / {_TWO60},
                       1.0 / n_tokens), 9) AS skey
      FROM t WHERE n_tokens > 0
    )
    SELECT source, doc_id, n_tokens,
           ROUND(skey, 6) AS sample_key,
           CAST(rk AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                       ORDER BY skey DESC, doc_id) AS rk
          FROM keyed)
    WHERE rk <= {AES_SAMPLE_K}
    """,
)
def weighted_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", F.size(tokens("text")).cast("long").alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    u = (phash60(F.concat(F.lit("aes:"), F.col("doc_id"))) + 1) / F.lit(_TWO60)
    keyed = t.withColumn(
        "skey", F.round(F.pow(u, 1.0 / F.col("n_tokens")), 9)
    )
    return (
        top_k(
            keyed,
            "source",
            [F.col("skey").desc(), "doc_id"],
            AES_SAMPLE_K,
            rank="rank",
            salt=F.pmod(F.col("doc_id"), F.lit(AES_SALT)),
        )
        .select(
            "source",
            "doc_id",
            "n_tokens",
            F.round("skey", 6).alias("sample_key"),
            "rank",
        )
    )


# --------------------------------------------------------------------------
# Exact stratified train/val/test split: within EVERY language stratum,
# exactly floor(80%) of docs go to train, the next floor(90%)-floor(80%)
# to val, the rest to test — not hash-Bernoulli (whose per-stratum
# proportions only hold in expectation) but exact rank thresholds over a
# deterministic content-hash shuffle key, so the split is reproducible
# under retries and ingest reordering.
#
# Scale: the per-stratum rank NEVER uses a per-lang window (one lang can
# be 90% of a web corpus — the same skew argument as _pack_prefix). It is
# derived from ONE hierarchical global rank over (lang, h, doc_id)
# (operators/rank.global_row_number: range shards + broadcast bases) minus
# a broadcast per-lang base offset — per-lang rank with every window
# partition volume-bounded. Thresholds are integer arithmetic ((n*8) div
# 10) on both engines: no float percentile can flip a boundary doc.
# --------------------------------------------------------------------------
SPLIT_TAG = "split:"


@query(
    "stratified_split_assign",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             {phash60_sql(f"'{SPLIT_TAG}' || doc_id::VARCHAR")} AS h
      FROM documents
    ), r AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS r,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM t
    )
    SELECT doc_id, lang,
           CASE WHEN r <= (n * 8) // 10 THEN 'train'
                WHEN r <= (n * 9) // 10 THEN 'val'
                ELSE 'test' END AS split
    FROM r
    """,
)
def stratified_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parallel_mapreduce_spark.operators.rank import global_row_number

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "lang",
        phash60(F.concat(F.lit(SPLIT_TAG), F.col("doc_id"))).alias("h"),
    )
    # Global rank over (lang, h, doc_id); per-lang rank = global rank minus
    # the count of earlier langs' rows (|langs|-row broadcast frame).
    g = global_row_number(
        t, [F.asc("lang"), F.asc("h"), F.asc("doc_id")], out="grank"
    )
    counts = t.groupBy("lang").agg(F.count("*").alias("n"))
    w_base = W.orderBy("lang").rowsBetween(W.unboundedPreceding, -1)
    bases = counts.select(
        "lang",
        "n",
        F.coalesce(F.sum("n").over(w_base), F.lit(0).cast("long")).alias("_b"),
    )
    r = g.join(F.broadcast(bases), "lang").withColumn(
        "r", F.col("grank") - F.col("_b")
    )
    split = (
        F.when(F.col("r") <= F.expr("(n * 8) div 10"), F.lit("train"))
        .when(F.col("r") <= F.expr("(n * 9) div 10"), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return r.select("doc_id", "lang", split.alias("split"))


# --------------------------------------------------------------------------
# Temperature-scaled source mixing weights (the UniMax/mT5 move): sampling
# weight proportional to n_tokens^alpha flattens the source distribution so
# a dominant crawl can't drown the tail. alpha is pinned at 0.5 because
# sqrt is CORRECTLY ROUNDED under IEEE 754 — bit-identical on the JVM and
# in DuckDB — whereas a general pow(n, 0.3) may differ in the last ulp
# between libm implementations and flip a 6 dp rounding. effective_epochs
# (weight * total / n_tokens) > 1 means the mix would repeat that source.
# One source-count aggregate; everything downstream is |sources|-sized with
# the normalizer crossed in as a broadcast 1-row frame.
# --------------------------------------------------------------------------
@query(
    "temperature_mix_weights",
    oracle=f"""
    WITH c AS (
      SELECT source, CAST(SUM(len({_SQL_TOKS})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), z AS (
      SELECT SUM(sqrt(n_tokens)) AS z,
             CAST(SUM(n_tokens) AS BIGINT) AS total
      FROM c
    )
    SELECT source, n_tokens,
           ROUND(sqrt(n_tokens) / z, 6) AS weight,
           ROUND(sqrt(n_tokens) / z * total / n_tokens, 4) AS effective_epochs
    FROM c CROSS JOIN z
    """,
)
def temperature_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = (
        docs.select("source", F.size(tokens("text")).cast("long").alias("nt"))
        .groupBy("source")
        .agg(F.sum("nt").alias("n_tokens"))
    )
    z = c.agg(
        F.sum(F.sqrt("n_tokens")).alias("z"),
        F.sum("n_tokens").alias("total"),
    )
    return c.crossJoin(F.broadcast(z)).select(
        "source",
        "n_tokens",
        F.round(F.sqrt("n_tokens") / F.col("z"), 6).alias("weight"),
        F.round(
            F.sqrt("n_tokens") / F.col("z") * F.col("total") / F.col("n_tokens"),
            4,
        ).alias("effective_epochs"),
    )


# --------------------------------------------------------------------------
# DSIR importance weights (round 7): Data Selection via Importance
# Resampling (Xie et al. 2023, arXiv:2302.03169) — the standard recipe
# for "select raw-corpus documents that look like a target domain":
# featurize every document as hashed n-gram counts, fit two bag-of-
# hashed-ngrams unigram models (target vs raw), and score each document
# by its importance log-ratio  w(doc) = sum_f log(p_target(f) /
# p_raw(f)).  High-weight documents are the resampling candidates. The
# target here is the 'src0' slice standing in for the curated domain
# (wiki/books in the paper); features are hashed BIGRAMS (the paper's
# default) in DSIR_BUCKETS buckets with +1 smoothing on both models.
#
# Scale shape: the corpus is scanned exactly twice — once to build the
# bucket statistics, once to score — the same inherent two-pass shape as
# unigram_logprob_score (self-referential statistic). Both models come
# out of ONE aggregation (conditional count over the same exploded
# stream), the log-ratio table is bounded by DSIR_BUCKETS rows
# (broadcast-joined back to the feature stream), and per-document
# weights are a partial-aggregated SUM — nothing corpus-scale crosses a
# second shuffle beyond the doc-keyed score aggregation itself. The
# hash is the engine-portable phash60, so the oracle reproduces the
# bucketing exactly and the weights are value-checked, not rows-only.
# --------------------------------------------------------------------------
DSIR_BUCKETS = 4096
DSIR_TARGET_SOURCE = "src0"


@query(
    "dsir_importance_weights",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, {_SQL_TOKS} AS toks FROM documents
    ),
    f AS (
      SELECT doc_id, source,
             {phash60_sql("'dsir:' || bg")} % {DSIR_BUCKETS} AS b
      FROM (
        SELECT doc_id, source, unnest({_SQL_BIGRAMS}) AS bg
        FROM t WHERE len(toks) >= 2
      )
    ),
    stats AS (
      SELECT b, COUNT(*) AS cr,
             COUNT(*) FILTER (WHERE source = '{DSIR_TARGET_SOURCE}') AS ct
      FROM f GROUP BY b
    ),
    tot AS (
      SELECT CAST(SUM(cr) AS BIGINT) AS tr, CAST(SUM(ct) AS BIGINT) AS tt
      FROM stats
    ),
    llr AS (
      SELECT b, ln((ct + 1.0) / (tt + {DSIR_BUCKETS}))
               - ln((cr + 1.0) / (tr + {DSIR_BUCKETS})) AS w
      FROM stats, tot
    )
    SELECT f.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_feats,
           ROUND(SUM(l.w), 4) AS dsir_weight
    FROM f JOIN llr l USING (b)
    GROUP BY f.doc_id
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_parts = partition_count(spark)
    feats = (
        docs.select("doc_id", "source", "text")
        .repartition(n_parts, "doc_id")
        .select(
            "doc_id",
            "source",
            F.explode(bigrams(tokens("text"))).alias("bg"),
        )
        .select(
            "doc_id",
            "source",
            (
                phash60(F.concat(F.lit("dsir:"), F.col("bg")))
                % DSIR_BUCKETS
            ).alias("b"),
        )
    )
    stats = feats.groupBy("b").agg(
        F.count("*").alias("cr"),
        F.count(
            F.when(F.col("source") == DSIR_TARGET_SOURCE, 1)
        ).alias("ct"),
    )
    tot = stats.agg(
        F.sum("cr").cast("long").alias("tr"),
        F.sum("ct").cast("long").alias("tt"),
    )
    llr = stats.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            F.log((F.col("ct") + 1.0) / (F.col("tt") + DSIR_BUCKETS))
            - F.log((F.col("cr") + 1.0) / (F.col("tr") + DSIR_BUCKETS))
        ).alias("w"),
    )
    return (
        feats.join(F.broadcast(llr), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_feats"),
            F.round(F.sum("w"), 4).alias("dsir_weight"),
        )
    )


# --------------------------------------------------------------------------
# Model-based quality/domain classifier (round 7): logistic regression by
# full-batch gradient descent, 2 fixed iterations — the fastText/CCNet
# recipe (Wenzek et al. 2020; the GPT-3 quality classifier, Brown et al.
# 2020 App. A): fit "does this doc look like the curated target domain?"
# on cheap per-doc features, then score every document; high scorers are
# kept/upweighted. Target = the 'src0' slice (as dsir_importance_weights);
# features are exactly-replicable per-doc scalars (token count /100,
# char count /1000, distinct-token ratio @6dp); init w=0, learning rate
# 1.0 — so each weight is a plain difference of 6dp-rounded gradient
# averages and the update introduces NO new rounding step (a fractional
# rate times a 6dp gradient would manufacture 7th-decimal midpoints, the
# exact half-ulp class the kmeans comment documents). The DuckDB oracle
# unrolls both iterations; remaining cross-engine risk is the usual
# engine-order AVG fold landing within one ulp of a 1e-6 midpoint, plus
# the p > 0.5 prediction boundary (z would have to hit 0.0 exactly) —
# both documented classes, listed in tests/test_scale_parity.py.
#
# Scale shape: the canonical distributed-ML loop (same family as
# kmeans_lloyd_2iter). Per iteration: ONE corpus-scale partially-
# aggregated AVG collapsing to a single 4-double gradient row, broadcast
# back via crossJoin — the model is O(features), never corpus-scale, and
# no shuffle moves anything bigger than the per-source summary. Three
# feature passes total (grad1, grad2, score), inherent to full-batch GD.
# --------------------------------------------------------------------------
LRQ_TARGET_SOURCE = "src0"

_LRQ_FEAT_SQL = f"""
  SELECT doc_id, lang, source,
         CASE WHEN source = '{LRQ_TARGET_SOURCE}' THEN 1.0 ELSE 0.0 END AS y,
         len(toks) / 100.0 AS x1,
         length(text) / 1000.0 AS x2,
         ROUND(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS x3
  FROM (SELECT doc_id, lang, source, text, {_SQL_TOKS} AS toks
        FROM documents)
  WHERE len(toks) >= 1
"""

_LRQ_P = "1.0 / (1.0 + exp(-(w.b + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3)))"


def _lrq_sigmoid(z):
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def _lrq_z():
    return (
        F.col("b")
        + F.col("w1") * F.col("x1")
        + F.col("w2") * F.col("x2")
        + F.col("w3") * F.col("x3")
    )


def _lrq_features(docs: DataFrame, n_parts: int) -> DataFrame:
    """Per-doc classifier features (doc_id, lang, source, y, x1..x3);
    zero-token docs are unscorable and dropped on both engines."""
    return (
        docs.select("doc_id", "lang", "source", "text")
        .repartition(n_parts)
        .withColumn("toks", tokens("text"))
        .filter(F.size("toks") >= 1)
        .select(
            "doc_id",
            "lang",
            "source",
            F.when(F.col("source") == LRQ_TARGET_SOURCE, 1.0)
            .otherwise(0.0)
            .alias("y"),
            (F.size("toks") / F.lit(100.0)).alias("x1"),
            (F.length("text") / F.lit(1000.0)).alias("x2"),
            F.round(
                F.size(F.array_distinct("toks")) * F.lit(1.0)
                / F.size("toks"),
                6,
            ).alias("x3"),
        )
    )


def _lrq_fit2(spark: SparkSession, feat: DataFrame) -> DataFrame:
    """Two full-batch GD steps from zero init -> one fitted-weights row.

    The feature frame is deliberately NOT persisted, by measurement
    (round 9): each GD step + scoring does re-run the one-projection
    feature lineage, but caching it measured SLOWER at sf0.1 (0.87s ->
    1.16s) — materializing the cache breaks whole-stage fusion of
    features into each gradient aggregate, and the recompute is a
    single cheap tokenize/projection (unlike the PQ codebook's multi-pass
    training lineage, where the same experiment won 2x). At corpus
    scales where tokenization dominates, persisting/writing the feature
    table is the standard move — re-measure there, don't assume."""
    w0 = spark.range(1).select(
        F.lit(0.0).alias("b"),
        F.lit(0.0).alias("w1"),
        F.lit(0.0).alias("w2"),
        F.lit(0.0).alias("w3"),
    )
    return _lrq_step(feat, _lrq_step(feat, w0))


def _lrq_step(feat: DataFrame, wrow: DataFrame) -> DataFrame:
    """One full-batch GD step: (weights row) -> (updated weights row).
    The corpus collapses to one 4-double gradient row; rate 1.0 keeps
    the update a pure difference of 6dp-rounded averages."""
    s = feat.crossJoin(F.broadcast(wrow))
    err = _lrq_sigmoid(_lrq_z()) - F.col("y")
    g = s.agg(
        F.round(F.avg(err), 6).alias("gb"),
        F.round(F.avg(err * F.col("x1")), 6).alias("g1"),
        F.round(F.avg(err * F.col("x2")), 6).alias("g2"),
        F.round(F.avg(err * F.col("x3")), 6).alias("g3"),
        F.first("b").alias("b0"),
        F.first("w1").alias("w10"),
        F.first("w2").alias("w20"),
        F.first("w3").alias("w30"),
    )
    return g.select(
        (F.col("b0") - F.col("gb")).alias("b"),
        (F.col("w10") - F.col("g1")).alias("w1"),
        (F.col("w20") - F.col("g2")).alias("w2"),
        (F.col("w30") - F.col("g3")).alias("w3"),
    )


@query(
    "quality_classifier_lr2",
    headline=True,
    oracle=f"""
    WITH f AS ({_LRQ_FEAT_SQL}),
    w0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3),
    g1 AS (
      SELECT ROUND(AVG({_LRQ_P} - f.y), 6) AS gb,
             ROUND(AVG(({_LRQ_P} - f.y) * f.x1), 6) AS g1,
             ROUND(AVG(({_LRQ_P} - f.y) * f.x2), 6) AS g2,
             ROUND(AVG(({_LRQ_P} - f.y) * f.x3), 6) AS g3
      FROM f CROSS JOIN w0 w
    ),
    wa AS (
      SELECT w.b - g.gb AS b, w.w1 - g.g1 AS w1,
             w.w2 - g.g2 AS w2, w.w3 - g.g3 AS w3
      FROM w0 w CROSS JOIN g1 g
    ),
    g2c AS (
      SELECT ROUND(AVG({_LRQ_P} - f.y), 6) AS gb,
             ROUND(AVG(({_LRQ_P} - f.y) * f.x1), 6) AS g1,
             ROUND(AVG(({_LRQ_P} - f.y) * f.x2), 6) AS g2,
             ROUND(AVG(({_LRQ_P} - f.y) * f.x3), 6) AS g3
      FROM f CROSS JOIN wa w
    ),
    wb AS (
      SELECT w.b - g.gb AS b, w.w1 - g.g1 AS w1,
             w.w2 - g.g2 AS w2, w.w3 - g.g3 AS w3
      FROM wa w CROSS JOIN g2c g
    ),
    scored AS (
      SELECT f.source, ROUND({_LRQ_P}, 6) AS p
      FROM f CROSS JOIN wb w
    )
    SELECT s.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(s.p), 4) AS avg_score,
           CAST(SUM(CASE WHEN s.p > 0.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pred_target,
           ROUND(w.b, 6) AS b_fit,
           ROUND(w.w1, 6) AS w1_fit,
           ROUND(w.w2, 6) AS w2_fit,
           ROUND(w.w3, 6) AS w3_fit
    FROM scored s CROSS JOIN wb w
    GROUP BY s.source, w.b, w.w1, w.w2, w.w3
    """,
)
def quality_classifier_lr2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_parts = partition_count(spark)
    feat = _lrq_features(docs, n_parts)
    wb = _lrq_fit2(spark, feat)
    scored = feat.crossJoin(F.broadcast(wb)).select(
        "source",
        F.round(_lrq_sigmoid(_lrq_z()), 6).alias("p"),
        "b",
        "w1",
        "w2",
        "w3",
    )
    return (
        scored.groupBy("source", "b", "w1", "w2", "w3")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.avg("p"), 4).alias("avg_score"),
            F.sum(F.when(F.col("p") > 0.5, 1).otherwise(0))
            .cast("long")
            .alias("n_pred_target"),
        )
        .select(
            "source",
            "n_docs",
            "avg_score",
            "n_pred_target",
            F.round("b", 6).alias("b_fit"),
            F.round("w1", 6).alias("w1_fit"),
            F.round("w2", 6).alias("w2_fit"),
            F.round("w3", 6).alias("w3_fit"),
        )
    )


# --------------------------------------------------------------------------
# Model-filtered corpus capstone (round 7): the modern FineWeb/DCLM
# recipe's learned-filter stage as a pipeline — fit the LR domain
# classifier (quality_classifier_lr2's exact two GD iterations), KEEP
# documents the model scores as target-like (p > 0.5), then exact-dedup
# the survivors (keep-lowest doc_id per distinct text, the dedup_exact
# convention: Spark groups the (md5, length) digest so text crosses the
# shuffle only as group survivors; the oracle groups text directly).
# Unscorable zero-token docs drop at the model stage by definition.
# Per-lang report: corpus-in, model-kept, final (deduped), surviving
# chars — the numbers a curation run reports to its operator.
#
# Scale shape: the fit is the capstone's only corpus-collapse (4-double
# gradient rows, broadcast back); scoring rides the feature pass; the
# dedup is one digest-keyed aggregate + keeper join. Nothing new beyond
# its parts — which is the point of a capstone: composition cost only.
# --------------------------------------------------------------------------
@query(
    "pipeline_model_filtered_corpus",
    oracle=f"""
    WITH f AS ({_LRQ_FEAT_SQL}),
    w0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3),
    g1 AS (
      SELECT ROUND(AVG({_LRQ_P} - f.y), 6) AS gb,
             ROUND(AVG(({_LRQ_P} - f.y) * f.x1), 6) AS g1,
             ROUND(AVG(({_LRQ_P} - f.y) * f.x2), 6) AS g2,
             ROUND(AVG(({_LRQ_P} - f.y) * f.x3), 6) AS g3
      FROM f CROSS JOIN w0 w
    ),
    wa AS (
      SELECT w.b - g.gb AS b, w.w1 - g.g1 AS w1,
             w.w2 - g.g2 AS w2, w.w3 - g.g3 AS w3
      FROM w0 w CROSS JOIN g1 g
    ),
    g2c AS (
      SELECT ROUND(AVG({_LRQ_P} - f.y), 6) AS gb,
             ROUND(AVG(({_LRQ_P} - f.y) * f.x1), 6) AS g1,
             ROUND(AVG(({_LRQ_P} - f.y) * f.x2), 6) AS g2,
             ROUND(AVG(({_LRQ_P} - f.y) * f.x3), 6) AS g3
      FROM f CROSS JOIN wa w
    ),
    wb AS (
      SELECT w.b - g.gb AS b, w.w1 - g.g1 AS w1,
             w.w2 - g.g2 AS w2, w.w3 - g.g3 AS w3
      FROM wa w CROSS JOIN g2c g
    ),
    scored AS (
      SELECT f.doc_id, ROUND({_LRQ_P}, 6) AS p
      FROM f CROSS JOIN wb w
    ),
    kept AS (
      SELECT d.doc_id, d.lang, d.text, d.n_chars
      FROM documents d JOIN scored s USING (doc_id)
      WHERE s.p > 0.5
    ),
    keeper AS (
      SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY text
    ),
    final AS (SELECT k.* FROM kept k JOIN keeper USING (doc_id)),
    base AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs_in
      FROM documents GROUP BY lang
    ),
    km AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept_model
      FROM kept GROUP BY lang
    ),
    kf AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept_final,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars_final
      FROM final GROUP BY lang
    )
    SELECT b.lang, b.n_docs_in,
           CAST(COALESCE(km.n_kept_model, 0) AS BIGINT) AS n_kept_model,
           CAST(COALESCE(kf.n_kept_final, 0) AS BIGINT) AS n_kept_final,
           CAST(COALESCE(kf.sum_chars_final, 0) AS BIGINT)
             AS sum_chars_final
    FROM base b
    LEFT JOIN km USING (lang)
    LEFT JOIN kf USING (lang)
    """,
)
def pipeline_model_filtered_corpus(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_parts = partition_count(spark)
    feat = _lrq_features(docs, n_parts)
    wb = _lrq_fit2(spark, feat)
    scored = feat.crossJoin(F.broadcast(wb)).select(
        "doc_id", F.round(_lrq_sigmoid(_lrq_z()), 6).alias("p")
    )
    kept = docs.select("doc_id", "lang", "text", "n_chars").join(
        scored.filter(F.col("p") > 0.5).select("doc_id"), "doc_id"
    )
    keeper = (
        kept.groupBy(
            F.md5("text").alias("_k"), F.length("text").alias("_l")
        )
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    final = kept.join(keeper, "doc_id")
    base = docs.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs_in")
    )
    km = kept.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_kept_model")
    )
    kf = final.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_kept_final"),
        F.sum("n_chars").cast("long").alias("sum_chars_final"),
    )
    zero = F.lit(0).cast("long")
    return (
        base.join(km, "lang", "left")
        .join(kf, "lang", "left")
        .select(
            "lang",
            "n_docs_in",
            F.coalesce(F.col("n_kept_model"), zero).alias("n_kept_model"),
            F.coalesce(F.col("n_kept_final"), zero).alias("n_kept_final"),
            F.coalesce(F.col("sum_chars_final"), zero).alias(
                "sum_chars_final"
            ),
        )
    )


# --------------------------------------------------------------------------
# Per-source document cap (domain quota): the Common-Crawl-pipeline rule
# "keep at most N documents per domain" (C4 and RefinedWeb both cap
# per-host contributions so megasites cannot dominate the mix), as a
# DETERMINISTIC hash-priority sample: every document gets a portable
# 60-bit priority, and each source keeps its CAP lowest-priority docs
# (ties by doc_id). Hash-priority, not random: retries, engines and
# re-runs must pick the same survivors (the same argument as
# stratified_split_assign's hash buckets).
#
# Scale shape — the naive plan is ROW_NUMBER over (PARTITION BY source),
# which serializes each source through ONE task; a megasite at 100 TB is
# exactly the partition that will not fit. This implementation is the
# salted TWO-PHASE top-k (rank.top_k with a salt: per-(source, salt) top-CAP
# first, then the top-CAP of at most NSALT*CAP survivors per source — the
# same answer, see top_k for the argument). The oracle is the
# single-window form, which pins the equivalence as a value check at
# every SF.
# --------------------------------------------------------------------------
SOURCE_CAP = 15  # max docs kept per source (25/source shipped at sf0.001)
SOURCE_CAP_NSALT = 4


def _cap_priority() -> F.Column:
    """Portable per-doc priority; lowest CAP per source survive."""
    return phash60(F.concat_ws(":", F.lit("cap"), F.col("doc_id")))


def cap_per_source(
    docs: DataFrame, cap: int = SOURCE_CAP, nsalt: int = SOURCE_CAP_NSALT
) -> DataFrame:
    """The salted two-phase top-k: rows of ``docs`` (needs doc_id, source)
    that survive the per-source quota. Shared with the stage-1-binding
    unit test in tests/test_trainprep_cleaning.py — the shipped fixtures'
    salt buckets hold ~25/nsalt < CAP rows, so only a synthetic skewed
    source exercises the stage-1 filter."""
    return top_k(
        docs.withColumn("pri", _cap_priority()),
        "source",
        ["pri", "doc_id"],
        cap,
        rank="rn",
        salt=phash60(F.concat_ws(":", F.lit("salt"), F.col("doc_id"))) % nsalt,
    )


@query(
    "source_cap_sample",
    oracle=f"""
    WITH ranked AS (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY {phash60_sql("'cap:' || doc_id")}, doc_id) AS rn
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_in,
           CAST(COUNT(*) FILTER (rn <= {SOURCE_CAP}) AS BIGINT) AS n_kept,
           CAST(COALESCE(SUM(n_chars) FILTER (rn <= {SOURCE_CAP}), 0)
                AS BIGINT) AS sum_chars_kept
    FROM ranked
    GROUP BY source
    """,
)
def source_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    kept = cap_per_source(docs).groupBy("source").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.sum("n_chars").cast("long").alias("sum_chars_kept"),
    )
    totals = docs.groupBy("source").agg(F.count("*").cast("long").alias("n_in"))
    zero = F.lit(0).cast("long")
    return totals.join(kept, "source", "left").select(
        "source",
        "n_in",
        F.coalesce("n_kept", zero).alias("n_kept"),
        F.coalesce("sum_chars_kept", zero).alias("sum_chars_kept"),
    )
