"""End-to-end training-data cleaning pipeline (the capstone composition).

Chains the engine's LLM-pipeline operators the way a real corpus-prep job
does — quality gate -> exact dedup -> near-dup clustering with keep-one —
and stays fully oracle-checked: every stage has an exact SQL twin, so the
composed pipeline does too (recursive CTE for the clustering fixpoint).

Stage order matters and is part of the contract: the quality gate runs first
(cheapest, narrow), exact dedup second (one shuffle on the content digest), near-dup
clustering last over the smallest surviving set (the expensive inverted-index
join). At 100 TB this ordering is the difference between shingling the whole
corpus and shingling what survives the cheap gates.

Shuffle census for the whole pipeline: 1 (exact dedup groupBy) + 1 (survivor
join) + 2 (shingle index join + pair agg) + O(diameter) label-propagation
rounds over the pair graph (orders of magnitude smaller than the corpus) +
1 (keep-one anti-join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from parallel_mapreduce_spark.functions.dedup import (
    JACCARD_THRESHOLD,
    connected_components,
    jaccard_pairs,
    shingles3,
)
from parallel_mapreduce_spark.functions.portable import phash60_sql
from parallel_mapreduce_spark.functions.similarity import N_QUERY_VECS
from parallel_mapreduce_spark.functions.text import (
    _SQL_TOKS,
    BM25_B,
    BM25_K1,
    quality_expr,
    tokens,
)
from parallel_mapreduce_spark.operators.rank import top_k
from parallel_mapreduce_spark.registry import query
from parallel_mapreduce_spark.session import partition_count
from parallel_mapreduce_spark.sources import cut, load_table

PIPELINE_QUALITY_MIN = 0.5

# SQL fragments kept in lockstep with the Spark expressions.
_TOKS = "list_filter(string_split(text, ' '), x -> x <> '')"
_STOP = "['the', 'a', 'of', 'and']"
_QUALITY = (
    "0.6 * least(len(toks) / 100.0, 1.0) "
    f"+ 0.4 * (1.0 - len(list_filter(toks, x -> list_contains({_STOP}, x)))"
    " * 1.0 / len(toks))"
)
_SHINGLES = (
    "list_distinct(list_transform(range(1, len(toks) - 1), "
    "i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))"
)


@query(
    "pipeline_clean_corpus",
    oracle=f"""
    WITH RECURSIVE
    t AS (SELECT doc_id, lang, text, {_TOKS} AS toks FROM documents),
    q AS (SELECT * FROM t WHERE {_QUALITY} >= {PIPELINE_QUALITY_MIN}),
    keep_e AS (SELECT MIN(doc_id) AS doc_id FROM q GROUP BY text),
    s AS (SELECT q.* FROM q JOIN keep_e USING (doc_id)),
    sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s
           FROM s WHERE len(toks) >= 3),
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jp AS (
      SELECT doc_a, doc_b FROM cand
      JOIN sz sa ON doc_a = sa.doc_id
      JOIN sz sb ON doc_b = sb.doc_id
      WHERE shared * 1.0 / (sa.sz + sb.sz - shared) >= {JACCARD_THRESHOLD}
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM jp
      UNION ALL SELECT doc_b, doc_a FROM jp
    ),
    nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
    reach(doc_id, label) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc_id
    ),
    clus AS (SELECT doc_id, MIN(label) AS cluster_id FROM reach GROUP BY doc_id),
    dropped AS (SELECT doc_id FROM clus WHERE cluster_id <> doc_id)
    SELECT s.doc_id, s.lang, CAST(len(s.toks) AS BIGINT) AS n_tokens
    FROM s LEFT JOIN dropped d USING (doc_id)
    WHERE d.doc_id IS NULL
    """,
    headline=True,
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kept documents (doc_id, lang, n_tokens) after the full cleaning chain."""
    docs = load_table(spark, sf_dir, "documents")
    n_parts = partition_count(spark)
    # Stage 0: tokenize once; every later stage reuses the array column.
    t = docs.repartition(n_parts, "doc_id").select(
        "doc_id", "lang", "text", tokens("text").alias("toks")
    )
    # Stage 1: quality gate (narrow).
    q = t.filter(quality_expr(F.col("toks")) >= PIPELINE_QUALITY_MIN)
    # Stage 2: exact dedup — smallest doc_id survives per identical text.
    # Keyed by the md5+length content digest, not the text itself, so the
    # dedup shuffle moves ~24 bytes/doc instead of the corpus (same shape as
    # functions/dedup.py:_digest_groups).
    keep_e = q.groupBy(
        F.md5("text").alias("_k"), F.length("text").alias("_l")
    ).agg(F.min("doc_id").alias("doc_id"))
    # Survivors feed TWO consumers — the shingle index and the final
    # keep-one join — and the clustering loop's edge checkpoint would
    # otherwise re-derive the gate+dedup chain a third time. One
    # materialization serves all three (measured 4.2s -> 2.6s warm at
    # sf0.1 when this landed as a reliable checkpoint). Round-13 made it
    # a localCheckpoint (no parquet round-trip of the text column);
    # round 14 SIZE-GATES that choice via the cut (verdict item): the
    # survivors frame carries corpus-scale text, and pinning it to
    # executor storage at 100 TB is memory pressure plus a fault cliff,
    # so above the gate the cut goes back through the reliable
    # checkpoint directory. The RECOVERY point for the iterative phase
    # stays the per-round checkpoints inside connected_components either
    # way (executor loss there re-derives survivors once below the gate,
    # re-reads them above it; it never kills the fixpoint's progress).
    s = q.join(keep_e.select("doc_id"), "doc_id")
    s = cut(s, sf_dir, "documents", eager=False)
    # Stage 3: near-dup clustering over survivors; keep cluster representatives.
    shingled = s.select("doc_id", shingles3(F.col("toks")).alias("sh"))
    pairs = jaccard_pairs(shingled).select("doc_a", "doc_b")
    dropped = (
        connected_components(pairs)
        .filter(F.col("cluster_id") != F.col("doc_id"))
        .select("doc_id")
    )
    kept = s.join(dropped, "doc_id", "left_anti")
    return kept.select(
        "doc_id", "lang", F.size("toks").cast("long").alias("n_tokens")
    )


MIX_Q = 0.4  # keep docs at or above their language's 40th score percentile
MIX_DENOM2 = 1_000_000
PACK_CAP = 512


# --------------------------------------------------------------------------
# Second capstone composition — the TRAINING-MIX pipeline: quality score ->
# per-language percentile gate -> uniform domain rebalance -> contiguous
# pack assignment. Where pipeline_clean_corpus is the dedup chain, this is
# the curation/mixing chain a pretraining run feeds from. Stage economics:
# the score is a narrow map; the percentile gate is one GROUP-sized
# aggregate broadcast back; the rebalance thresholds are integer-exact and
# content-hash Bernoulli (deterministic under retries/partitioning); the
# packer windows per LANGUAGE (never a global order). One corpus scan, two
# tiny broadcast joins, one window shuffle.
# --------------------------------------------------------------------------
@query(
    "pipeline_training_mix",
    headline=True,
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, {_TOKS} AS toks FROM documents
    ), scored AS (
      SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tokens,
             {_QUALITY} AS score
      FROM t WHERE len(toks) > 0
    ), thr AS (
      SELECT lang, quantile_cont(score, {MIX_Q}) AS q FROM scored GROUP BY lang
    ), gated AS (
      SELECT doc_id, scored.lang, n_tokens
      FROM scored JOIN thr ON scored.lang = thr.lang
      WHERE score >= q
    ), c AS (SELECT lang, COUNT(*) AS cnt FROM gated GROUP BY lang),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total,
                   CAST(COUNT(*) AS BIGINT) AS n_src FROM c),
    rates AS (
      SELECT lang,
             LEAST({MIX_DENOM2},
                   (total * {MIX_DENOM2}) // (n_src * cnt)) AS keep_thr
      FROM c, tot
    ), sampled AS (
      SELECT doc_id, gated.lang, n_tokens
      FROM gated JOIN rates ON gated.lang = rates.lang
      WHERE {phash60_sql("'mix2:' || doc_id::VARCHAR")} % {MIX_DENOM2} < keep_thr
    )
    SELECT doc_id, lang, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             // {PACK_CAP} AS pack_id
    FROM sampled
    """,
)
def pipeline_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, n_tokens, pack_id) of the curated, rebalanced,
    packed training mix."""
    from pyspark.sql import Window as W

    from parallel_mapreduce_spark.functions.portable import phash60

    docs = load_table(spark, sf_dir, "documents")
    n_parts = partition_count(spark)
    t = docs.repartition(n_parts, "doc_id").select(
        "doc_id", "lang", tokens("text").alias("toks")
    )
    scored = t.filter(F.size("toks") > 0).select(
        "doc_id",
        "lang",
        F.size("toks").cast("long").alias("n_tokens"),
        quality_expr(F.col("toks")).alias("score"),
    )
    thr = scored.groupBy("lang").agg(
        F.percentile("score", F.lit(MIX_Q)).alias("q")
    )
    gated = (
        scored.join(F.broadcast(thr), "lang")
        .filter(F.col("score") >= F.col("q"))
        .select("doc_id", "lang", "n_tokens")
    )
    c = gated.groupBy("lang").agg(F.count("*").alias("cnt"))
    tot = c.agg(
        F.sum("cnt").cast("long").alias("total"),
        F.count("*").cast("long").alias("n_src"),
    )
    rates = c.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.least(
            F.lit(MIX_DENOM2).cast("long"),
            F.expr(f"(total * {MIX_DENOM2}) div (n_src * cnt)"),
        ).alias("keep_thr"),
    )
    bucket = phash60(
        F.concat(F.lit("mix2:"), F.col("doc_id").cast("string"))
    ) % MIX_DENOM2
    sampled = (
        gated.join(F.broadcast(rates), "lang")
        .filter(bucket < F.col("keep_thr"))
        .select("doc_id", "lang", "n_tokens")
    )
    w = (
        W.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    return sampled.select(
        "doc_id",
        "lang",
        "n_tokens",
        (before / F.lit(PACK_CAP)).cast("long").alias("pack_id"),
    )


# --------------------------------------------------------------------------
# Third capstone: RAG-ingest pipeline — chunk -> embed -> index search.
# The retrieval-corpus build every RAG/agent system runs over its document
# store: overlapping context-window chunks (chunk_documents' exact logic),
# a per-chunk embedding, and cosine top-k retrieval for a fixed probe set.
#
# The "embedding model" here is a deterministic hash projection (dim i =
# scaled md5 of chunk_hash:i) — the same stance as the multimodal decode
# stub: the env ships no model, so the MODEL is faked but every piece of
# Spark machinery around it (chunking, vectorization, broadcast probes,
# norm-once computation, hierarchical top-k) is real, runs at full scale,
# and is value-checked end to end because the fake is pure math both
# engines can compute.
#
# Scale posture: chunking + embedding are shuffle-free narrow maps; the
# probe set is broadcast (Q rows); scoring is one pass over chunks; top-k
# is HIERARCHICAL — per (query, salt-of-16) partial top-k first, then the
# final top-k over Q x 16 x K survivors — so no window ever orders the
# full chunk corpus in one task (the same two-level shape as
# epoch_shuffle_order / _pack_prefix).
# --------------------------------------------------------------------------
RAG_EMB_DIM = 8
RAG_TOP_K = 5
RAG_N_QUERIES = 3
RAG_SALT = 16


def _rag_probe_vec(q: int) -> list[float]:
    """Deterministic probe-query vector (python-side literal; both the
    engine and the oracle receive these as inline constants)."""
    import hashlib

    out = []
    for i in range(RAG_EMB_DIM):
        h = hashlib.md5(f"probe:{q}:{i}".encode()).hexdigest()
        out.append(int(h[:15], 16) % 2000 / 1000.0 - 1.0)
    return out


def _rag_emb(hash_col) -> "F.Column":
    """array<double> embedding from a chunk-hash column: dim i =
    (first-60-bits of md5(hash:i)) % 2000 scaled into [-1, 1)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(RAG_EMB_DIM - 1)),
        lambda i: F.conv(
            F.substring(F.md5(F.concat_ws(":", hash_col, i)), 1, 15), 16, 10
        ).cast("long")
        % 2000
        / F.lit(1000.0)
        - F.lit(1.0),
    )


def _rag_emb_sql(hash_expr: str) -> str:
    return (
        f"list_transform(range(0, {RAG_EMB_DIM}), i -> "
        f"(('0x' || substr(md5({hash_expr} || ':' || i), 1, 15))::BIGINT"
        f" % 2000) / 1000.0 - 1.0)"
    )


def _rag_queries_sql() -> str:
    rows = ", ".join(
        f"({q}, {_rag_probe_vec(q)})" for q in range(RAG_N_QUERIES)
    )
    return f"(VALUES {rows}) AS q(q_id, qv)"


@query(
    "pipeline_chunk_index_search",
    headline=True,
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    n AS (SELECT doc_id, toks, len(toks) AS n_tok FROM t WHERE len(toks) > 0),
    starts AS (
      SELECT doc_id, toks, n_tok,
             unnest(range(0, n_tok, 96)) AS start
      FROM n
    ), chunks AS (
      SELECT doc_id,
             CAST(start / 96 AS BIGINT) AS chunk_idx,
             md5(array_to_string(toks[start + 1 : least(start + 128, n_tok)],
                                 ' ')) AS chunk_hash
      FROM starts
    ), emb AS (
      SELECT doc_id, chunk_idx,
             {_rag_emb_sql("chunk_hash")} AS cv
      FROM chunks
    ), scored AS (
      SELECT q.q_id, e.doc_id, e.chunk_idx,
             ROUND(
               list_dot_product(q.qv, e.cv)
               / (GREATEST(sqrt(list_dot_product(q.qv, q.qv)), 1e-12)
                  * GREATEST(sqrt(list_dot_product(e.cv, e.cv)), 1e-12)),
               6) AS sim6
      FROM emb e CROSS JOIN {_rag_queries_sql()}
    )
    SELECT q_id, doc_id, chunk_idx, sim6 + 0.0 AS score
    FROM (SELECT q_id, doc_id, chunk_idx, sim6,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY sim6 DESC, doc_id, chunk_idx)
                   AS rk
          FROM scored)
    WHERE rk <= {RAG_TOP_K}
    """,
)
def pipeline_chunk_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from parallel_mapreduce_spark.functions.similarity import dot
    from parallel_mapreduce_spark.functions.trainprep import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        chunk_documents,
    )

    assert CHUNK_STRIDE == 96 and CHUNK_TOKENS == 128  # oracle inlines these
    n_parts = partition_count(spark)
    chunks = chunk_documents(spark, sf_dir).select(
        "doc_id", "chunk_idx", "chunk_hash"
    )
    emb = chunks.repartition(n_parts).select(
        "doc_id", "chunk_idx", _rag_emb(F.col("chunk_hash")).alias("cv")
    )
    qrows = [(q, _rag_probe_vec(q)) for q in range(RAG_N_QUERIES)]
    queries = spark.createDataFrame(qrows, "q_id int, qv array<double>")
    cn = F.greatest(F.sqrt(dot(F.col("cv"), F.col("cv"))), F.lit(1e-12))
    qn = F.greatest(F.sqrt(dot(F.col("qv"), F.col("qv"))), F.lit(1e-12))
    scored = emb.crossJoin(F.broadcast(queries)).select(
        "q_id",
        "doc_id",
        "chunk_idx",
        F.round(dot(F.col("qv"), F.col("cv")) / (qn * cn), 6).alias("sim6"),
    )
    # Hierarchical top-k: per-(query, salt) partial cut, then the final cut
    # over Q x RAG_SALT x K survivors.
    return (
        top_k(
            scored,
            "q_id",
            [F.col("sim6").desc(), "doc_id", "chunk_idx"],
            RAG_TOP_K,
            salt=F.pmod(F.col("doc_id") + F.col("chunk_idx"), F.lit(RAG_SALT)),
        )
        .select(
            "q_id",
            "doc_id",
            "chunk_idx",
            # score ships at the 6dp ranking precision — re-rounding the
            # 6dp value to 4dp is the decimal-vs-double midpoint hazard
            # documented at knn_graph_nn_descent (round-11 family-wide
            # migration off ROUND(sim6, 4)).
            (F.col("sim6") + F.lit(0.0)).alias("score"),
        )
    )


# --------------------------------------------------------------------------
# Fourth capstone — TOKENIZE-PACK-SHARD: the endgame composition that turns
# a cleaned corpus into training shards. Chains vocab build (frequency
# floor) -> OOV accounting under that vocab -> contiguous per-source pack
# assignment (hierarchical prefix, trainprep._pack_prefix) -> deterministic
# hash sharding, reporting per-shard manifest rows with a value-level
# docs_digest (md5 over the ordered member list) so the assignment itself
# is hash-pinned, not just counted.
#
# Shuffle census: 1 token-count shuffle (vocab), 1 token->vocab left join
# (AQE broadcasts the floored vocab), 1 (source, shard) window family for
# the pack prefix, 1 shard aggregate. The corpus text crosses the wire
# once (the explode); everything else is doc-grain or vocab-grain.
# --------------------------------------------------------------------------
@query(
    "pipeline_tokenize_pack_shard",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
    d AS (
      SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens
      FROM t WHERE len(toks) >= 1
    ),
    u AS (SELECT doc_id, unnest(toks) AS token FROM t WHERE len(toks) >= 1),
    c AS (SELECT token FROM u GROUP BY token
          HAVING COUNT(*) >= 3),
    o AS (
      SELECT u.doc_id,
             CAST(SUM(CASE WHEN c.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov
      FROM u LEFT JOIN c ON u.token = c.token GROUP BY u.doc_id
    ),
    p AS (
      SELECT doc_id, source, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
                 PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) // 512 AS pack_id
      FROM d
    ),
    s AS (
      SELECT p.doc_id, p.source, p.n_tokens, p.pack_id, o.n_oov,
             {phash60_sql("CAST(p.doc_id AS VARCHAR)")} % 16
               AS shard_id
      FROM p JOIN o ON p.doc_id = o.doc_id
    )
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(n_oov) AS BIGINT) AS n_oov,
           CAST(COUNT(DISTINCT source || ':' || pack_id) AS BIGINT)
             AS n_packs_touched,
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
             AS docs_digest
    FROM s GROUP BY shard_id
    """,
)
def pipeline_tokenize_pack_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parallel_mapreduce_spark.functions.portable import phash60
    from parallel_mapreduce_spark.functions.trainprep import (
        N_TRAIN_SHARDS,
        PACK_CAPACITY_TOKENS,
        PACK_SHARD_SPAN,
        VOCAB_MIN_COUNT,
        _pack_prefix,
    )

    # oracle inlines these trainprep constants (precedent: chunk capstone)
    assert (
        VOCAB_MIN_COUNT == 3
        and PACK_CAPACITY_TOKENS == 512
        and N_TRAIN_SHARDS == 16
    )
    docs = load_table(spark, sf_dir, "documents")
    n_parts = partition_count(spark)
    t = (
        docs.select("doc_id", "source", tokens("text").alias("toks"))
        .repartition(n_parts, "doc_id")
        .filter(F.size("toks") >= 1)
    )
    d = t.select(
        "doc_id", "source", F.size("toks").cast("long").alias("n_tokens")
    )
    u = t.select("doc_id", F.explode("toks").alias("token"))
    vocab = (
        u.groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= VOCAB_MIN_COUNT)
        .select("token", F.lit(True).alias("in_vocab"))
    )
    o = (
        u.join(vocab, "token", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_oov")
        )
    )
    p = _pack_prefix(d, PACK_SHARD_SPAN).select(
        "doc_id",
        "source",
        "n_tokens",
        (F.col("before") / F.lit(PACK_CAPACITY_TOKENS)).cast("long").alias(
            "pack_id"
        ),
    )
    s = p.join(o, "doc_id").withColumn(
        "shard_id",
        phash60(F.col("doc_id").cast("string")) % N_TRAIN_SHARDS,
    )
    digest = F.md5(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
        )
    )
    return s.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_oov").alias("n_oov"),
        F.countDistinct(F.concat_ws(":", "source", "pack_id")).alias(
            "n_packs_touched"
        ),
        digest.alias("docs_digest"),
    )


# --------------------------------------------------------------------------
# Hybrid retrieval with reciprocal-rank fusion (round 10) — the capstone a
# production RAG stack actually serves: a LEXICAL leg (Okapi BM25 over the
# query document's distinct terms, bm25_topk_docs's exact scoring shape)
# and a VECTOR leg (brute cosine over the aligned embeddings, cosine_topk's
# exact expressions), fused by RRF: score(c) = sum over legs of
# 1 / (K0 + rank_leg(c)) — the fusion needs no score calibration between
# BM25's unbounded sums and cosine's [-1, 1], which is exactly why RRF won
# in practice (Cormack et al. 2009). The fixture makes it real: vec_id IS
# doc_id in the testdata, so query ids < N_QUERY_VECS carry both text and
# an embedding, and the two legs rank the SAME candidate universe (all
# other documents).
#
# Determinism discipline: each leg ranks on its own rounded score (6 dp
# cosine / 4 dp BM25, the legs' registered conventions), RRF contributions
# cross the fusion as INTEGER micro-units round(1e6 / (K0 + rank)) — no
# denominator in 61..(60+L) produces a .5 midpoint — and the fused rank
# ties break on c_id. Both legs and the fusion replay in DuckDB, so every
# fused rank is value-checked.
#
# Scale posture: the vector leg is the brute baseline (the ANN indexes are
# the documented scale path — any of them can substitute as the leg since
# fusion only consumes ranks); the lexical leg restricts postings to query
# terms BEFORE the tf aggregate (the bm25_topk_docs plan); the fusion
# frame is Q x 2L rows — driver-bounded however big the corpus.
# --------------------------------------------------------------------------
HYBRID_L = 20  # per-leg shortlist depth
HYBRID_K = 10  # fused results per query
RRF_K0 = 60  # the standard RRF constant


@query(
    "hybrid_rrf_retrieval",
    oracle=f"""
    WITH qv AS (
      SELECT vec_id AS q_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id < {N_QUERY_VECS}
    ),
    cv AS (
      SELECT vec_id AS c_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    vs AS (
      SELECT q_id, c_id,
             ROUND(list_cosine_similarity(qv.v, cv.v), 6) AS sim6
      FROM qv CROSS JOIN cv WHERE c_id <> q_id
    ),
    vr AS (
      SELECT q_id, c_id,
             CAST(ROUND(1000000.0 / ({RRF_K0} + rk)) AS BIGINT) AS u_v
      FROM (SELECT q_id, c_id,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY sim6 DESC, c_id) AS rk
            FROM vs)
      WHERE rk <= {HYBRID_L}
    ),
    qt AS (
      SELECT doc_id AS qid,
             unnest(list_distinct({_SQL_TOKS})) AS term
      FROM documents WHERE doc_id < {N_QUERY_VECS}
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
      WHERE pq.doc_id <> qt.qid
      GROUP BY 1, 2
    ),
    lr AS (
      SELECT qid AS q_id, doc_id AS c_id,
             CAST(ROUND(1000000.0 / ({RRF_K0} + rk)) AS BIGINT) AS u_l
      FROM (SELECT qid, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY score DESC, doc_id) AS rk
            FROM sc)
      WHERE rk <= {HYBRID_L}
    ),
    f AS (
      SELECT COALESCE(vr.q_id, lr.q_id) AS q_id,
             COALESCE(vr.c_id, lr.c_id) AS c_id,
             COALESCE(u_v, 0) + COALESCE(u_l, 0) AS rrf_u,
             vr.c_id IS NOT NULL AS in_vector,
             lr.c_id IS NOT NULL AS in_lexical
      FROM vr FULL JOIN lr ON vr.q_id = lr.q_id AND vr.c_id = lr.c_id
    )
    SELECT q_id, CAST(rk AS BIGINT) AS rk, c_id, rrf_u,
           in_vector, in_lexical
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                       ORDER BY rrf_u DESC, c_id) AS rk
          FROM f)
    WHERE rk <= {HYBRID_K}
    """,
)
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, rk, c_id, rrf_u, in_vector, in_lexical): reciprocal-rank
    fusion of the BM25 lexical leg and the brute-cosine vector leg over
    the aligned document/embedding corpus."""
    from parallel_mapreduce_spark.functions.similarity import (
        as_double,
        cosine6,
        l2_norm,
    )
    from parallel_mapreduce_spark.functions.text import _spread

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    n_parts = partition_count(spark)
    rrf_u = lambda rk: (  # noqa: E731
        F.round(F.lit(1000000.0) / (F.lit(RRF_K0) + rk)).cast("long")
    )

    # ---- vector leg (cosine_topk's exact expressions, depth HYBRID_L)
    vecs = emb.select("vec_id", as_double(F.col("embedding")).alias("e"))
    q = vecs.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"),
        F.col("e").alias("qv"),
        l2_norm(F.col("e")).alias("qn"),
    )
    c = vecs.repartition(n_parts).select(
        F.col("vec_id").alias("c_id"),
        F.col("e").alias("cv"),
        l2_norm(F.col("e")).alias("cn"),
    )
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", cosine6("qv", "cv", "qn", "cn").alias("sim6"))
    )
    vr = top_k(
        sims, "q_id", [F.col("sim6").desc(), F.col("c_id")], HYBRID_L
    ).select("q_id", "c_id", rrf_u(F.col("rk")).alias("u_v"))

    # ---- lexical leg (bm25_topk_docs's exact scoring shape; query term
    # sets are the query documents' distinct tokens)
    qt = docs.filter(F.col("doc_id") < N_QUERY_VECS).select(
        F.col("doc_id").alias("qid"),
        F.explode(F.array_distinct(tokens("text"))).alias("term"),
    )
    uterms = qt.select("term").distinct()
    t = _spread(spark, docs, "doc_id", "text").select(
        "doc_id", tokens("text").alias("toks")
    )
    d_stats = (
        t.select("doc_id", F.size("toks").cast("long").alias("dl"))
        .filter(F.col("dl") > 0)
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.avg("dl"), 6).alias("avgdl"),
        )
    )
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
    dfq = pq.groupBy("term").agg(F.count("*").cast("long").alias("dfreq"))
    idf = F.log(
        F.lit(1)
        + (F.col("n_docs") - F.col("dfreq") + 0.5) / (F.col("dfreq") + 0.5)
    )
    contrib = idf * F.col("tf") * (BM25_K1 + 1) / (
        F.col("tf")
        + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    sc = (
        pq.join(F.broadcast(qt), "term")
        .filter(F.col("doc_id") != F.col("qid"))
        .join(F.broadcast(dfq), "term")
        .crossJoin(F.broadcast(d_stats))
        .groupBy("qid", "doc_id")
        .agg(F.round(F.sum(contrib), 4).alias("score"))
    )
    lr = (
        top_k(sc, "qid", [F.col("score").desc(), F.col("doc_id")], HYBRID_L)
        .select(
            F.col("qid").alias("q_id"),
            F.col("doc_id").alias("c_id"),
            rrf_u(F.col("rk")).alias("u_l"),
        )
    )

    # ---- RRF fusion (Q x 2L rows, driver-bounded)
    f = vr.join(lr, ["q_id", "c_id"], "full").select(
        "q_id",
        "c_id",
        (F.coalesce("u_v", F.lit(0)) + F.coalesce("u_l", F.lit(0))).alias(
            "rrf_u"
        ),
        F.col("u_v").isNotNull().alias("in_vector"),
        F.col("u_l").isNotNull().alias("in_lexical"),
    )
    return (
        top_k(f, "q_id", [F.col("rrf_u").desc(), F.col("c_id")], HYBRID_K)
        .select(
            "q_id",
            F.col("rk").cast("long").alias("rk"),
            "c_id",
            "rrf_u",
            "in_vector",
            "in_lexical",
        )
    )
