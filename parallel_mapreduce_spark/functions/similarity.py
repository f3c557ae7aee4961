"""Similarity search over the `embeddings` table (array<float> vectors).

LLM-pipeline operator mandated by the north star (SURVEY.md §2.3). Two paths:

- ``cosine_topk``: brute-force cosine top-k for a small query set — the
  correctness baseline, fully oracle-checked against DuckDB. The query side is
  broadcast, so the candidate side streams with no shuffle; all vector math is
  JVM-side higher-order functions (zip_with/aggregate), no Python UDFs.
- ``ann_lsh_topk``: the scale path — random-hyperplane LSH buckets, cosine
  ranked only within a bucket. At 1000 executors this turns the O(Q x N)
  cross-product into O(Q x N / 2^planes) with one shuffle on bucket id.
  The planes are deterministic arithmetic, embedded as literals in the DuckDB
  oracle => fully value-checked; recall vs brute force additionally asserted
  in tests/test_similarity.py.

Ranking determinism across engines: scores are rounded to 6 decimals before
rank (sum-order float noise is ~1e-15), ties broken by candidate id.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import tempfile
from functools import reduce
from operator import and_
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from parallel_mapreduce_spark.registry import query
from parallel_mapreduce_spark.operators.rank import top_k
from parallel_mapreduce_spark.session import (
    bounded_persist,
    partition_count,
    reliable_checkpoint,
)
from parallel_mapreduce_spark.sources import cut, load_table, table_bytes

N_QUERY_VECS = 10  # vec_id < 10 are the query vectors
TOP_K = 5
N_TABLES = 4  # independent LSH tables (multi-table raises recall)
N_PLANES = 4  # sign bits per table => 16 buckets/table


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def vector_sql(vec) -> str:
    """Spark SQL text of an array<double> literal holding ``vec``: one
    parsed expression instead of one py4j-built literal per coordinate.
    Bit-exact: ``repr`` is the shortest text that round-trips the double
    and the ``D`` suffix parses it as one. NaN and the infinities have no
    literal syntax, so they cast from their names."""
    def one(x) -> str:
        x = float(x)
        return f"{x!r}D" if math.isfinite(x) else f"CAST('{x}' AS DOUBLE)"

    return "array(" + ", ".join(one(x) for x in vec) + ")"


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def sqdist(a: Column, b: Column) -> Column:
    """Squared L2 distance of two equal-length vectors, folded in array
    order and NOT rounded: each caller applies its own ranking precision
    (6 dp in ``centroid_dists``, integer micro-units in the ADC tables)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def centroid_dists(vec: Column, book, id: str, where=None, carry=()) -> Column:
    """array<struct<d, <id>, <carry>...>>: the distance from ``vec`` to
    every centroid ``c`` of the codebook array ``book``, rounded to 6 dp
    (the oracles' ``ROUND(SUM((v - c) ^ 2), 6)``). ``where`` (a predicate
    on a book entry) drops entries first; ``carry`` names entry fields to
    ride along with the winner.

    ``d`` leads the struct, so ``F.array_min(...)[id]`` is the nearest
    centroid with ties toward the lower id — the ``ORDER BY d, id`` every
    oracle replays — and ``F.array_sort`` ranks the same way."""
    if where is not None:
        book = F.filter(book, where)
    return F.transform(
        book,
        lambda x: F.struct(
            F.round(sqdist(vec, x.getField("c")), 6).alias("d"),
            x.getField(id).alias(id),
            *[x.getField(c).alias(c) for c in carry],
        ),
    )


def codebook_row(long: DataFrame, keys, val: str, vec: str, book) -> DataFrame:
    """Pack ``(key..., pos, val)`` rows into ordered vectors: one ``vec``
    array per key, positions in ``pos`` order. With ``book`` set, the
    per-key rows collect further into ONE row whose ``book`` column is
    array<struct<key..., vec>> sorted on the keys — the broadcast
    codebook the assignments scan; ``book=None`` returns the per-key
    rows, and no keys gives one row."""
    packed = long.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col(val)))),
            lambda x: x.getField(val),
        ).alias(vec)
    )
    if book is None:
        return packed
    return packed.agg(F.array_sort(F.collect_list(F.struct(*keys, vec))).alias(book))


def lloyd_update(assigned: DataFrame, keys, vec: str) -> DataFrame:
    """One Lloyd update, the per-key reduce of k-means: each assigned
    vector posexplodes into ``(key..., pos, val)`` and every (key, pos)
    mean rounds to 6 dp — ``(key..., pos, cval)`` rows for
    ``codebook_row``."""
    return (
        assigned.select(*keys, F.posexplode(vec).alias("pos", "val"))
        .groupBy(*keys, "pos")
        .agg(F.round(F.avg("val"), 6).alias("cval"))
    )


def l2_norm(vec: Column) -> Column:
    return F.sqrt(F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine6(a: str, b: str, na: str, nb: str) -> Column:
    """Cosine of vector columns ``a``/``b`` over their precomputed norms
    ``na``/``nb``, rounded to the 6-dp ranking precision — the rounding
    policy every DuckDB oracle mirrors with ``ROUND(..., 6)``."""
    return F.round(dot(F.col(a), F.col(b)) / (F.col(na) * F.col(nb)), 6)


def _cosine_topk(sims: DataFrame, k: int = TOP_K) -> DataFrame:
    """(q_id, c_id, cosine): the top-``k`` candidates per query of a
    (q_id, c_id, sim6) frame, ranked by (sim6 desc, c_id)."""
    return top_k(sims, "q_id", [F.col("sim6").desc(), F.col("c_id")], k).select(
        "q_id", "c_id", (F.col("sim6") + F.lit(0.0)).alias("cosine")
    )


# --------------------------------------------------------------------------
# Brute-force cosine top-k (oracle-checked baseline).
# --------------------------------------------------------------------------
def _cosine_topk_oracle(src: str = "embeddings") -> str:
    """DuckDB brute-force cosine top-k over the (vec_id, embedding)
    relation ``src`` — parameterized for the clustered-fixture legs."""
    return f"""
    WITH q AS (
      SELECT vec_id AS q_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM {src} WHERE vec_id < {N_QUERY_VECS}
    ), c AS (
      SELECT vec_id AS c_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM {src}
    ), s AS (
      SELECT q_id, c_id,
             ROUND(list_cosine_similarity(qv, cv), 6) AS sim6
      FROM q CROSS JOIN c WHERE q_id <> c_id
    )
    SELECT q_id, c_id, sim6 + 0.0 AS cosine
    FROM (SELECT q_id, c_id, sim6,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY sim6 DESC, c_id) AS rk
          FROM s)
    WHERE rk <= {TOP_K}
    """


@query("cosine_topk", oracle=_cosine_topk_oracle(), headline=True)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cosine_topk_frame(spark, sf_dir)


def _cosine_topk_frame(
    spark: SparkSession, sf_dir: str, vecs: DataFrame | None = None
) -> DataFrame:
    # Norms are computed ONCE per vector (narrow pass), not per pair — at N
    # candidates x Q queries that's the difference between O(N+Q) and O(NQ)
    # norm work. The candidate side is repartitioned: a small parquet file
    # scans as one split, and the per-pair dot products are the CPU-heavy
    # part worth spreading across all cores.
    if vecs is None:
        emb = load_table(spark, sf_dir, "embeddings")
        vecs = emb.select("vec_id", as_double("embedding").alias("e"))
    n_parts = partition_count(spark)
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
    return _cosine_topk(sims)


# --------------------------------------------------------------------------
# LSH-bucketed ANN (scale path, rows-only): multi-table random-hyperplane
# LSH. Each of N_TABLES tables buckets vectors by N_PLANES sign bits; a
# candidate is any vector sharing a bucket with the query in ANY table
# (multi-table union is the standard recall lever). Deterministic
# pseudo-random planes: table t, plane p, dim i ->
# ((i * 1103515245 + (t * N_PLANES + p) * 12345 + 12345) mod 2048)/1024 - 1.
# --------------------------------------------------------------------------
def _plane(p: int, dim: int) -> list[float]:
    return [((i * 1103515245 + p * 12345 + 12345) % 2048) / 1024.0 - 1.0 for i in range(dim)]


# The planes are deterministic arithmetic, so the DuckDB oracles below embed
# the SAME plane constants as list literals and recompute the identical
# buckets — full value checks for the LSH paths, not rows-only. The literals
# need the vector dimension at SQL-generation time: the driver testdata is
# dim-64 at every scale factor (checked across sf0.001/0.01/0.1); the Spark
# side still reads the dim from the data.
EMB_DIM = 64


def _plane_sql(p: int, dim: int = EMB_DIM) -> str:
    return "[" + ", ".join(str(v) for v in _plane(p, dim)) + "]"


def _bucket_sql(t: int, n_planes: int) -> str:
    """DuckDB expression for table t's bucket id over vector column ``e`` —
    the same sign-bit fold as :func:`lsh_table_buckets` (plane p carries
    weight 2^(n_planes-1-p))."""
    terms = [
        f"CASE WHEN list_dot_product(e, {_plane_sql(t * n_planes + p)}) > 0"
        f" THEN {2 ** (n_planes - 1 - p)} ELSE 0 END"
        for p in range(n_planes)
    ]
    return " + ".join(terms)


def _buckets_cte_sql(n_planes: int) -> str:
    """UNION ALL over LSH tables: (vec_id, e, tbl, bucket) rows."""
    return "\n      UNION ALL\n".join(
        f"      SELECT vec_id, e, {t} AS tbl, {_bucket_sql(t, n_planes)} AS bucket FROM v"
        for t in range(N_TABLES)
    )


def lsh_table_buckets(vec: Column, dim: int, n_planes: int = N_PLANES) -> Column:
    """array<struct<table:int, bucket:int>> — one bucket id per LSH table."""
    entries = []
    for t in range(N_TABLES):
        bucket = F.lit(0)
        for p in range(n_planes):
            plane = F.expr(vector_sql(_plane(t * n_planes + p, dim)))
            bit = F.when(dot(vec, plane) > 0, F.lit(1)).otherwise(F.lit(0))
            bucket = bucket * 2 + bit
        entries.append(
            F.struct(F.lit(t).alias("table"), bucket.alias("bucket"))
        )
    return F.array(*entries)


def _lsh_topk_oracle(src: str = "embeddings") -> str:
    """DuckDB replay of the multi-table hyperplane-LSH top-k over the
    (vec_id, embedding) relation ``src``."""
    return f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM {src}
    ),
    b AS (
{_buckets_cte_sql(N_PLANES)}
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
      FROM b q JOIN b c ON q.tbl = c.tbl AND q.bucket = c.bucket
      WHERE q.vec_id < {N_QUERY_VECS} AND q.vec_id <> c.vec_id
    ),
    s AS (
      SELECT cand.q_id, cand.c_id,
             ROUND(list_cosine_similarity(a.e, c.e), 6) AS sim6
      FROM cand
      JOIN v a ON a.vec_id = cand.q_id
      JOIN v c ON c.vec_id = cand.c_id
    )
    SELECT q_id, c_id, sim6 + 0.0 AS cosine
    FROM (SELECT q_id, c_id, sim6,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY sim6 DESC, c_id) AS rk
          FROM s)
    WHERE rk <= {TOP_K}
    """


@query("ann_lsh_topk", oracle=_lsh_topk_oracle())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per query among candidates sharing any LSH table bucket.

    Scale shape: candidate generation is an equi-join on (table, bucket) —
    at 1000 executors the full O(Q x N) cross product never materializes;
    each table contributes ~N / 2^N_PLANES candidates per query.
    """
    return _lsh_topk_frame(spark, sf_dir)


def _lsh_topk_frame(
    spark: SparkSession, sf_dir: str, emb: DataFrame | None = None
) -> DataFrame:
    if emb is None:
        emb = load_table(spark, sf_dir, "embeddings")
    # EMB_DIM is a build-time constant (the oracle SQL already embeds planes
    # of this length as literals); probing the data with .first() here would
    # run a Spark job at plan-construction time. tests/test_similarity.py
    # pins that the corpus dimension matches EMB_DIM at every sf.
    dim = EMB_DIM
    n_parts = partition_count(spark)
    vecs = emb.repartition(n_parts).select(
        "vec_id",
        as_double("embedding").alias("v"),
        l2_norm(as_double("embedding")).alias("nrm"),
    )
    buckets = vecs.select(
        "vec_id",
        "v",
        "nrm",
        F.explode(lsh_table_buckets(F.col("v"), dim)).alias("tb"),
    ).select("vec_id", "v", "nrm", "tb.table", "tb.bucket")
    q = buckets.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        "table",
        "bucket",
    )
    cand = (
        buckets.join(F.broadcast(q), ["table", "bucket"])
        .filter(F.col("q_id") != F.col("vec_id"))
        .select("q_id", "qv", "qn", F.col("vec_id").alias("c_id"), "v", "nrm")
        .dropDuplicates(["q_id", "c_id"])  # union of tables, score once
    )
    sims = cand.select(
        "q_id", "c_id", cosine6("qv", "v", "qn", "nrm").alias("sim6")
    )
    return _cosine_topk(sims)


# --------------------------------------------------------------------------
# IVF ANN (inverted-file index): the second scale path beside LSH.
# Index build = distributed k-means-style partitioning: deterministic seed
# centroids -> one Lloyd refinement (assign + per-dimension mean via
# posexplode/groupBy — the classic distributed k-means iteration) -> every
# vector assigned to its nearest cell. Search = probe the IVF_NPROBE nearest
# cells per query, brute-force cosine only within those cells.
#
# Scale shape: centroids are O(K x dim) — always broadcast; the index build
# is two narrow passes over the vectors plus one K-sized shuffle; search
# touches ~IVF_NPROBE/K of the corpus instead of all of it. The whole build
# is deterministic (seed cells = first IVF_K non-query vectors, one Lloyd
# step, rounded-cosine argmin with cid tie-break), so the DuckDB oracle
# recomputes it declaratively — full value check; score agreement with brute
# force on common pairs is additionally asserted in tests/test_similarity.py.
# --------------------------------------------------------------------------
IVF_K = 16  # inverted-file cells
IVF_NPROBE = 6  # cells probed per query


def _argmin_cell(vecs: DataFrame, cents: DataFrame, keep: list[str]) -> DataFrame:
    """Assign each vector to its nearest centroid by cosine (deterministic
    tie-break on cell id); `keep` columns ride along inside the min-struct."""
    sim6 = cosine6("v", "cv", "nrm", "cn")
    scored = vecs.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        F.struct(
            (-sim6).alias("neg_sim"),
            F.col("cid").alias("cid"),
            *[F.col(c).alias(c) for c in keep],
        ).alias("cand"),
    )
    best = scored.groupBy("vec_id").agg(F.min("cand").alias("best"))
    return best.select(
        "vec_id",
        F.col("best.cid").alias("cid"),
        *[F.col(f"best.{c}").alias(c) for c in keep],
    )


def ivf_centroids(vecs: DataFrame) -> DataFrame:
    """(cid, cv, cn) — seeds are the first IVF_K non-query vectors, refined by
    one Lloyd step (per-dimension mean of each seed's Voronoi cell)."""
    seeds = vecs.filter(
        (F.col("vec_id") >= N_QUERY_VECS) & (F.col("vec_id") < N_QUERY_VECS + IVF_K)
    ).select(
        (F.col("vec_id") - N_QUERY_VECS).cast("int").alias("cid"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    assigned = _argmin_cell(vecs, seeds, keep=["v"])
    dims = assigned.select("cid", F.posexplode("v").alias("pos", "x"))
    means = dims.groupBy("cid", "pos").agg(F.avg("x").alias("m"))
    return codebook_row(means, ["cid"], "m", "cv", None).withColumn(
        "cn", l2_norm(F.col("cv"))
    )


def _ivf_scored_ctes(src: str = "embeddings") -> str:
    """Shared IVF CTE chain ending at ``s`` = every (q_id, c_id, sim6)
    candidate pair inside the probed cells — the frame both the plain
    top-k and the round-11 filtered-search family cut from."""
    return f"""v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM {src}
    ),
    seeds AS (
      SELECT (vec_id - {N_QUERY_VECS})::INT AS cid, e AS cv
      FROM v
      WHERE vec_id >= {N_QUERY_VECS} AND vec_id < {N_QUERY_VECS + IVF_K}
    ),
    assigned AS (
      SELECT vec_id, cid, e FROM (
        SELECT v.vec_id, s.cid, v.e,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY ROUND(list_cosine_similarity(v.e, s.cv), 6) DESC,
                          s.cid) AS rk
        FROM v CROSS JOIN seeds s
      ) WHERE rk = 1
    ),
    dims AS (
      SELECT cid, i AS pos, e[i + 1] AS x
      FROM assigned CROSS JOIN range({EMB_DIM}) r(i)
    ),
    cents AS (
      SELECT cid, list(m ORDER BY pos) AS cv
      FROM (SELECT cid, pos, AVG(x) AS m FROM dims GROUP BY cid, pos)
      GROUP BY cid
    ),
    idx AS (
      SELECT vec_id, cid FROM (
        SELECT v.vec_id, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY ROUND(list_cosine_similarity(v.e, c.cv), 6) DESC,
                          c.cid) AS rk
        FROM v CROSS JOIN cents c
      ) WHERE rk = 1
    ),
    probes AS (
      SELECT q_id, cid FROM (
        SELECT v.vec_id AS q_id, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY ROUND(list_cosine_similarity(v.e, c.cv), 6) DESC,
                          c.cid) AS rk
        FROM v CROSS JOIN cents c
        WHERE v.vec_id < {N_QUERY_VECS}
      ) WHERE rk <= {IVF_NPROBE}
    ),
    s AS (
      SELECT p.q_id, i.vec_id AS c_id,
             ROUND(list_cosine_similarity(a.e, b.e), 6) AS sim6
      FROM probes p
      JOIN idx i ON i.cid = p.cid AND i.vec_id <> p.q_id
      JOIN v a ON a.vec_id = p.q_id
      JOIN v b ON b.vec_id = i.vec_id
    )"""


def _ivf_topk_oracle(src: str = "embeddings") -> str:
    """DuckDB replay of the IVF prune-and-rerank pipeline over the
    (vec_id, embedding) relation ``src``."""
    return f"""
    WITH {_ivf_scored_ctes(src)}
    SELECT q_id, c_id, sim6 + 0.0 AS cosine
    FROM (SELECT q_id, c_id, sim6,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY sim6 DESC, c_id) AS rk
          FROM s)
    WHERE rk <= {TOP_K}
    """


@query("ann_ivf_topk", oracle=_ivf_topk_oracle())
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per query among vectors in the query's IVF_NPROBE nearest cells."""
    return _ivf_topk_frame(spark, sf_dir)


def _ivf_scored_frame(
    spark: SparkSession, sf_dir: str, emb: DataFrame | None = None
) -> DataFrame:
    """(q_id, c_id, sim6): every candidate pair inside each query's
    IVF_NPROBE probed cells, scored — the engine twin of the oracle's
    ``s`` CTE, shared by the plain and the filtered top-k."""
    if emb is None:
        emb = load_table(spark, sf_dir, "embeddings")
    n_parts = partition_count(spark)
    vecs = emb.repartition(n_parts).select(
        "vec_id",
        as_double("embedding").alias("v"),
        l2_norm(as_double("embedding")).alias("nrm"),
    )
    cents = ivf_centroids(vecs)
    index = _argmin_cell(vecs, cents, keep=["v", "nrm"])  # (vec_id, cid, v, nrm)
    # Query side: rank ALL cells per query, keep the IVF_NPROBE nearest.
    q = vecs.filter(F.col("vec_id") < N_QUERY_VECS)
    cells = q.crossJoin(F.broadcast(cents)).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        "cid",
        cosine6("v", "cv", "nrm", "cn").alias("csim"),
    )
    probes = top_k(
        cells, "q_id", [F.col("csim").desc(), F.col("cid")], IVF_NPROBE
    ).select("q_id", "qv", "qn", "cid")
    cand = index.join(F.broadcast(probes), "cid").filter(
        F.col("q_id") != F.col("vec_id")
    )
    return cand.select(
        "q_id",
        F.col("vec_id").alias("c_id"),
        cosine6("qv", "v", "qn", "nrm").alias("sim6"),
    )


def _ivf_topk_frame(
    spark: SparkSession, sf_dir: str, emb: DataFrame | None = None
) -> DataFrame:
    return _cosine_topk(_ivf_scored_frame(spark, sf_dir, emb=emb))


# --------------------------------------------------------------------------
# Per-label embedding stats (oracle-checked vector math sanity).
# --------------------------------------------------------------------------
@query(
    "embedding_stats",
    oracle="""
    SELECT label, COUNT(*) AS n_vecs,
           ROUND(AVG(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS avg_norm
    FROM embeddings
    GROUP BY label
    """,
)
def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.avg(l2_norm(as_double(F.col("embedding")))), 4).alias("avg_norm"),
    )


# --------------------------------------------------------------------------
# Embedding-cosine near-dup (dedup by embedding): all pairs above a cosine
# threshold within a bounded id range — the oracle-checked exact form of
# embedding dedup; the unbounded scale path is the LSH bucket join above.
# --------------------------------------------------------------------------
EMB_DEDUP_MAX_ID = 500
EMB_DEDUP_THRESHOLD = 0.4  # calibrated to the synthetic corpus (max pair ~0.51-0.6)
EMB_DEDUP_N_PLANES = 8  # dedup variant: more planes than search — real
# near-dups sit at high cosine where collision probability stays usable,
# and the tighter buckets keep the pair join narrow


@query(
    "emb_neardup_pairs",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings WHERE vec_id < {EMB_DEDUP_MAX_ID}
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(a.e, b.e), 6) + 0.0 AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(a.e, b.e), 6) >= {EMB_DEDUP_THRESHOLD}
    """,
)
def emb_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < EMB_DEDUP_MAX_ID
    )
    n_parts = partition_count(spark)
    withn = emb.select(
        "vec_id",
        as_double("embedding").alias("e"),
        l2_norm(as_double("embedding")).alias("nrm"),
    )
    a = withn.repartition(n_parts).select(
        F.col("vec_id").alias("id_a"), F.col("e").alias("ea"), F.col("nrm").alias("na")
    )
    b = withn.select(
        F.col("vec_id").alias("id_b"), F.col("e").alias("eb"), F.col("nrm").alias("nb")
    )
    sim6 = cosine6("ea", "eb", "na", "nb")
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim6.alias("sim6"))
        .filter(F.col("sim6") >= EMB_DEDUP_THRESHOLD)
        .select("id_a", "id_b", (F.col("sim6") + F.lit(0.0)).alias("cosine"))
    )


# --------------------------------------------------------------------------
# Embedding near-dup, scale path: candidate pairs from shared LSH buckets
# (multi-table union), cosine-verified. The exact twin (emb_neardup_pairs
# above) is the oracle-checked baseline on a bounded id range; this is the
# unbounded formulation whose candidate join replaces the all-pairs product.
# Fully value-checked (literal-plane oracle recomputing the same buckets);
# containment in the exact pair set (same threshold, same range) is
# additionally asserted in tests/test_similarity.py.
# --------------------------------------------------------------------------
@query(
    "emb_neardup_lsh_pairs",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    b AS (
{_buckets_cte_sql(EMB_DEDUP_N_PLANES)}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
      FROM b a JOIN b c ON a.tbl = c.tbl AND a.bucket = c.bucket
      WHERE a.vec_id < c.vec_id
    )
    SELECT id_a, id_b,
           ROUND(list_cosine_similarity(x.e, y.e), 6) + 0.0 AS cosine
    FROM cand
    JOIN v x ON x.vec_id = cand.id_a
    JOIN v y ON y.vec_id = cand.id_b
    WHERE ROUND(list_cosine_similarity(x.e, y.e), 6) >= {EMB_DEDUP_THRESHOLD}
    """,
)
def emb_neardup_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    dim = EMB_DIM  # build-time constant; see ann_lsh_topk for why no probe
    n_parts = partition_count(spark)
    # Collapse identical vectors first (same shape as the text-dedup paths):
    # exact copies share every bucket, so the bucket join fans out
    # quadratically per copy group unless pairs are computed on distinct
    # vectors and expanded back afterwards. The SHUFFLE KEY is a 128-bit
    # digest of the vector bytes (md5 over the JSON rendering + length
    # tiebreak), exactly as dedup._digest_groups keys text groups — the
    # raw 64-float array (~512 B/row + per-row array hashing) never keys a
    # shuffle; vector bytes cross once, as the min_by group survivor.
    # Bit-identical copies only, which is exactly what replication produces.
    digest = F.md5(F.to_json(F.struct(F.col("embedding").alias("e"))))
    keyed = emb.select("vec_id", "embedding", digest.alias("_k"),
                       F.size("embedding").alias("_l"))
    groups = keyed.groupBy("_k", "_l").agg(
        F.min("vec_id").alias("rep"),
        F.min_by("embedding", "vec_id").alias("embedding"),
    )
    members = keyed.select("vec_id", "_k", "_l").join(
        groups.select("_k", "_l", "rep"), ["_k", "_l"]
    ).select("rep", "vec_id")
    reps = (
        groups.repartition(n_parts, "rep")
        .select(
            F.col("rep").alias("vec_id"),
            as_double("embedding").alias("v"),
            l2_norm(as_double("embedding")).alias("nrm"),
        )
    )
    buckets = reps.select(
        "vec_id",
        "v",
        "nrm",
        F.explode(
            lsh_table_buckets(F.col("v"), dim, n_planes=EMB_DEDUP_N_PLANES)
        ).alias("tb"),
    ).select("vec_id", "v", "nrm", "tb.table", "tb.bucket")
    a = buckets.alias("a")
    b = buckets.alias("b")
    sim6 = cosine6("a.v", "b.v", "a.nrm", "b.nrm")
    rep_pairs = (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            sim6.alias("sim6"),
        )
        .filter(F.col("sim6") >= EMB_DEDUP_THRESHOLD)
        .dropDuplicates(["id_a", "id_b"])  # union over tables, emit once
    )
    m = members.select("rep", "vec_id")
    ma = m.select(F.col("rep").alias("id_a"), F.col("vec_id").alias("ia"))
    mb = m.select(F.col("rep").alias("id_b"), F.col("vec_id").alias("ib"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            "sim6",
        )
    )
    # Within-group pairs: copies of one vector score its exact self-cosine
    # (numerically ~1.0; computed, not assumed, to stay output-identical).
    self_sim = reps.select(
        F.col("vec_id").alias("rep"),
        cosine6("v", "v", "nrm", "nrm").alias("sim6"),
    ).filter(F.col("sim6") >= EMB_DEDUP_THRESHOLD)
    g = m.join(self_sim, "rep")
    ga, gb = g.alias("ga"), g.alias("gb")
    within = ga.join(
        gb,
        (F.col("ga.rep") == F.col("gb.rep"))
        & (F.col("ga.vec_id") < F.col("gb.vec_id")),
    ).select(
        F.col("ga.vec_id").alias("id_a"),
        F.col("gb.vec_id").alias("id_b"),
        F.col("ga.sim6").alias("sim6"),
    )
    return (
        cross.unionByName(within)
        .select("id_a", "id_b", (F.col("sim6") + F.lit(0.0)).alias("cosine"))
    )


# --------------------------------------------------------------------------
# Per-source embedding centroids + dispersion: the domain-curation
# analytics a pretraining mix needs — a centroid per document source
# (element-wise mean vector, long format so the oracle compares scalar
# floats, never float arrays) and each source's dispersion around it
# (mean / max distance to centroid — low dispersion flags templated or
# near-duplicate domains, high flags noise).
#
# Plan shape: documents⋈embeddings is an id-aligned fact-fact join (no
# broadcast hint — both sides grow with the corpus; bucketing both tables
# by doc_id at ingest removes the exchange entirely). The element
# dimension is exploded, so the centroid aggregation is a (source, pos)
# keyed partial agg — 64 rows per source — and the dispersion pass joins
# those ~|sources|x64 centroid rows back broadcast-style (AQE picks
# broadcast; the centroid frame is bounded by the source vocabulary, not
# the corpus).
# --------------------------------------------------------------------------
_SQL_EMB_EXPLODED = """
  SELECT d.source, e.vec_id,
         unnest(list_transform(range(0, len(e.embedding)),
                i -> struct_pack(pos := i,
                                 v := CAST(e.embedding[i + 1] AS DOUBLE)))) AS u
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
"""


@query(
    "source_centroids",
    oracle=f"""
    WITH x AS ({_SQL_EMB_EXPLODED})
    SELECT source, u.pos AS pos,
           ROUND(AVG(u.v), 4) + 0.0 AS mean_val
    FROM x GROUP BY source, u.pos
    """,
)
def source_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.join(docs, emb.vec_id == docs.doc_id)
        .select("source", F.posexplode(as_double(F.col("embedding"))))
        .groupBy("source", "pos")
        # + 0.0 folds IEEE -0.0 to 0.0 — the engines disagree on the sign of
        # a rounded-to-zero mean, which flips the value hash.
        .agg((F.round(F.avg("col"), 4) + F.lit(0.0)).alias("mean_val"))
    )


@query(
    "source_embedding_dispersion",
    oracle=f"""
    WITH x AS ({_SQL_EMB_EXPLODED}),
    c AS (SELECT source, u.pos AS pos, AVG(u.v) AS c
          FROM x GROUP BY source, u.pos),
    d2 AS (
      SELECT x.source, x.vec_id, SUM((x.u.v - c.c) * (x.u.v - c.c)) AS sq
      FROM x JOIN c ON x.source = c.source AND x.u.pos = c.pos
      GROUP BY x.source, x.vec_id
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(sqrt(sq)), 4) AS mean_dist,
           ROUND(MAX(sqrt(sq)), 4) AS max_dist
    FROM d2 GROUP BY source
    """,
)
def source_embedding_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_dispersion(docs, emb)


def embedding_dispersion(docs: DataFrame, emb: DataFrame) -> DataFrame:
    """Core of source_embedding_dispersion over any (doc_id, source) +
    (vec_id, embedding) frames."""
    x = emb.join(docs, emb.vec_id == docs.doc_id).select(
        "source", "vec_id", F.posexplode(as_double(F.col("embedding")))
    )
    c = x.groupBy("source", "pos").agg(F.avg("col").alias("c"))
    sq = (
        x.join(c, ["source", "pos"])
        .groupBy("source", "vec_id")
        .agg(
            F.sum(
                (F.col("col") - F.col("c")) * (F.col("col") - F.col("c"))
            ).alias("sq")
        )
    )
    return sq.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(F.sqrt("sq")), 4).alias("mean_dist"),
        F.round(F.max(F.sqrt("sq")), 4).alias("max_dist"),
    )


SQ_OVERFETCH = 4 * TOP_K  # approx-phase candidates per query before rerank


def _quant(vec: Column, scale: Column) -> Column:
    """int8-range scalar quantization, same portable floor(+0.5) rounding as
    trainprep.embedding_quantize (the DuckDB twin recomputes it exactly)."""
    return F.transform(vec, lambda x: F.floor(x * 127.0 / scale + 0.5).cast("long"))


def _int_dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


# --------------------------------------------------------------------------
# Scalar-quantized ANN with exact rerank — the memory-bandwidth scale path
# (FAISS SQ8 shape): candidates are scored with an int8-range integer dot
# product (exact int64 arithmetic — fully portable across engines) scaled by
# the two per-vector max-abs factors, the top SQ_OVERFETCH per query survive,
# and only those pay the full-precision cosine. At scale the win is 4x less
# vector memory/bandwidth in the scan phase and integer SIMD scoring; the
# rerank touches OVERFETCH vectors per query instead of N. Every phase is
# deterministic, so the oracle replays quantization, approx ranking, and
# rerank bit-for-bit — a full value check, like the LSH/IVF paths.
# --------------------------------------------------------------------------
def _sq_topk_oracle(src: str = "embeddings") -> str:
    """DuckDB replay of the SQ-int8 overfetch+rerank pipeline over the
    (vec_id, embedding) relation ``src``."""
    return f"""
    WITH base AS (
      SELECT vec_id, embedding,
             greatest(list_max(list_transform(embedding, x -> abs(x))),
                      1e-30) AS scale,
             greatest(sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 1e-30)
               AS nrm
      FROM {src}
    ), qz AS (
      SELECT vec_id AS q_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv,
             list_transform(embedding,
               x -> CAST(floor(x * 127.0 / scale + 0.5) AS BIGINT)) AS qq,
             CAST(scale AS DOUBLE) AS qs,
             nrm AS qn
      FROM base WHERE vec_id < {N_QUERY_VECS}
    ), cz AS (
      SELECT vec_id AS c_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv,
             list_transform(embedding,
               x -> CAST(floor(x * 127.0 / scale + 0.5) AS BIGINT)) AS cq,
             CAST(scale AS DOUBLE) AS cs,
             nrm AS cn
      FROM base
    ), ap AS (
      SELECT q_id, c_id, qv, cv,
             ROUND(CAST(list_sum(list_transform(range(1, len(qq) + 1),
                                 i -> qq[i] * cq[i])) AS DOUBLE)
                   * qs * cs / (qn * cn), 6) AS approx6
      FROM qz CROSS JOIN cz WHERE q_id <> c_id
    ), cand AS (
      SELECT q_id, c_id, qv, cv
      FROM (SELECT q_id, c_id, qv, cv,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY approx6 DESC, c_id) AS ark
            FROM ap)
      WHERE ark <= {SQ_OVERFETCH}
    ), ex AS (
      SELECT q_id, c_id,
             ROUND(list_cosine_similarity(qv, cv), 6) AS sim6
      FROM cand
    )
    SELECT q_id, c_id, sim6 + 0.0 AS cosine
    FROM (SELECT q_id, c_id, sim6,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY sim6 DESC, c_id) AS rk
          FROM ex)
    WHERE rk <= {TOP_K}
    """


@query("ann_sq_topk", headline=True, oracle=_sq_topk_oracle())
def ann_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sq_topk_frame(spark, sf_dir)


def _sq_topk_frame(
    spark: SparkSession, sf_dir: str, emb: DataFrame | None = None
) -> DataFrame:
    if emb is None:
        emb = load_table(spark, sf_dir, "embeddings")
    n_parts = partition_count(spark)
    # greatest(., eps): an all-zero vector would otherwise divide by zero
    # into NaN quantized values, and NaN orders differently in Spark (sorts
    # largest) vs DuckDB — the guard keeps the candidate cut deterministic.
    scale = F.greatest(
        F.array_max(F.transform("embedding", lambda x: F.abs(x))), F.lit(1e-30)
    )
    # The approx phase ranks by QUANTIZED COSINE (int-dot rescaled by the
    # two scales, divided by the exact per-vector norms — one extra float
    # per vector, the FAISS IP->cosine convention). Ranking by the raw
    # rescaled dot worked on the isotropic corpus (uniform norms) but
    # COLLAPSED on the clustered fixture (recall 0.10: large-norm
    # clusters crowd out every query's own cluster in the overfetch) —
    # the exact defect class ann_recall_matrix_clustered exists to catch.
    nrm = F.greatest(l2_norm(as_double("embedding")), F.lit(1e-30))
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"),
        as_double("embedding").alias("qv"),
        _quant(F.col("embedding"), scale).alias("qq"),
        scale.cast("double").alias("qs"),
        nrm.alias("qn"),
    )
    c = emb.repartition(n_parts).select(
        F.col("vec_id").alias("c_id"),
        as_double("embedding").alias("cv"),
        _quant(F.col("embedding"), scale).alias("cq"),
        scale.cast("double").alias("cs"),
        nrm.alias("cn"),
    )
    approx6 = F.round(
        _int_dot(F.col("qq"), F.col("cq")).cast("double")
        * F.col("qs")
        * F.col("cs")
        / (F.col("qn") * F.col("cn")),
        6,
    )
    ap = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", "qv", "cv", approx6.alias("approx6"))
    )
    cand = top_k(
        ap,
        "q_id",
        [F.col("approx6").desc(), F.col("c_id")],
        SQ_OVERFETCH,
        rank="ark",
    ).select("q_id", "c_id", "qv", "cv")
    sim6 = F.round(
        dot(F.col("qv"), F.col("cv"))
        / (l2_norm(F.col("qv")) * l2_norm(F.col("cv"))),
        6,
    )
    return _cosine_topk(cand.select("q_id", "c_id", sim6.alias("sim6")))


# --------------------------------------------------------------------------
# Per-dimension embedding moments — the normalization/whitening-prep pass
# (feature means for centering, stds for scaling, before PCA/quantization).
# posexplode to a (pos, value) stream, one aggregation keyed by dimension
# index: 64 groups regardless of corpus size, fully partial-aggregable.
# Long format on purpose: the oracle compares scalar rows, never float
# arrays (same stance as source_centroids).
# --------------------------------------------------------------------------
@query(
    "embedding_dim_stats",
    oracle="""
    SELECT pos,
           ROUND(AVG(v), 4) AS dim_mean,
           ROUND(STDDEV_SAMP(v), 4) AS dim_std,
           ROUND(MIN(v), 4) AS dim_min,
           ROUND(MAX(v), 4) AS dim_max
    FROM (
      SELECT generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    )
    GROUP BY pos
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    n_parts = partition_count(spark)
    dims = (
        emb.select("embedding")
        .repartition(n_parts)
        .select(F.posexplode("embedding").alias("pos", "v"))
        .select("pos", F.col("v").cast("double").alias("v"))
    )
    return dims.groupBy("pos").agg(
        F.round(F.avg("v"), 4).alias("dim_mean"),
        F.round(F.stddev_samp("v"), 4).alias("dim_std"),
        F.round(F.min("v"), 4).alias("dim_min"),
        F.round(F.max("v"), 4).alias("dim_max"),
    )


KNN_MAX_ID = 300  # bounded eval set for the exact leave-one-out pass


# --------------------------------------------------------------------------
# 1-NN label accuracy (leave-one-out): predict each vector's label from its
# nearest neighbor by cosine, report accuracy per true label — the
# embedding-quality eval that decides whether an ANN index is worth
# building. Exact brute force over a bounded eval sample (the standard
# recipe: evaluate on a sample, deploy ANN on the corpus); ranking on
# ROUND(cos, 6) with a vec_id tie-break, same determinism stance as the
# ANN family.
# --------------------------------------------------------------------------
@query(
    "knn_label_accuracy",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings WHERE vec_id < {KNN_MAX_ID}
    ), p AS (
      SELECT a.vec_id, a.label AS true_label, b.label AS pred_label,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY ROUND(list_cosine_similarity(a.e, b.e), 6) DESC,
                        b.vec_id) AS rk
      FROM v a JOIN v b ON a.vec_id <> b.vec_id
    )
    SELECT true_label AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(COUNT(*) FILTER (pred_label = true_label) AS BIGINT)
             AS n_correct,
           floor(COUNT(*) FILTER (pred_label = true_label) * 1.0 / COUNT(*)
                 * 10000 + 0.5) / 10000 AS accuracy
    FROM p WHERE rk = 1 GROUP BY 1
    """,
)
def knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < KNN_MAX_ID
    )
    n_parts = partition_count(spark)
    v = emb.select(
        "vec_id",
        "label",
        as_double("embedding").alias("e"),
        l2_norm(as_double("embedding")).alias("nrm"),
    )
    a = v.repartition(n_parts).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("true_label"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = v.select(
        F.col("vec_id").alias("c_id"),
        F.col("label").alias("pred_label"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    ranked = top_k(
        a.join(F.broadcast(b), F.col("q_id") != F.col("c_id")).select(
            "q_id",
            "true_label",
            "pred_label",
            cosine6("ea", "eb", "na", "nb").alias("sim6"),
            "c_id",
        ),
        "q_id",
        [F.col("sim6").desc(), "c_id"],
        1,
    )
    correct = (F.col("pred_label") == F.col("true_label")).cast("long")
    return ranked.groupBy(F.col("true_label").alias("label")).agg(
        F.count("*").alias("n_vecs"),
        F.sum(correct).alias("n_correct"),
        (
            F.floor(F.sum(correct) * F.lit(1.0) / F.count("*") * 10000 + F.lit(0.5))
            / 10000
        ).alias("accuracy"),
    )


PCA_V0 = 0.125  # 1/sqrt(64): uniform unit start vector (exact in binary)


# --------------------------------------------------------------------------
# Top principal direction via POWER ITERATION (2 unrolled steps of
# v <- normalize(Sum_rows e * (e . v)) on the uncentered Gram matrix) —
# the iterative-numerical-algorithm slot, fully value-checked: every
# stage that sums across ROWS (whose order differs between engines) is
# rounded to 6 decimals as part of the algorithm spec, so both engines
# walk bit-identical intermediate vectors and the oracle replays the
# entire iteration literally in SQL.
#
# Plan shape per iteration: one posexplode aggregation keyed by dimension
# (64 groups, partial-aggregable) + a broadcast of the 64-value direction
# back to the rows — matrix-vector products as map-side joins; no
# |corpus|-keyed shuffle, no collect, no UDF.
# --------------------------------------------------------------------------
@query(
    "embedding_pca_power_iter",
    oracle=f"""
    WITH d0 AS (
      SELECT vec_id, embedding,
             ROUND({PCA_V0} * list_sum(
               list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS d0
      FROM embeddings
    ), x0 AS (
      SELECT generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val, d0
      FROM d0
    ), s1 AS (
      SELECT pos, ROUND(SUM(val * d0), 6) AS s1 FROM x0 GROUP BY pos
    ), n1 AS (SELECT sqrt(SUM(s1 * s1)) AS n1 FROM s1),
    v1 AS (SELECT pos, ROUND(s1 / n1, 6) AS v1 FROM s1 CROSS JOIN n1),
    d1 AS (
      SELECT x.vec_id, ROUND(SUM(x.val * v1.v1), 6) AS d1
      FROM (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS val
            FROM embeddings) x
      JOIN v1 USING (pos)
      GROUP BY x.vec_id
    ), x1 AS (
      SELECT generate_subscripts(e.embedding, 1) - 1 AS pos,
             CAST(unnest(e.embedding) AS DOUBLE) AS val, d1.d1
      FROM embeddings e JOIN d1 USING (vec_id)
    ), s2 AS (
      SELECT pos, ROUND(SUM(val * d1), 6) AS s2 FROM x1 GROUP BY pos
    ), n2 AS (SELECT sqrt(SUM(s2 * s2)) AS n2 FROM s2)
    SELECT pos, ROUND(s2 / n2, 4) + 0.0 AS loading
    FROM s2 CROSS JOIN n2
    """,
)
def embedding_pca_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    n_parts = partition_count(spark)
    e = as_double(F.col("embedding"))
    rows = emb.repartition(n_parts).select(
        "vec_id",
        e.alias("e"),
        F.round(
            F.lit(PCA_V0)
            * F.aggregate(e, F.lit(0.0), lambda acc, x: acc + x),
            6,
        ).alias("d0"),
    )
    s1 = (
        rows.select(F.posexplode("e").alias("pos", "val"), "d0")
        .groupBy("pos")
        .agg(F.round(F.sum(F.col("val") * F.col("d0")), 6).alias("s1"))
    )
    n1 = s1.agg(F.sqrt(F.sum(F.col("s1") * F.col("s1"))).alias("n1"))
    v1 = s1.crossJoin(F.broadcast(n1)).select(
        "pos", F.round(F.col("s1") / F.col("n1"), 6).alias("v1")
    )
    # Reshape the 64-row direction into ONE array row and broadcast it to
    # the corpus — the second matvec needs no corpus-keyed join.
    v1_arr = codebook_row(v1, [], "v1", "varr", None)
    d1 = rows.crossJoin(F.broadcast(v1_arr)).select(
        "e", F.round(dot(F.col("e"), F.col("varr")), 6).alias("d1")
    )
    s2 = (
        d1.select(F.posexplode("e").alias("pos", "val"), "d1")
        .groupBy("pos")
        .agg(F.round(F.sum(F.col("val") * F.col("d1")), 6).alias("s2"))
    )
    n2 = s2.agg(F.sqrt(F.sum(F.col("s2") * F.col("s2"))).alias("n2"))
    return s2.crossJoin(F.broadcast(n2)).select(
        "pos",
        (F.round(F.col("s2") / F.col("n2"), 4) + F.lit(0.0)).alias("loading"),
    )


# --------------------------------------------------------------------------
# K-means (Lloyd's algorithm), 2 fixed iterations: the canonical iterative-
# ML shape on Spark. Deterministic everything: init centroids are the K
# lowest-vec_id embeddings; assignment rounds squared L2 distance to 6 dp
# and breaks ties toward the lower centroid id; centroid updates round to
# 6 dp — so the DuckDB oracle replays both iterations. The replay is
# near-exact, not literally bit-for-bit: the engine folds squared diffs in
# array order (zip_with/aggregate) while the oracle SUMs in group order,
# so a distance landing within one ulp of a 1e-6 rounding midpoint could
# in principle round apart and flip an assignment. No observed corpus
# hits that midpoint; if one ever does, coarsen the tie-break (round to
# 4-5 dp before comparing, as weighted_sample_per_source does for skey)
# rather than tightening the rounding.
#
# Scale posture: each assignment pass is a crossJoin against ONE broadcast
# row holding all K centroids (K*dim doubles) — the distances and the
# argmin run inside the projection via array functions, so assignment adds
# NO shuffle; each update pass is one (cid, pos) hash aggregate over the
# posexploded assigned vectors (K*dim result rows). Per iteration: one
# corpus-scale aggregate, nothing else. An empty cluster (possible when
# duplicate init vectors tie every member toward the lower cid) simply
# contributes no centroid row, and both engines drop it identically.
# --------------------------------------------------------------------------
KMEANS_K = 4


def _book_match(key):
    """Predicate keeping the codebook entries whose ``key`` fields equal
    the row's own columns (None for an unkeyed book)."""
    if not key:
        return None
    return lambda x: reduce(and_, [x.getField(k) == F.col(k) for k in key])


def _nearest(df: DataFrame, cb_row: DataFrame, vec: str, key) -> DataFrame:
    """``df`` plus ``cid``: each row's nearest centroid in the one-row
    codebook ``cb_row`` (``cb``: array<struct<key..., cid, c>>), only
    entries whose ``key`` matches the row — the k-means assignment map,
    an argmin in the projection against the broadcast row (no shuffle)."""
    d = centroid_dists(F.col(vec), F.col("cb"), "cid", where=_book_match(key))
    return df.crossJoin(F.broadcast(cb_row)).select(
        *df.columns, F.array_min(d)["cid"].alias("cid")
    )


def _kmeans_2iter(spark: SparkSession, sf_dir: str):
    """(a2, c1_long): two Lloyd iterations from the K lowest-vec_id
    embeddings — a2 is (vec_id, e, cid), the final assignment; c1_long
    the (cid, pos, cval) centroids it used."""
    emb = load_table(spark, sf_dir, "embeddings")
    n_parts = partition_count(spark)
    vecs = emb.repartition(n_parts, "vec_id").select(
        "vec_id", as_double(F.col("embedding")).alias("e")
    )
    init = (
        emb.orderBy("vec_id")
        .limit(KMEANS_K)
        .select("vec_id", as_double(F.col("embedding")).alias("c"))
        .withColumn("cid", F.row_number().over(W.orderBy("vec_id")) - 1)
    )
    cents0 = init.agg(
        F.array_sort(F.collect_list(F.struct(F.col("cid"), F.col("c")))).alias("cb")
    )
    c1_long = lloyd_update(_nearest(vecs, cents0, "e", []), ["cid"], "e")
    cb1 = codebook_row(c1_long, ["cid"], "cval", "c", "cb")
    a2 = _nearest(vecs, cb1, "e", [])
    return a2, c1_long


@query(
    "kmeans_lloyd_2iter",
    headline=True,
    oracle=f"""
    WITH v AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    ), c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, vec_id
      FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {KMEANS_K})
    ), c0v AS (
      SELECT c0.cid, v.pos, v.val AS cval FROM c0 JOIN v USING (vec_id)
    ), d1 AS (
      SELECT v.vec_id, c.cid, ROUND(SUM((v.val - c.cval) ^ 2), 6) AS d
      FROM v JOIN c0v c USING (pos) GROUP BY v.vec_id, c.cid
    ), a1 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM d1) WHERE rn = 1
    ), c1 AS (
      SELECT a1.cid, v.pos, ROUND(AVG(v.val), 6) AS cval
      FROM a1 JOIN v USING (vec_id) GROUP BY a1.cid, v.pos
    ), d2 AS (
      SELECT v.vec_id, c.cid, ROUND(SUM((v.val - c.cval) ^ 2), 6) AS d
      FROM v JOIN c1 c USING (pos) GROUP BY v.vec_id, c.cid
    ), a2 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM d2) WHERE rn = 1
    ), sizes AS (
      SELECT cid, CAST(COUNT(*) AS BIGINT) AS n FROM a2 GROUP BY cid
    ), c2 AS (
      SELECT a2.cid, v.pos, ROUND(AVG(v.val), 4) + 0.0 AS center
      FROM a2 JOIN v USING (vec_id) GROUP BY a2.cid, v.pos
    )
    SELECT c2.cid, c2.pos, c2.center, sizes.n
    FROM c2 JOIN sizes USING (cid)
    """,
)
def kmeans_lloyd_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    a2, _ = _kmeans_2iter(spark, sf_dir)
    # Round-14 (guide §2.3 "don't compute things twice"): the cluster size
    # and the per-dimension mean come out of ONE (cid, pos) aggregation —
    # every vector contributes exactly one posexploded row per pos, so
    # count per (cid, pos) IS the cluster size. The previous form derived
    # `sizes` from a second consumer of a2 (a full extra assignment pass +
    # its own shuffle) and joined it back. Values pinned against the
    # DuckDB oracle by tests/test_oracle_parity.py
    # (test_query_matches_oracle[kmeans_lloyd_2iter]); the one-row-per-pos
    # invariant by tests/test_similarity.py
    # (test_fixture_embeddings_share_one_length).
    return (
        a2.select("cid", F.posexplode("e").alias("pos", "val"))
        .groupBy("cid", "pos")
        .agg(
            (F.round(F.avg("val"), 4) + F.lit(0.0)).alias("center"),
            F.count("*").alias("n"),
        )
        .select("cid", "pos", "center", "n")
    )


# --------------------------------------------------------------------------
# ANN quality evaluation: recall@k of the LSH-bucketed index against the
# exact brute-force top-k, per query — the metric that decides whether an
# index's bucket/table parameters are good enough to ship (the companion to
# knn_label_accuracy's end-task view). Composition of the two registered
# plans above: one LEFT join of the exact top-k list against the candidate
# list and a per-query conditional count. The eval frame is Q x K rows —
# trivially small at any corpus size; the expensive parts inherit the scale
# posture of the underlying queries (broadcast queries / bucket equi-join).
# --------------------------------------------------------------------------
from parallel_mapreduce_spark.registry import QUERIES as _QUERIES  # noqa: E402


@query(
    "ann_recall_at_k",
    oracle=f"""
    WITH exact AS (SELECT q_id, c_id FROM ({{exact_sql}})),
    approx AS (SELECT q_id, c_id FROM ({{lsh_sql}}))
    SELECT e.q_id AS q_id,
           CAST(COUNT(*) AS BIGINT) AS k_exact,
           CAST(SUM(CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           ROUND(SUM(CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 4) AS recall
    FROM exact e
    LEFT JOIN approx a ON e.q_id = a.q_id AND e.c_id = a.c_id
    GROUP BY e.q_id
    """.format(
        exact_sql=_QUERIES["cosine_topk"].oracle,
        lsh_sql=_QUERIES["ann_lsh_topk"].oracle,
    ),
)
def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = cosine_topk(spark, sf_dir).select("q_id", "c_id")
    approx = (
        ann_lsh_topk(spark, sf_dir)
        .select("q_id", "c_id")
        .withColumn("hit", F.lit(1))
    )
    j = exact.join(approx, ["q_id", "c_id"], "left")
    return j.groupBy("q_id").agg(
        F.count("*").cast("long").alias("k_exact"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hit"),
        F.round(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))) * 1.0 / F.count("*"), 4
        ).alias("recall"),
    )


# --------------------------------------------------------------------------
# SemDeDup (round 7): semantic dedup with CLUSTER-BOUNDED pair generation
# (Abbas et al. 2023, arXiv:2303.09540) — the third member of the
# embedding near-dup family: emb_neardup_pairs is the exact all-pairs
# baseline (bounded id range, quadratic by design), emb_neardup_lsh_pairs
# bounds candidates by hyperplane buckets, and this one bounds them by a
# k-means partition: assign every vector to its nearest seed centroid
# (the K lowest-vec_id embeddings, K corpus-derived below — the
# kmeans_lloyd_2iter init convention), then compare pairs ONLY within
# a cluster and prune all
# but the lowest vec_id of each duplicate pair (keep-first, the text
# near-dup convention). Result: per-cluster dedup report.
#
# Scale posture: candidate generation is a cid-keyed EQUI-join (co-
# partitioned self-join after one shuffle on cid), so pair count is
# sum_c n_c^2 instead of N^2 — and K now SCALES WITH THE CORPUS:
# K = max(8, ceil(N / SEMDEDUP_TARGET_CLUSTER)) from one bounded
# count(), so expected cluster size stays ~TARGET and the within-
# cluster pair work is ~N*TARGET — LINEAR in the corpus (round 7
# shipped a fixed K=8, which its own probe measured at wall exponent
# 1.56; with the derived K the re-probed exponent was ~linear at
# 1x/3x/10x). Round 9 closes the NEXT asymptote, measured for real:
# the 30x one-off probe (150k docs, K=1172) put the round-8 FLAT
# broadcast-argmin assignment at local slope 1.85 — N*K interpreted
# distance evaluations, run for each of the frame's three consumers —
# exactly the term round 8's comment predicted would take over. The
# shipped assignment is now HIERARCHICAL, the IVF-style two-level
# quantizer real systems use: the first C = ceil(sqrt(K)) seeds act as
# coarse centers (C computed by exact integer search on both engines —
# float sqrt could ceil differently at perfect squares); every seed
# joins a coarse GROUP (argmin over C, ties toward the lower ccid);
# every vector picks its coarse group (N*C evaluations) and then
# argmins over only that group's seeds (~N*K/C) — N*~2sqrt(K) total
# instead of N*K, and the assigned frame is PERSISTED so its three
# consumers (both pair-join sides + cluster sizes) pay it once (at
# 100 TB this cache is the standard materialized codes/assignment
# table every real pipeline writes). Re-probed 10x->30x local slope:
# see probes/results + README. The cluster ASSIGNMENT is thereby
# approximate exactly the way FAISS IVF coarse quantization is (a
# vector whose true nearest seed lives outside its coarse group lands
# in the runner-up cluster) — fine for SemDeDup, whose clustering is a
# candidate-bounding heuristic, and the oracle replays the identical
# two-level argmin so every assignment is still value-checked.
# Distances and cosines round to 6 dp before compare (the documented
# kmeans midpoint class); the oracle replays assignment via the same
# unnest-SUM CTE pattern as kmeans_lloyd_2iter.
# --------------------------------------------------------------------------
SEMDEDUP_MIN_K = 8  # floor: never fewer seeds than round 7's fixed K
SEMDEDUP_TARGET_CLUSTER = 128  # expected members per cluster (~bounds task)
SEMDEDUP_THRESHOLD = EMB_DEDUP_THRESHOLD  # same calibrated corpus threshold


@query(
    "semdedup_cluster_report",
    headline=True,
    oracle=f"""
    WITH v AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    ), ve AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), nv AS (
      SELECT GREATEST({SEMDEDUP_MIN_K},
                      (COUNT(*) + {SEMDEDUP_TARGET_CLUSTER} - 1)
                        // {SEMDEDUP_TARGET_CLUSTER}) AS k
      FROM embeddings
    ), nc AS (
      -- C = ceil(sqrt(K)) by EXACT integer search (float sqrt could
      -- ceil to K_root + 1 on a perfect square on one engine only).
      -- Constant range bound: DuckDB table functions cannot take
      -- subqueries; 10^6 covers K up to 10^12.
      SELECT MIN(i) AS c FROM range(1, 1000000) r(i)
      WHERE i * i >= (SELECT k FROM nv)
    ), c0 AS (
      SELECT cid, vec_id FROM (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, vec_id
        FROM embeddings)
      WHERE cid < (SELECT k FROM nv)
    ), cv AS (
      SELECT c0.cid, v.pos, v.val AS cval FROM c0 JOIN v USING (vec_id)
    ), coarse AS (
      SELECT cid AS ccid, pos, cval FROM cv
      WHERE cid < (SELECT c FROM nc)
    ), sg AS (
      -- seed -> coarse group (argmin over C, ties toward lower ccid)
      SELECT cid, ccid AS gcid FROM (
        SELECT s.cid, dc.ccid,
               ROW_NUMBER() OVER (PARTITION BY s.cid
                                  ORDER BY dc.d, dc.ccid) AS rn
        FROM c0 s JOIN (
          SELECT sv.cid, c.ccid, ROUND(SUM((sv.cval - c.cval) ^ 2), 6) AS d
          FROM cv sv JOIN coarse c USING (pos) GROUP BY 1, 2
        ) dc ON dc.cid = s.cid) WHERE rn = 1
    ), vg AS (
      -- vector -> coarse group (same argmin over the C coarse centers)
      SELECT vec_id, ccid AS gcid FROM (
        SELECT vec_id, ccid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d, ccid) AS rn
        FROM (
          SELECT v.vec_id, c.ccid, ROUND(SUM((v.val - c.cval) ^ 2), 6) AS d
          FROM v JOIN coarse c USING (pos) GROUP BY 1, 2
        )) WHERE rn = 1
    ), d AS (
      -- vector -> nearest seed WITHIN its coarse group only
      SELECT v.vec_id, s.cid, ROUND(SUM((v.val - s.cval) ^ 2), 6) AS d
      FROM v
      JOIN vg ON vg.vec_id = v.vec_id
      JOIN sg ON sg.gcid = vg.gcid
      JOIN cv s ON s.cid = sg.cid AND s.pos = v.pos
      GROUP BY 1, 2
    ), a AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM d) WHERE rn = 1
    ), m AS (
      SELECT a.cid, a.vec_id, ve.e FROM a JOIN ve USING (vec_id)
    ), pairs AS (
      SELECT x.cid, x.vec_id AS id_a, y.vec_id AS id_b
      FROM m x JOIN m y ON x.cid = y.cid AND x.vec_id < y.vec_id
      WHERE ROUND(list_cosine_similarity(x.e, y.e), 6)
              >= {SEMDEDUP_THRESHOLD}
    ), per AS (
      SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_dup_pairs,
             CAST(COUNT(DISTINCT id_b) AS BIGINT) AS n_pruned
      FROM pairs GROUP BY cid
    ), sizes AS (
      SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members FROM a GROUP BY cid
    )
    SELECT s.cid, s.n_members,
           CAST(COALESCE(p.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
           CAST(COALESCE(p.n_pruned, 0) AS BIGINT) AS n_pruned,
           ROUND(COALESCE(p.n_pruned, 0) * 1.0 / s.n_members, 4)
             AS prune_rate
    FROM sizes s LEFT JOIN per p USING (cid)
    """,
)
def semdedup_cluster_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    emb = load_table(spark, sf_dir, "embeddings")
    n_parts = partition_count(spark)
    # Corpus-derived cluster count (ONE bounded driver scalar): expected
    # cluster size ~TARGET_CLUSTER, so within-cluster pair work stays
    # linear in N. Integer ceiling division matches the oracle's nv CTE
    # exactly at any count; C = ceil(sqrt(K)) by exact integer isqrt to
    # match the oracle's integer search.
    n_vecs = emb.count()
    k = max(
        SEMDEDUP_MIN_K,
        (n_vecs + SEMDEDUP_TARGET_CLUSTER - 1) // SEMDEDUP_TARGET_CLUSTER,
    )
    n_coarse = math.isqrt(k)
    if n_coarse * n_coarse < k:
        n_coarse += 1
    vecs = emb.repartition(n_parts, "vec_id").select(
        "vec_id", as_double(F.col("embedding")).alias("e")
    )
    seeds = (
        emb.orderBy("vec_id")
        .limit(k)
        .select("vec_id", as_double(F.col("embedding")).alias("c"))
        .withColumn("cid", F.row_number().over(W.orderBy("vec_id")) - 1)
    )
    # Two-level assignment (see the header comment): seeds themselves
    # join a coarse group first; the one-row tagged seed table is the
    # only broadcast state.
    coarse_row = seeds.filter(F.col("cid") < n_coarse).agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("cid").alias("ccid"), F.col("c"))
            )
        ).alias("coarse")
    )
    seeds_tagged = seeds.crossJoin(F.broadcast(coarse_row)).select(
        F.array_min(centroid_dists(F.col("c"), F.col("coarse"), "ccid"))[
            "ccid"
        ].alias("gcid"),
        "cid",
        "c",
    )
    seeds_row = bounded_persist(
        seeds_tagged.agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("gcid"), F.col("cid"), F.col("c"))
                )
            ).alias("seeds")
        )
    )  # one row: K tagged seeds, consumed by the corpus pass
    coarse_of = lambda s: s.getField("cid") < F.lit(n_coarse)  # noqa: E731
    with_g = vecs.crossJoin(F.broadcast(seeds_row)).select(
        "vec_id",
        "e",
        "seeds",
        F.array_min(
            centroid_dists(F.col("e"), F.col("seeds"), "cid", where=coarse_of)
        )["cid"].alias("gcid"),
    )
    # PERSISTED: the assigned frame feeds both pair-join sides and the
    # cluster sizes — without the cache each consumer re-runs the whole
    # two-level assignment (this plus the hierarchy is what moved the
    # 10x->30x slope off 1.85). At 100 TB this cache is the materialized
    # assignment/codes table a real pipeline writes once.
    in_group = _book_match(["gcid"])  # the seeds of the vector's own group
    assigned = with_g.select(
        "vec_id",
        "e",
        F.array_min(
            centroid_dists(F.col("e"), F.col("seeds"), "cid", where=in_group)
        )["cid"].alias("cid"),
    ).withColumn("nrm", l2_norm(F.col("e")))
    assigned = bounded_persist(assigned)
    # cid-keyed co-partitioned self-join: the SemDeDup candidate bound.
    x = assigned.select(
        "cid",
        F.col("vec_id").alias("id_a"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    ).repartition(n_parts, "cid")
    y = assigned.select(
        "cid",
        F.col("vec_id").alias("id_b"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    sim6 = cosine6("ea", "eb", "na", "nb")
    pairs = (
        x.join(y, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("cid", "id_a", "id_b", sim6.alias("sim6"))
        .filter(F.col("sim6") >= SEMDEDUP_THRESHOLD)
    )
    per = pairs.groupBy("cid").agg(
        F.count("*").cast("long").alias("n_dup_pairs"),
        F.countDistinct("id_b").cast("long").alias("n_pruned"),
    )
    sizes = assigned.groupBy("cid").agg(
        F.count("*").cast("long").alias("n_members")
    )
    return sizes.join(per, "cid", "left").select(
        "cid",
        "n_members",
        F.coalesce(F.col("n_dup_pairs"), F.lit(0).cast("long")).alias(
            "n_dup_pairs"
        ),
        F.coalesce(F.col("n_pruned"), F.lit(0).cast("long")).alias("n_pruned"),
        F.round(
            F.coalesce(F.col("n_pruned"), F.lit(0)) * F.lit(1.0)
            / F.col("n_members"),
            4,
        ).alias("prune_rate"),
    )


# --------------------------------------------------------------------------
# Product quantization ANN (PQ-ADC) — the third member of the FAISS-shaped
# compression/pruning trio alongside IVF (prune: scan one cell's posting
# list) and SQ-int8 (compress: 1 byte/dim). PQ compresses to M bytes/vector
# REGARDLESS of dim: the vector splits into PQ_M subspaces, each subspace
# gets its own PQ_K-centroid codebook (one Lloyd iteration from the IVF-
# convention init, vec_ids N_QUERY_VECS..+PQ_K), and a vector is stored as
# its M nearest-centroid codes. Queries score candidates by ADC (asymmetric
# distance computation): ONE (Q x M x K)-row distance table per query
# batch, then every candidate's approximate distance is M integer table
# lookups — never a full-dim float op against the corpus.
#
# Determinism discipline (the kmeans_lloyd_2iter conventions, applied):
# per-subspace distances round to 6 dp with ties toward the lower cid; the
# trained codebook rounds to 6 dp; the ADC table converts to EXACT INTEGER
# micro-units (CAST(ROUND(d * 1e6) AS BIGINT)) so the per-candidate sum
# over M entries — the quantity that decides the ranking — is
# order-independent integer arithmetic on both engines. Same residual
# half-ulp caveat as kmeans on the 16-term float sums feeding each
# rounding; no shipped corpus hits a midpoint.
#
# Scale posture: the codebook is PQ_M x PQ_K x PQ_SUBDIM doubles — always
# broadcast; codes are the compressed index (M small ints per vector: the
# only corpus-scale state); the ADC scoring join is codes x broadcast
# query table with NO full-dim arithmetic; top-k is the salted two-phase
# rank so no single task ever orders one query's full candidate list. PQ
# alone scores every candidate (it is the compression leg — compose with
# the IVF cell-pruning leg for IVF-PQ, the standard pairing).
# --------------------------------------------------------------------------
PQ_M = 4  # subspaces
PQ_SUBDIM = 16  # dims per subspace (embeddings are 64-dim)
PQ_K = 4  # centroids per subspace codebook
PQ_TOPK = 5
PQ_RANK_SALT = 16


def _pq_slices(vec: str) -> Column:
    """The PQ_M per-subspace slices of the double vector column ``vec``."""
    return F.array(
        *[F.slice(F.col(vec), s * PQ_SUBDIM + 1, PQ_SUBDIM) for s in range(PQ_M)]
    )


def _pq_subvecs(df: DataFrame, idcol: str, out_id: str) -> DataFrame:
    """(id, s, sub): the PQ_M per-subspace slices of the double vector."""
    return df.select(
        F.col(idcol).alias(out_id), F.posexplode(_pq_slices("e")).alias("s", "sub")
    )


def _pq_train(dbsub: DataFrame, init_long: DataFrame, key) -> tuple:
    """(cb, codes): the PQ codebook after one Lloyd iteration and the
    corpus encoded against it. ``dbsub`` is (vec_id, key..., s-slice
    ``sub``), ``init_long`` the (key..., cid, pos, cval) seeds; ``key`` is
    the codebook key — ("s",) for PQ, ("ccid", "s") for IVF-PQ's per-cell
    residual codebooks. codes is (vec_id, key..., cid).

    Both codebook rows are PERSISTED: each has two consumers (corpus
    encoding and the next step — the update, or the query distance
    tables), and without the cache each consumer re-executes the
    codebook's full training lineage — an extra corpus-scale pass per
    consumer for one small row. Measured at sf0.1: ann_pq_adc_topk
    3.2 s -> 1.5 s, ann_ivfpq_topk 2.9 s -> 2.2 s. The cached payload is
    one row, so the cache cost is constant at any corpus size."""
    ids = [*key, "cid"]
    cb0 = bounded_persist(codebook_row(init_long, ids, "cval", "c", "cb"))
    c1_long = lloyd_update(_nearest(dbsub, cb0, "sub", key), ids, "sub")
    cb = bounded_persist(codebook_row(c1_long, ids, "cval", "c", "cb"))
    codes = _nearest(dbsub, cb, "sub", key).select("vec_id", *ids)
    return cb, codes


def _adc_ranked(
    codes: DataFrame, qsub: DataFrame, cb: DataFrame, key, topk: int
) -> DataFrame:
    """(q_id, rk, c_id, approx_du): ADC scoring of the encoded corpus.
    ``qsub`` is (q_id, key..., sub); each query slice gets one distance
    table over its matching codebook entries, in EXACT integer
    micro-units, and a candidate's approximate distance is the integer
    sum of its code entries — order-independent on both engines."""
    qtab = (
        qsub.crossJoin(F.broadcast(cb))
        .select(
            "q_id",
            *key,
            "sub",
            F.explode(F.filter(F.col("cb"), _book_match(key))).alias("ent"),
        )
        .select(
            "q_id",
            *key,
            F.col("ent.cid").alias("cid"),
            F.round(sqdist(F.col("sub"), F.col("ent.c")) * 1e6)
            .cast("long")
            .alias("du"),
        )
    )
    ad = (
        codes.join(F.broadcast(qtab), [*key, "cid"])
        .groupBy("q_id", "vec_id")
        .agg(F.sum("du").alias("approx_du"))
    )
    # Salted two-phase top-k (the source_cap_sample shape): no task ever
    # orders one query's full candidate list.
    return top_k(
        ad,
        "q_id",
        ["approx_du", "vec_id"],
        topk,
        salt=F.col("vec_id") % PQ_RANK_SALT,
    ).select(
        "q_id",
        F.col("rk").cast("long").alias("rk"),
        F.col("vec_id").alias("c_id"),
        "approx_du",
    )


def _pq_adc_oracle(topk: int, src: str = "embeddings") -> str:
    """DuckDB replay of the full PQ-ADC pipeline (codebook train ->
    encode -> ADC score) with the final ranking cut at rk <= topk —
    parameterized so the shortlist-recall curve can replay the same
    ranking at larger cuts than the registered top-k query, and so the
    clustered-fixture leg can replay it over a synthesized ``src``."""
    return f"""
    WITH v AS (
      SELECT vec_id,
             (generate_subscripts(embedding, 1) - 1) // {PQ_SUBDIM} AS s,
             (generate_subscripts(embedding, 1) - 1) % {PQ_SUBDIM} AS spos,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM {src}
    ), db AS (
      SELECT * FROM v WHERE vec_id >= {N_QUERY_VECS}
    ), c0 AS (
      SELECT vec_id - {N_QUERY_VECS} AS cid, s, spos, val AS cval
      FROM v WHERE vec_id >= {N_QUERY_VECS}
        AND vec_id < {N_QUERY_VECS + PQ_K}
    ), d0 AS (
      SELECT db.vec_id, db.s, c.cid,
             ROUND(SUM((db.val - c.cval) ^ 2), 6) AS d
      FROM db JOIN c0 c ON db.s = c.s AND db.spos = c.spos
      GROUP BY 1, 2, 3
    ), a0 AS (
      SELECT vec_id, s, cid FROM (
        SELECT vec_id, s, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                  ORDER BY d, cid) AS rn
        FROM d0) WHERE rn = 1
    ), c1 AS (
      SELECT a0.s, a0.cid, db.spos, ROUND(AVG(db.val), 6) AS cval
      FROM a0 JOIN db ON a0.vec_id = db.vec_id AND a0.s = db.s
      GROUP BY 1, 2, 3
    ), d1 AS (
      SELECT db.vec_id, db.s, c.cid,
             ROUND(SUM((db.val - c.cval) ^ 2), 6) AS d
      FROM db JOIN c1 c ON db.s = c.s AND db.spos = c.spos
      GROUP BY 1, 2, 3
    ), codes AS (
      SELECT vec_id, s, cid FROM (
        SELECT vec_id, s, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                  ORDER BY d, cid) AS rn
        FROM d1) WHERE rn = 1
    ), q AS (
      SELECT vec_id AS q_id, s, spos, val FROM v
      WHERE vec_id < {N_QUERY_VECS}
    ), qt AS (
      SELECT q.q_id, q.s, c.cid,
             CAST(ROUND(SUM((q.val - c.cval) ^ 2) * 1e6) AS BIGINT) AS du
      FROM q JOIN c1 c ON q.s = c.s AND q.spos = c.spos
      GROUP BY 1, 2, 3
    ), ad AS (
      SELECT qt.q_id, codes.vec_id AS c_id,
             CAST(SUM(qt.du) AS BIGINT) AS approx_du
      FROM codes JOIN qt ON codes.s = qt.s AND codes.cid = qt.cid
      GROUP BY 1, 2
    )
    SELECT q_id, CAST(rk AS BIGINT) AS rk, c_id, approx_du
    FROM (SELECT q_id, c_id, approx_du,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY approx_du, c_id) AS rk
          FROM ad)
    WHERE rk <= {topk}
    """


def _pq_adc_ranked(
    spark: SparkSession,
    sf_dir: str,
    topk: int,
    vecs: DataFrame | None = None,
) -> DataFrame:
    if vecs is None:
        emb = load_table(spark, sf_dir, "embeddings")
        vecs = emb.select(
            "vec_id", as_double(F.col("embedding")).alias("e")
        )
    n_parts = partition_count(spark)
    db = vecs.filter(F.col("vec_id") >= N_QUERY_VECS).repartition(
        n_parts, "vec_id"
    )
    dbsub = _pq_subvecs(db, "vec_id", "vec_id")
    init_long = _pq_subvecs(
        vecs.filter(
            (F.col("vec_id") >= N_QUERY_VECS)
            & (F.col("vec_id") < N_QUERY_VECS + PQ_K)
        ),
        "vec_id",
        "vec_id",
    ).select(
        (F.col("vec_id") - N_QUERY_VECS).cast("int").alias("cid"),
        "s",
        F.posexplode("sub").alias("pos", "cval"),
    )
    cb, codes = _pq_train(dbsub, init_long, ["s"])
    qsub = _pq_subvecs(
        vecs.filter(F.col("vec_id") < N_QUERY_VECS), "vec_id", "q_id"
    )
    return _adc_ranked(codes, qsub, cb, ["s"], topk)


@query("ann_pq_adc_topk", oracle=_pq_adc_oracle(PQ_TOPK))
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pq_adc_ranked(spark, sf_dir, PQ_TOPK)


# --------------------------------------------------------------------------
# IVF-PQ (the standard billion-scale pairing, composed from the two legs
# above): a coarse quantizer assigns every vector to one of
# IVFPQ_COARSE_K full-dim cells; each vector stores only its cell id plus
# the PQ codes of its RESIDUAL (x - cell centroid) — the residual
# distribution is tighter than the raw one, which is why real systems
# (FAISS IVFadc, SCaNN) quantize residuals; queries probe their
# IVFPQ_NPROBE nearest cells and ADC-score ONLY those cells' members
# (IVF's pruning) using M integer table lookups per candidate (PQ's
# compression). Per (query, probed cell) there is one distance table —
# the table is residual-relative, so it cannot be shared across cells,
# exactly as in FAISS.
#
# Determinism: coarse centroids are raw init vectors (vec_ids
# N_QUERY_VECS+PQ_K .. +PQ_K+IVFPQ_COARSE_K — disjoint from the PQ
# codebook seeds), so the only trained state is the residual PQ codebook
# (one Lloyd iteration, kmeans conventions); every distance rounds to
# 6 dp / integer micro-units as in ann_pq_adc_topk.
#
# PER-CELL residual codebooks (round 10): the round-9 shape trained ONE
# residual codebook shared by every coarse cell, and the clustered-
# fixture gate priced that choice — residual modes differ per cell
# (center - cell_centroid), so K residual centroids must cover up to
# K_coarse * K distinct modes and the clustered recall sat at 0.26-0.40.
# Training a codebook PER COARSE CELL (what FAISS calls by-residual with
# per-list quantizers; seeds = the PQ_K lowest vec_ids assigned to the
# cell, a deterministic DuckDB-replayable pick) gives each cell K
# centroids for ITS modes: measured clustered recall 0.40 -> see
# CLUST_IVFPQ_FLOOR. Cost honestly stated: codebook state grows from
# M*K to K_coarse*M*K centroids — at the realistic K_coarse = sqrt(N)
# that is no longer a broadcast constant, and real systems (FAISS
# IVFADC) default to the SHARED codebook at billion scale; this engine
# ships per-cell because the committed quality gate showed the shared
# variant mis-ranking clustered corpora at k-NN grain, and the
# K_coarse here (and the sqrt(N)-cell regime's per-cell member count)
# keeps the trained state broadcastable. A deployment wanting shared
# codebooks at extreme K_coarse would swap the (ccid, s, cid) codebook
# key back to (s, cid) in ONE place each engine and re-price recall
# against the same committed gate.
# --------------------------------------------------------------------------
IVFPQ_COARSE_K = 4
IVFPQ_NPROBE = 2


def _ivfpq_oracle(src: str = "embeddings", topk: int = PQ_TOPK) -> str:
    """DuckDB replay of the full IVF-PQ pipeline (coarse assign ->
    residual -> per-cell codebook train -> per-cell ADC) — parameterized
    over the (vec_id, embedding) relation for the clustered-fixture leg
    and over the ranking cut for the rerank shortlist."""
    return f"""
    WITH v AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM {src}
    ), dbv AS (
      SELECT * FROM v WHERE vec_id >= {N_QUERY_VECS}
    ), coarse AS (
      SELECT vec_id - {N_QUERY_VECS + PQ_K} AS ccid, pos, val AS cval
      FROM v WHERE vec_id >= {N_QUERY_VECS + PQ_K}
        AND vec_id < {N_QUERY_VECS + PQ_K + IVFPQ_COARSE_K}
    ), dc AS (
      SELECT dbv.vec_id, c.ccid, ROUND(SUM((dbv.val - c.cval) ^ 2), 6) AS d
      FROM dbv JOIN coarse c USING (pos) GROUP BY 1, 2
    ), ac AS (
      SELECT vec_id, ccid FROM (
        SELECT vec_id, ccid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, ccid) AS rn
        FROM dc) WHERE rn = 1
    ), res AS (
      SELECT dbv.vec_id, ac.ccid,
             (dbv.pos) // {PQ_SUBDIM} AS s,
             (dbv.pos) % {PQ_SUBDIM} AS spos,
             dbv.val - c.cval AS val
      FROM dbv JOIN ac USING (vec_id)
      JOIN coarse c ON c.ccid = ac.ccid AND c.pos = dbv.pos
    ), sr AS (
      SELECT vec_id, ccid,
             ROW_NUMBER() OVER (PARTITION BY ccid ORDER BY vec_id) AS rn
      FROM ac
    ), c0 AS (
      SELECT r.ccid, sr.rn - 1 AS cid, r.s, r.spos, r.val AS cval
      FROM sr JOIN res r ON r.vec_id = sr.vec_id
      WHERE sr.rn <= {PQ_K}
    ), d0 AS (
      SELECT r.vec_id, r.ccid, r.s, c.cid,
             ROUND(SUM((r.val - c.cval) ^ 2), 6) AS d
      FROM res r JOIN c0 c
        ON r.ccid = c.ccid AND r.s = c.s AND r.spos = c.spos
      GROUP BY 1, 2, 3, 4
    ), a0 AS (
      SELECT vec_id, ccid, s, cid FROM (
        SELECT vec_id, ccid, s, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, cid) AS rn
        FROM d0) WHERE rn = 1
    ), c1 AS (
      SELECT a0.ccid, a0.s, a0.cid, r.spos, ROUND(AVG(r.val), 6) AS cval
      FROM a0 JOIN res r ON a0.vec_id = r.vec_id AND a0.s = r.s
      GROUP BY 1, 2, 3, 4
    ), d1 AS (
      SELECT r.vec_id, r.ccid, r.s, c.cid,
             ROUND(SUM((r.val - c.cval) ^ 2), 6) AS d
      FROM res r JOIN c1 c
        ON r.ccid = c.ccid AND r.s = c.s AND r.spos = c.spos
      GROUP BY 1, 2, 3, 4
    ), codes AS (
      SELECT vec_id, ccid, s, cid FROM (
        SELECT vec_id, ccid, s, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, cid) AS rn
        FROM d1) WHERE rn = 1
    ), qv AS (
      SELECT vec_id AS q_id, pos, val FROM v WHERE vec_id < {N_QUERY_VECS}
    ), qc AS (
      SELECT q_id, ccid FROM (
        SELECT q_id, ccid,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d, ccid) AS rn
        FROM (SELECT qv.q_id, c.ccid,
                     ROUND(SUM((qv.val - c.cval) ^ 2), 6) AS d
              FROM qv JOIN coarse c USING (pos) GROUP BY 1, 2)
      ) WHERE rn <= {IVFPQ_NPROBE}
    ), qres AS (
      SELECT p.q_id, p.ccid,
             (qv.pos) // {PQ_SUBDIM} AS s,
             (qv.pos) % {PQ_SUBDIM} AS spos,
             qv.val - c.cval AS val
      FROM qc p JOIN qv ON qv.q_id = p.q_id
      JOIN coarse c ON c.ccid = p.ccid AND c.pos = qv.pos
    ), qt AS (
      SELECT q.q_id, q.ccid, q.s, c.cid,
             CAST(ROUND(SUM((q.val - c.cval) ^ 2) * 1e6) AS BIGINT) AS du
      FROM qres q JOIN c1 c
        ON q.ccid = c.ccid AND q.s = c.s AND q.spos = c.spos
      GROUP BY 1, 2, 3, 4
    ), ad AS (
      SELECT qt.q_id, codes.vec_id AS c_id,
             CAST(SUM(qt.du) AS BIGINT) AS approx_du
      FROM codes
      JOIN qt ON qt.ccid = codes.ccid
             AND qt.s = codes.s AND qt.cid = codes.cid
      GROUP BY 1, 2
    )
    SELECT q_id, CAST(rk AS BIGINT) AS rk, c_id, approx_du
    FROM (SELECT q_id, c_id, approx_du,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY approx_du, c_id) AS rk
          FROM ad)
    WHERE rk <= {topk}
    """


def _ivfpq_ranked(
    spark: SparkSession,
    sf_dir: str,
    vecs: DataFrame | None = None,
    topk: int = PQ_TOPK,
) -> DataFrame:
    if vecs is None:
        emb = load_table(spark, sf_dir, "embeddings")
        vecs = emb.select(
            "vec_id", as_double(F.col("embedding")).alias("e")
        )
    n_parts = partition_count(spark)
    # The one-row coarse centroid table is PERSISTED: the corpus
    # assignment and the query-side cell probe both read it, and the
    # cached row saves a scan of the init slice per consumer.
    base = N_QUERY_VECS + PQ_K
    coarse_row = bounded_persist(
        vecs.filter(
            (F.col("vec_id") >= base)
            & (F.col("vec_id") < base + IVFPQ_COARSE_K)
        )
        .select(
            (F.col("vec_id") - base).cast("int").alias("ccid"),
            F.col("e").alias("c"),
        )
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("ccid"), F.col("c")))
            ).alias("coarse")
        )
    )
    # Every cell's distance, each carrying its centroid: the winner's
    # residual is computed in the same projection, never by a join.
    cells = centroid_dists(F.col("e"), F.col("coarse"), "ccid", carry=["c"])
    residual = F.zip_with("e", "w.c", lambda a, b: a - b).alias("e_res")
    db = vecs.filter(F.col("vec_id") >= N_QUERY_VECS).repartition(
        n_parts, "vec_id"
    )
    assigned = db.crossJoin(F.broadcast(coarse_row)).select(
        "vec_id", F.array_min(cells).alias("w"), "e"
    ).select("vec_id", F.col("w.ccid").alias("ccid"), residual)
    dbsub = assigned.select(
        "vec_id", "ccid", F.posexplode(_pq_slices("e_res")).alias("s", "sub")
    )
    # Per-cell seeds: the PQ_K lowest vec_ids assigned to each coarse
    # cell (deterministic; the oracle replays it as one ROW_NUMBER).
    # Salted two-phase pick so no task orders a full cell's id list.
    seeds = top_k(
        assigned.select("vec_id", "ccid"),
        "ccid",
        ["vec_id"],
        PQ_K,
        salt=F.col("vec_id") % PQ_RANK_SALT,
    ).select("vec_id", (F.col("rk") - 1).alias("cid"))
    init_long = dbsub.join(F.broadcast(seeds), "vec_id").select(
        "ccid", "cid", "s", F.posexplode("sub").alias("pos", "cval")
    )
    cb, codes = _pq_train(dbsub, init_long, ["ccid", "s"])
    # Query side: NPROBE nearest cells, per-cell residual, per-cell table.
    q = vecs.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), "e"
    )
    qcells = (
        q.crossJoin(F.broadcast(coarse_row))
        .select(
            "q_id",
            "e",
            F.posexplode(F.slice(F.array_sort(cells), 1, IVFPQ_NPROBE)).alias(
                "_p", "w"
            ),
        )
        .select("q_id", F.col("w.ccid").alias("ccid"), residual)
    )
    qsub = qcells.select(
        "q_id", "ccid", F.posexplode(_pq_slices("e_res")).alias("s", "sub")
    )
    return _adc_ranked(codes, qsub, cb, ["ccid", "s"], topk)


@query(
    "ann_ivfpq_topk",
    headline=True,  # the composed ANN ship plan: bench the full pass
    oracle=_ivfpq_oracle(),
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivfpq_ranked(spark, sf_dir)


# --------------------------------------------------------------------------
# IVF-PQ shortlist + EXACT RERANK (round 10) — the production two-stage
# retrieval FAISS ships as IndexRefine: the compressed index is used only
# to cut the corpus to an L-candidate shortlist per query; the final
# ordering re-reads the L raw vectors and ranks by exact L2. This is the
# missing composition between ann_ivfpq_topk (pure ADC ranking) and
# ann_pq_shortlist_recall_curve (which MEASURES that ADC's ranking
# quality recovers with depth but registers no reranked result): SQ-int8
# already ships overfetch+rerank; this closes the same loop for the
# quantized pair at the IVF-PQ composition.
#
# Scale posture: the shortlist is Q x L rows (broadcast); the exact leg
# joins it back to the corpus by c_id — a broadcast-hash join touching L
# raw vectors per query instead of N, so the full-precision read is
# shortlist-bounded exactly as in FAISS refine. The final window ranks
# L rows per query.
# --------------------------------------------------------------------------
IVFPQ_RERANK_L = 4 * PQ_TOPK  # shortlist depth (the curve's L=20 point)


def _ivfpq_rerank_oracle(src: str = "embeddings") -> str:
    """DuckDB replay: ADC shortlist at L via the full _ivfpq_oracle
    pipeline, then exact-L2 rerank of the shortlist pairs cut at
    PQ_TOPK (integer micro-unit distances, the simhash discipline)."""
    return f"""
    WITH sl AS (
      SELECT q_id, c_id FROM ({_ivfpq_oracle(src, topk=IVFPQ_RERANK_L)})
    ), v AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM {src}
    ), d AS (
      SELECT sl.q_id, sl.c_id,
             CAST(ROUND(ROUND(SUM((q.val - c.val) ^ 2), 6) * 1e6)
                  AS BIGINT) AS d2u
      FROM sl
      JOIN v q ON q.vec_id = sl.q_id
      JOIN v c ON c.vec_id = sl.c_id AND c.pos = q.pos
      GROUP BY 1, 2
    )
    SELECT q_id, CAST(rk AS BIGINT) AS rk, c_id, d2u
    FROM (SELECT q_id, c_id, d2u,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY d2u, c_id) AS rk
          FROM d)
    WHERE rk <= {PQ_TOPK}
    """


def _ivfpq_rerank_ranked(
    spark: SparkSession, sf_dir: str, vecs: DataFrame | None = None
) -> DataFrame:
    if vecs is None:
        emb = load_table(spark, sf_dir, "embeddings")
        vecs = emb.select("vec_id", as_double(F.col("embedding")).alias("e"))
    shortlist = _ivfpq_ranked(
        spark, sf_dir, vecs=vecs, topk=IVFPQ_RERANK_L
    ).select("q_id", "c_id")
    q = vecs.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("e").alias("qv")
    )
    c = vecs.filter(F.col("vec_id") >= N_QUERY_VECS).select(
        F.col("vec_id").alias("c_id"), F.col("e").alias("cv")
    )
    # Shortlist (Q x L rows) + query vectors broadcast; the corpus side
    # stays partitioned and only shortlist members' raw vectors are read.
    sl_q = shortlist.join(F.broadcast(q), "q_id")
    d2u = (
        F.round(F.round(sqdist(F.col("qv"), F.col("cv")), 6) * 1e6)
        .cast("long")
        .alias("d2u")
    )
    scored = c.join(F.broadcast(sl_q), "c_id").select("q_id", "c_id", d2u)
    return top_k(scored, "q_id", ["d2u", "c_id"], PQ_TOPK).select(
        "q_id", F.col("rk").cast("long").alias("rk"), "c_id", "d2u"
    )


@query("ann_ivfpq_rerank_topk", oracle=_ivfpq_rerank_oracle())
def ann_ivfpq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, rk, c_id, d2u): exact-L2 reranked top-{PQ_TOPK} from the
    IVF-PQ ADC shortlist at L = {IVFPQ_RERANK_L} — FAISS IndexRefine."""
    return _ivfpq_rerank_ranked(spark, sf_dir)


# --------------------------------------------------------------------------
# Recall@k for the COMPRESSED/PRUNED index trio (round 8) — the quality
# half of the compression trade-off. ann_recall_at_k (above) pins the LSH
# index's retrieval quality against exact cosine top-k; the three indexes
# added since (SQ-int8, PQ-ADC, IVF-PQ) shipped with replay-correctness
# oracles only, so a user choosing PQ_M/PQ_K/NPROBE had no committed
# recall number to reason from. These queries close that: each one joins
# the index's top-k against the exact top-k IN THE METRIC THAT INDEX
# TARGETS and reports per-query recall — the "does the approximation
# answer the query" half of the reference's keyed lookup (main.c:56-61),
# lifted to vectors.
#
# Ground-truth metric per index, deliberately not one-size-fits-all:
#   - SQ-int8 reranks its overfetched candidates by EXACT COSINE, so its
#     ground truth is cosine_topk (identical candidate universe: every
#     vector but self) — composed 1:1 like ann_recall_at_k.
#   - PQ-ADC and IVF-PQ rank by approximate L2 over the db corpus
#     (vec_id >= N_QUERY_VECS), so their ground truth is the exact
#     L2 top-k over that same corpus (_exact_l2 below). Scoring them
#     against cosine would conflate metric mismatch with quantization
#     loss — the number users need is the latter.
#
# The eval frame is Q x K rows — trivially small at any corpus size; the
# expensive legs inherit the scale posture of the underlying registered
# plans (broadcast query side, banded/bucketed candidate generation).
# The oracle replays BOTH legs (the composed CTE pattern), so the recall
# values cross the driver's value hash — a committed quality number, not
# an assertion.
#
# READ THE NUMBERS HONESTLY: the synthetic embeddings are ISOTROPIC —
# measured mean pairwise cosine ~ -0.000x both within and across labels,
# i.e. no cluster structure for a codebook to exploit. That is the
# adversarial regime for vector quantization, and the committed matrix
# shows exactly what it costs: SQ-int8 (72 B/vec + exact rerank) holds
# recall 1.0 while raw PQ-ADC at 4 B/vec collapses to ~0.02-0.06 and
# IVF-PQ additionally pays the NPROBE/K_coarse pruning cap. This is the
# measurement a user must run on THEIR corpus before trusting a
# compressed index — structured real-world embeddings sit far from this
# floor, and the production levers are (a) train the codebook on the
# actual distribution, (b) overfetch + exact rerank (the SQ leg's
# pattern; see ann_pq_shortlist_recall_curve for the measured
# overfetch-vs-recall trade-off on this corpus).
# --------------------------------------------------------------------------
def _exact_l2_oracle(src: str = "embeddings") -> str:
    """DuckDB exact-L2 top-k over the (vec_id, embedding) relation ``src``
    — parameterized so the clustered-fixture legs replay the identical
    pipeline over a synthesized corpus instead of the embeddings table."""
    return f"""
    WITH v AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM {src}
    ), d AS (
      SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             ROUND(SUM((q.val - c.val) ^ 2), 6) AS d6
      FROM (SELECT * FROM v WHERE vec_id < {N_QUERY_VECS}) q
      JOIN (SELECT * FROM v WHERE vec_id >= {N_QUERY_VECS}) c
        USING (pos)
      GROUP BY 1, 2
    )
    SELECT q_id, c_id
    FROM (SELECT q_id, c_id,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY d6, c_id) AS rk
          FROM d)
    WHERE rk <= {PQ_TOPK}
"""


_SQL_EXACT_L2_TOPK = _exact_l2_oracle()


def _exact_l2_topk(
    spark: SparkSession, sf_dir: str, vecs: DataFrame | None = None
) -> DataFrame:
    """Exact L2 top-{PQ_TOPK} per query over the PQ-family corpus
    (vec_id >= N_QUERY_VECS): squared distance rounded to 6 dp before
    ranking (ties toward the lower c_id), mirroring _SQL_EXACT_L2_TOPK
    term for term. Broadcast query side, one candidate-scan leg.
    ``vecs`` (vec_id, e: array<double>) overrides the embeddings table —
    the clustered-fixture legs pass their synthesized corpus here."""
    if vecs is None:
        emb = load_table(spark, sf_dir, "embeddings")
        vecs = emb.select("vec_id", as_double("embedding").alias("e"))
    n_parts = partition_count(spark)
    q = vecs.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("e").alias("qv")
    )
    c = (
        vecs.filter(F.col("vec_id") >= N_QUERY_VECS)
        .repartition(n_parts)
        .select(F.col("vec_id").alias("c_id"), F.col("e").alias("cv"))
    )
    d6 = F.round(sqdist(F.col("qv"), F.col("cv")), 6)
    scored = (
        c.crossJoin(F.broadcast(q)).select("q_id", "c_id", d6.alias("d6"))
    )
    return top_k(scored, "q_id", ["d6", "c_id"], PQ_TOPK).select("q_id", "c_id")


def _recall_oracle(exact_sql: str, approx_sql: str) -> str:
    return f"""
    WITH exact AS (SELECT q_id, c_id FROM ({exact_sql})),
    approx AS (SELECT q_id, c_id FROM ({approx_sql}))
    SELECT e.q_id AS q_id,
           CAST(COUNT(*) AS BIGINT) AS k_exact,
           CAST(SUM(CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           ROUND(SUM(CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 4) AS recall
    FROM exact e
    LEFT JOIN approx a ON e.q_id = a.q_id AND e.c_id = a.c_id
    GROUP BY e.q_id
    """


def _recall_frame(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-query recall of approx against exact; both are (q_id, c_id)."""
    j = exact.join(approx.withColumn("hit", F.lit(1)), ["q_id", "c_id"], "left")
    return j.groupBy("q_id").agg(
        F.count("*").cast("long").alias("k_exact"),
        F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_hit"),
        F.round(
            F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
            / F.count("*"),
            4,
        ).alias("recall"),
    )


def _truth_recall_agg(truth: DataFrame, approx: DataFrame, lead=()) -> DataFrame:
    """One-row (``lead``..., n_true, n_hit, recall) over a TRUTH-DRIVEN
    membership join: every (node, nbr) truth pair is checked against
    ``approx``. Truth-driven means the aggregate's COUNT(*) is |truth|
    (never zero on a non-empty truth set), so the hit sum cannot
    degenerate to NULL — the shared shape behind every graph-family
    recall exhibit (a round-11 review found the hand-rolled copies had
    already drifted on exactly that guard)."""
    j = truth.join(
        approx.select("node", "nbr").withColumn("hit", F.lit(1)),
        ["node", "nbr"],
        "left",
    )
    hit = F.coalesce(F.col("hit"), F.lit(0))
    return j.agg(
        *lead,
        F.count("*").cast("long").alias("n_true"),
        F.sum(hit).cast("long").alias("n_hit"),
        F.round(F.sum(hit) * 1.0 / F.count("*"), 4).alias("recall"),
    )


@query(
    "ann_sq_recall_at_k",
    oracle=_recall_oracle(
        _QUERIES["cosine_topk"].oracle, _QUERIES["ann_sq_topk"].oracle
    ),
)
def ann_sq_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = cosine_topk(spark, sf_dir).select("q_id", "c_id")
    approx = ann_sq_topk(spark, sf_dir).select("q_id", "c_id")
    return _recall_frame(exact, approx)


@query(
    "ann_ivf_recall_at_k",
    oracle=_recall_oracle(
        _QUERIES["cosine_topk"].oracle, _QUERIES["ann_ivf_topk"].oracle
    ),
)
def ann_ivf_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the PRUNE-ONLY index (exact cosine within NPROBE probed
    cells) against exact cosine top-k — isolates the pruning loss the
    compressed IVF-PQ then adds quantization loss on top of."""
    exact = cosine_topk(spark, sf_dir).select("q_id", "c_id")
    approx = ann_ivf_topk(spark, sf_dir).select("q_id", "c_id")
    return _recall_frame(exact, approx)


@query(
    "ann_pq_recall_at_k",
    oracle=_recall_oracle(
        _SQL_EXACT_L2_TOPK, _QUERIES["ann_pq_adc_topk"].oracle
    ),
)
def ann_pq_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = _exact_l2_topk(spark, sf_dir)
    approx = ann_pq_adc_topk(spark, sf_dir).select("q_id", "c_id")
    return _recall_frame(exact, approx)


@query(
    "ann_ivfpq_recall_at_k",
    oracle=_recall_oracle(
        _SQL_EXACT_L2_TOPK, _QUERIES["ann_ivfpq_topk"].oracle
    ),
)
def ann_ivfpq_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = _exact_l2_topk(spark, sf_dir)
    approx = ann_ivfpq_topk(spark, sf_dir).select("q_id", "c_id")
    return _recall_frame(exact, approx)


@query(
    "ann_ivfpq_rerank_recall_at_k",
    oracle=_recall_oracle(_SQL_EXACT_L2_TOPK, _ivfpq_rerank_oracle()),
)
def ann_ivfpq_rerank_recall_at_k(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall of the exact-reranked IVF-PQ shortlist against exact L2
    top-k — what the raw-vector refine pass buys back over pure ADC
    ranking (compare ann_ivfpq_recall_at_k): on ISOTROPIC data the ADC
    shortlist itself is near-chance so rerank recovers little (the
    shortlist-curve story: depth, not precision, is the lever there);
    on clustered data the rerank leg in ann_recall_matrix_clustered
    shows the production win."""
    exact = _exact_l2_topk(spark, sf_dir)
    approx = ann_ivfpq_rerank_topk(spark, sf_dir).select("q_id", "c_id")
    return _recall_frame(exact, approx)


# The committed quality/compression trade-off table: one row per index,
# mean recall over the query set — the number a user reading BENCH/
# CORRECTNESS artifacts compares against each index's cost exhibit.
# Composed from the three per-query frames above (and LSH's), so the
# oracle replays every index end-to-end; bytes/vector is the documented
# storage cost of each index's corpus-scale state (64 float32 dims = 256
# raw; int8 SQ = 64 + scale; PQ = M codes; IVF-PQ = cell id + M codes).
@query(
    "ann_recall_matrix",
    oracle=f"""
    WITH lsh AS ({_recall_oracle(_QUERIES["cosine_topk"].oracle,
                                 _QUERIES["ann_lsh_topk"].oracle)}),
    sq AS ({_recall_oracle(_QUERIES["cosine_topk"].oracle,
                           _QUERIES["ann_sq_topk"].oracle)}),
    ivf AS ({_recall_oracle(_QUERIES["cosine_topk"].oracle,
                            _QUERIES["ann_ivf_topk"].oracle)}),
    pq AS ({_recall_oracle(_SQL_EXACT_L2_TOPK,
                           _QUERIES["ann_pq_adc_topk"].oracle)}),
    ivfpq AS ({_recall_oracle(_SQL_EXACT_L2_TOPK,
                              _QUERIES["ann_ivfpq_topk"].oracle)}),
    u AS (
      SELECT 'lsh' AS index_name, 256 AS bytes_per_vec, n_hit, k_exact
      FROM lsh
      UNION ALL
      SELECT 'sq_int8', 72, n_hit, k_exact FROM sq
      UNION ALL
      SELECT 'ivf', 260, n_hit, k_exact FROM ivf
      UNION ALL
      SELECT 'pq_adc', {PQ_M}, n_hit, k_exact FROM pq
      UNION ALL
      SELECT 'ivf_pq', {PQ_M + 4}, n_hit, k_exact FROM ivfpq
    )
    SELECT index_name, CAST(bytes_per_vec AS BIGINT) AS bytes_per_vec,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           ROUND(SUM(n_hit) * 1.0 / SUM(k_exact), 4) AS mean_recall
    FROM u GROUP BY 1, 2
    """,
)
def ann_recall_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(index_name, bytes_per_vec, n_queries, mean_recall) for all five
    ANN indexes — lsh, sq_int8, the prune-only ivf, pq_adc, ivf_pq —
    the quality axis of the compression trade-off, value-hashed so the
    committed number is driver-verified, not asserted."""
    exact_cos = cosine_topk(spark, sf_dir).select("q_id", "c_id")
    exact_l2 = _exact_l2_topk(spark, sf_dir)
    legs = [
        ("lsh", 256, _recall_frame(
            exact_cos, ann_lsh_topk(spark, sf_dir).select("q_id", "c_id"))),
        ("sq_int8", 72, _recall_frame(
            exact_cos, ann_sq_topk(spark, sf_dir).select("q_id", "c_id"))),
        ("ivf", 260, _recall_frame(
            exact_cos, ann_ivf_topk(spark, sf_dir).select("q_id", "c_id"))),
        ("pq_adc", PQ_M, _recall_frame(
            exact_l2, ann_pq_adc_topk(spark, sf_dir).select("q_id", "c_id"))),
        ("ivf_pq", PQ_M + 4, _recall_frame(
            exact_l2, ann_ivfpq_topk(spark, sf_dir).select("q_id", "c_id"))),
    ]
    out = None
    for name, bpv, frame in legs:
        leg = frame.select(
            F.lit(name).alias("index_name"),
            F.lit(bpv).cast("long").alias("bytes_per_vec"),
            "n_hit",
            "k_exact",
        )
        out = leg if out is None else out.unionByName(leg)
    # Integer-sum mean: SUM(n_hit)/SUM(k_exact) over exact BIGINTs — one
    # final float divide on both engines (k_exact is the same k for every
    # query, so the micro-average equals the per-query macro-average the
    # table used to print; the integer form can't drift on a 4dp midpoint
    # between Spark's and DuckDB's double accumulation orders).
    return out.groupBy("index_name", "bytes_per_vec").agg(
        F.count("*").cast("long").alias("n_queries"),
        F.round(F.sum("n_hit") / F.sum("k_exact"), 4).alias("mean_recall"),
    )


# --------------------------------------------------------------------------
# Shortlist recall curve (round 8) — the measured overfetch lever. Raw
# PQ-ADC top-5 recall on this isotropic corpus is ~0.02-0.06 (see
# ann_recall_matrix); the standard production response is to use ADC as a
# SHORTLIST generator — overfetch L candidates by compressed score, then
# rerank the L with exact distances (the SQ-int8 leg's pattern, and what
# FAISS calls refine). Shortlist recall@L = |exact top-k ∩ ADC top-L| / k
# is exactly the recall an exact reranker could recover at that L, so
# this ONE query commits the whole overfetch-vs-quality curve: the ADC
# ranking is computed ONCE at the deepest cut and every level is a
# filter over it (no per-level replay). Measured on this corpus:
# 0.02/0.08/0.20/0.54 at L=5/20/80/320 over N=1990 (sf0.1) — ~3x above
# the L/N chance line (0.16 at L=320), so the 4-byte codes do carry
# signal even on isotropic data, but only deep overfetch recovers it;
# on clustered corpora the curve saturates at small L instead.
# --------------------------------------------------------------------------
PQ_CURVE_LEVELS = (5, 20, 80, 320)


@query(
    "ann_pq_shortlist_recall_curve",
    oracle=f"""
    WITH exact AS (SELECT q_id, c_id FROM ({_SQL_EXACT_L2_TOPK})),
    ranked AS (
      SELECT q_id, c_id, rk FROM ({_pq_adc_oracle(max(PQ_CURVE_LEVELS))})
    ),
    lv AS (
      SELECT unnest([{", ".join(str(l) for l in PQ_CURVE_LEVELS)}])
               AS overfetch
    ),
    h AS (
      SELECT e.q_id, lv.overfetch,
             CASE WHEN r.rk IS NOT NULL AND r.rk <= lv.overfetch
                  THEN 1 ELSE 0 END AS hit
      FROM exact e
      CROSS JOIN lv
      LEFT JOIN ranked r ON r.q_id = e.q_id AND r.c_id = e.c_id
    )
    SELECT CAST(overfetch AS BIGINT) AS overfetch,
           CAST(COUNT(DISTINCT q_id) AS BIGINT) AS n_queries,
           ROUND(SUM(hit) * 1.0
                 / (COUNT(DISTINCT q_id) * {PQ_TOPK}), 4)
             AS mean_shortlist_recall
    FROM h GROUP BY 1
    """,
)
def ann_pq_shortlist_recall_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(overfetch, n_queries, mean_shortlist_recall) at each curve level:
    the fraction of the exact L2 top-{PQ_TOPK} present in the PQ-ADC
    top-L shortlist, averaged over queries — the recall an exact
    reranker recovers at overfetch L."""
    exact = _exact_l2_topk(spark, sf_dir)
    ranked = _pq_adc_ranked(spark, sf_dir, max(PQ_CURVE_LEVELS)).select(
        "q_id", "c_id", "rk"
    )
    levels = F.explode(
        F.array(*[F.lit(l) for l in PQ_CURVE_LEVELS])
    ).alias("overfetch")
    h = (
        exact.select("q_id", "c_id", levels)
        .join(ranked, ["q_id", "c_id"], "left")
        .select(
            "q_id",
            "overfetch",
            F.when(
                F.col("rk").isNotNull()
                & (F.col("rk") <= F.col("overfetch")),
                1,
            )
            .otherwise(0)
            .alias("hit"),
        )
    )
    # Integer-sum mean (the recall-matrix discipline): hits stay BIGINT
    # through the per-level aggregate; one final divide on both engines.
    return h.groupBy("overfetch").agg(
        F.countDistinct("q_id").cast("long").alias("n_queries"),
        F.round(
            F.sum("hit") / (F.countDistinct("q_id") * F.lit(PQ_TOPK)), 4
        ).alias("mean_shortlist_recall"),
    ).select(
        F.col("overfetch").cast("long").alias("overfetch"),
        "n_queries",
        "mean_shortlist_recall",
    )


# --------------------------------------------------------------------------
# Clustered-corpus recall validation (round 9) — closes the one hole in the
# ANN quality story (round-8 verdict, missing #1): the synthetic embeddings
# table is ISOTROPIC, where pq_adc/ivf_pq recall ~0.0-0.06 cannot separate
# implementation loss from data collapse — a subtly wrong ADC table
# produces the same number. This fixture synthesizes a deterministic
# PRODUCT-CLUSTERED corpus in-query (hash-derived cluster ids, fixed
# subspace centers, bounded integer-hash noise — the skew_probe.py
# determinism discipline: no RNG, both engines derive bit-identical
# doubles from the same integer arithmetic) and re-runs ALL FIVE index
# legs over it. On product-structured data a correct index recovers high
# recall, so the committed mean_recall becomes a real quality gate: the
# floors below are pinned as booleans that cross the driver's value hash.
# Proof the gate bites: its first run measured sq_int8 at 0.10 and
# exposed the unnormalized-overfetch defect fixed in _sq_topk_frame.
#
# Fixture geometry: 256 clusters = product of 4 per-subspace center ids;
# center values CLUST_P are spaced with distinct pairwise gaps so cluster
# tiers order strictly; noise is +/-0.1 per dim vs a minimum inter-center
# subspace distance of 16*3^2 = 144 — clusters cannot blur. vec_ids
# N_QUERY_VECS..N_QUERY_VECS+PQ_K-1 (the PQ codebook seeds) are FORCED to
# clusters (j,j,j,j) so each subspace's initial codebook sees all PQ_K
# center values and one Lloyd step recovers the product structure — the
# textbook regime product quantization is built for (Jegou et al. 2011).
#
# What the floors mean: pq_adc's residual error after a correct codebook
# is the id-tie-break WITHIN a cluster (same code => same ADC distance),
# bounded by k/cluster_size — far above 0.5 at every SF here; a wrong ADC
# table scrambles the CLUSTER ordering and collapses recall toward chance
# (k/N ~ 0.003-0.01). ivf_pq adds coarse pruning + residual quantization
# on PER-CELL codebooks (round 10); its floor matches pq_adc's 0.5 bar.
# --------------------------------------------------------------------------
CLUST_P = (0.0, 3.0, 8.0, 18.0)  # distinct pairwise gaps: 3,5,8,10,15,18
CLUST_MIX_MULT = 2654435761  # Knuth multiplicative constant
CLUST_MIX_MOD = 1000003
CLUST_NOISE_MULT = 69069
CLUST_NOISE_ADD = 12345
CLUST_PQ_FLOOR = 0.5  # pq_adc mean_recall pin on clustered data
# Round 10: per-cell residual codebooks lifted measured clustered recall
# from 0.26-0.40 (shared codebook) to 0.62-0.72 across all three SFs —
# the floor is now a real quality bar like pq_adc's, not a >10x-chance
# consolation pin.
CLUST_IVFPQ_FLOOR = 0.5
# The exact-rerank leg (FAISS refine over the L=20 ADC shortlist) must
# recover what residual quantization loses inside the probed cells —
# measured 1.0 at all three SFs (the shortlist contains every same-cell
# true neighbor; exact L2 orders them perfectly). Floor 0.8 leaves slack
# for corpus regeneration, not for implementation loss.
CLUST_IVFPQ_RERANK_FLOOR = 0.8

_CLUST_SEED_BASE = N_QUERY_VECS  # seeds N_QUERY_VECS..+PQ_K-1 forced
# Repunit in base PQ_K: j * (1 + K + K^2 + ...) has base-K digits
# (j,j,...,j), one per subspace — 85 at K=4, and still correct if PQ_K
# is ever retuned (a bare base-4 literal here would silently break the
# forced-seed coverage the one-Lloyd-step codebook recovery rests on).
_CLUST_DIGIT_ALL = (PQ_K ** PQ_M - 1) // (PQ_K - 1)


def _clustered_emb_sql() -> str:
    """DuckDB relation (vec_id, embedding: DOUBLE[]) — the clustered
    fixture, bit-identical to _clustered_vecs (integer arithmetic up to
    one divide and one add per element)."""
    p_case = " ".join(
        f"WHEN {j} THEN {v!r}" for j, v in enumerate(CLUST_P[:-1])
    )
    pow_case = " ".join(
        f"WHEN d < {(s + 1) * PQ_SUBDIM} THEN {PQ_K ** s}"
        for s in range(PQ_M - 1)
    )
    return f"""(
      SELECT vec_id,
             list_transform(range(0, {EMB_DIM}), d ->
               (CASE ((cl // (CASE {pow_case}
                              ELSE {PQ_K ** (PQ_M - 1)} END)) % {PQ_K})
                  {p_case} ELSE {CLUST_P[-1]!r} END)
               + (((vec_id * {EMB_DIM} + d) * {CLUST_NOISE_MULT}
                   + {CLUST_NOISE_ADD}) % {CLUST_MIX_MOD} % 201 - 100)
                 / 1000.0
             ) AS embedding
      FROM (
        SELECT vec_id,
               CASE WHEN vec_id >= {_CLUST_SEED_BASE}
                     AND vec_id < {_CLUST_SEED_BASE + PQ_K}
                    THEN (vec_id - {_CLUST_SEED_BASE}) * {_CLUST_DIGIT_ALL}
                    ELSE ((vec_id * {CLUST_MIX_MULT}) % {CLUST_MIX_MOD})
                         % {PQ_K ** PQ_M} END AS cl
        FROM embeddings
      )
    ) cemb"""


def _clustered_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, e: array<double>) — the Spark twin of _clustered_emb_sql.
    Derived from the embeddings table's vec_ids only, so corpus size
    tracks the SF; every element is centers[digit] + integer-hash noise,
    identical doubles to the oracle (same integers, one divide, one
    add)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    v = F.col("vec_id")
    cl = F.when(
        (v >= _CLUST_SEED_BASE) & (v < _CLUST_SEED_BASE + PQ_K),
        (v - _CLUST_SEED_BASE) * _CLUST_DIGIT_ALL,
    ).otherwise(
        ((v * F.lit(CLUST_MIX_MULT)) % CLUST_MIX_MOD) % (PQ_K ** PQ_M)
    )

    def dim_val(d):
        pw = F.when(d < PQ_SUBDIM, PQ_K ** 0)
        for s in range(1, PQ_M - 1):
            pw = pw.when(d < (s + 1) * PQ_SUBDIM, PQ_K ** s)
        pw = pw.otherwise(PQ_K ** (PQ_M - 1))
        dig = F.floor(F.col("cl") / pw).cast("long") % PQ_K
        center = F.when(dig == 0, F.lit(CLUST_P[0]))
        for j in range(1, PQ_K - 1):
            center = center.when(dig == j, F.lit(CLUST_P[j]))
        center = center.otherwise(F.lit(CLUST_P[-1]))
        noise = (
            (
                (F.col("vec_id") * EMB_DIM + d) * CLUST_NOISE_MULT
                + CLUST_NOISE_ADD
            )
            % CLUST_MIX_MOD
            % 201
            - 100
        ) / F.lit(1000.0)
        return center + noise

    return emb.withColumn("cl", cl).select(
        "vec_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(EMB_DIM - 1)).cast(
                "array<bigint>"
            ),
            dim_val,
        ).alias("e"),
    )


CLUST_LSH_FLOOR = 0.5
CLUST_SQ_FLOOR = 0.9
CLUST_IVF_FLOOR = 0.5


@query(
    "ann_recall_matrix_clustered",
    oracle=f"""
    WITH pq AS ({_recall_oracle(_exact_l2_oracle(_clustered_emb_sql()),
                                _pq_adc_oracle(PQ_TOPK,
                                               _clustered_emb_sql()))}),
    ivfpq AS ({_recall_oracle(_exact_l2_oracle(_clustered_emb_sql()),
                              _ivfpq_oracle(_clustered_emb_sql()))}),
    ivfpqr AS ({_recall_oracle(_exact_l2_oracle(_clustered_emb_sql()),
                               _ivfpq_rerank_oracle(_clustered_emb_sql()))}),
    lsh AS ({_recall_oracle(_cosine_topk_oracle(_clustered_emb_sql()),
                            _lsh_topk_oracle(_clustered_emb_sql()))}),
    sq AS ({_recall_oracle(_cosine_topk_oracle(_clustered_emb_sql()),
                           _sq_topk_oracle(_clustered_emb_sql()))}),
    ivf AS ({_recall_oracle(_cosine_topk_oracle(_clustered_emb_sql()),
                            _ivf_topk_oracle(_clustered_emb_sql()))}),
    u AS (
      SELECT 'pq_adc' AS index_name,
             CAST({CLUST_PQ_FLOOR!r} AS DOUBLE) AS floor_recall,
             n_hit, k_exact
      FROM pq
      UNION ALL
      SELECT 'ivf_pq', CAST({CLUST_IVFPQ_FLOOR!r} AS DOUBLE), n_hit,
             k_exact
      FROM ivfpq
      UNION ALL
      SELECT 'ivf_pq_rerank', CAST({CLUST_IVFPQ_RERANK_FLOOR!r} AS DOUBLE),
             n_hit, k_exact
      FROM ivfpqr
      UNION ALL
      SELECT 'lsh', CAST({CLUST_LSH_FLOOR!r} AS DOUBLE), n_hit, k_exact
      FROM lsh
      UNION ALL
      SELECT 'sq_int8', CAST({CLUST_SQ_FLOOR!r} AS DOUBLE), n_hit,
             k_exact
      FROM sq
      UNION ALL
      SELECT 'ivf', CAST({CLUST_IVF_FLOOR!r} AS DOUBLE), n_hit, k_exact
      FROM ivf
    )
    SELECT index_name,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           ROUND(SUM(n_hit) * 1.0 / SUM(k_exact), 4) AS mean_recall,
           floor_recall,
           SUM(n_hit) * 1.0 / SUM(k_exact) >= floor_recall
             AS beats_floor
    FROM u GROUP BY 1, 4
    """,
)
def ann_recall_matrix_clustered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(index_name, n_queries, mean_recall, floor_recall, beats_floor)
    for ALL FIVE ANN indexes — plus the IVF-PQ exact-rerank composition
    (round 10) — over the deterministic product-clustered
    fixture — the measurement that makes index recall an
    implementation-quality gate instead of a data-collapse readout
    (isotropic twin: ann_recall_matrix; ground-truth metric per index
    follows the isotropic matrix's conventions — cosine for
    lsh/sq/ivf, exact L2 for the quantized pair). The floor booleans
    are pinned literals; a wrong ADC table, codebook, bucket fold, or
    quantizer fails the driver hash."""
    vecs = _clustered_vecs(spark, sf_dir)
    emb = vecs.select("vec_id", F.col("e").alias("embedding"))
    exact = _exact_l2_topk(spark, sf_dir, vecs=vecs)
    exact_cos = _cosine_topk_frame(spark, sf_dir, vecs=vecs).select(
        "q_id", "c_id"
    )
    legs = [
        (
            "pq_adc",
            CLUST_PQ_FLOOR,
            _recall_frame(
                exact,
                _pq_adc_ranked(spark, sf_dir, PQ_TOPK, vecs=vecs).select(
                    "q_id", "c_id"
                ),
            ),
        ),
        (
            "ivf_pq",
            CLUST_IVFPQ_FLOOR,
            _recall_frame(
                exact,
                _ivfpq_ranked(spark, sf_dir, vecs=vecs).select(
                    "q_id", "c_id"
                ),
            ),
        ),
        (
            "ivf_pq_rerank",
            CLUST_IVFPQ_RERANK_FLOOR,
            _recall_frame(
                exact,
                _ivfpq_rerank_ranked(spark, sf_dir, vecs=vecs).select(
                    "q_id", "c_id"
                ),
            ),
        ),
        (
            "lsh",
            CLUST_LSH_FLOOR,
            _recall_frame(
                exact_cos,
                _lsh_topk_frame(spark, sf_dir, emb=emb).select(
                    "q_id", "c_id"
                ),
            ),
        ),
        (
            "sq_int8",
            CLUST_SQ_FLOOR,
            _recall_frame(
                exact_cos,
                _sq_topk_frame(spark, sf_dir, emb=emb).select(
                    "q_id", "c_id"
                ),
            ),
        ),
        (
            "ivf",
            CLUST_IVF_FLOOR,
            _recall_frame(
                exact_cos,
                _ivf_topk_frame(spark, sf_dir, emb=emb).select(
                    "q_id", "c_id"
                ),
            ),
        ),
    ]
    out = None
    for name, floor, frame in legs:
        leg = frame.select(
            F.lit(name).alias("index_name"),
            F.lit(floor).alias("floor_recall"),
            "n_hit",
            "k_exact",
        )
        out = leg if out is None else out.unionByName(leg)
    mean = F.sum("n_hit") / F.sum("k_exact")
    return out.groupBy("index_name", "floor_recall").agg(
        F.count("*").cast("long").alias("n_queries"),
        F.round(mean, 4).alias("mean_recall"),
        (mean >= F.col("floor_recall")).alias("beats_floor"),
    ).select(
        "index_name",
        "n_queries",
        "mean_recall",
        "floor_recall",
        "beats_floor",
    )


# --------------------------------------------------------------------------
# pyspark.ml BucketedRandomProjectionLSH parity (round 9) — the Euclidean
# half of the MLlib cross-validation (the Jaccard half is
# mllib_minhash_parity_pairs in functions/dedup.py): MLlib's independent
# E2LSH-style index and the portable hyperplane LSH are both run over the
# product-clustered fixture, where ground truth is unambiguous — same-
# cluster pairs sit at squared L2 <= 64 * 0.2^2 = 2.56 while the nearest
# cross-cluster pairs sit at >= 144, so "close pair" = "same cluster"
# with a 50x margin and the parity universe is exactly computable by
# brute force on both engines.
#
#   - in_cosine_lsh (does the pair share >= 1 portable hyperplane
#     bucket?) is HONESTLY replayed by the oracle — the plane constants
#     are literals in SQL, same as ann_lsh_topk.
#   - in_mllib cannot be replayed in DuckDB (seeded JVM projections);
#     the oracle pins it TRUE: with bucketLength 10 >> the 1.6 max
#     same-cluster distance, a per-table miss is ~d*sqrt(2/pi)/L ~ 0.13
#     and 12 OR-ed tables put the joint miss at ~1e-11 — frozen by the
#     literal seed, verified green at all three SFs before shipping.
#
# The eval universe is the bounded vec_id < BRP_MAX_ID slice (the knn /
# emb_neardup_pairs convention for quality measurements: fixed-size
# however big the corpus); the SHIP path for finding close pairs stays
# the banded/bucketed indexes.
# --------------------------------------------------------------------------
BRP_MAX_ID = 400  # bounded eval slice
BRP_D2 = 16.0  # squared-L2 close-pair floor (same-cluster <= 2.56)
BRP_DIST = 4.0  # MLlib join threshold (euclidean, = sqrt(BRP_D2))
BRP_TABLES = 12
BRP_BUCKET_LEN = 10.0
# in_mllib is oracle-pinned TRUE under this frozen seed — the pinned
# outcome depends on BucketedRandomProjectionLSH's seeded projection
# generation staying bit-stable and was verified on Spark 4.1.2 (this
# container) at all three SFs; a Spark upgrade changing seeded RNG
# derivation surfaces as a driver hash mismatch HERE (and on the MinHash
# twin in dedup.py), not as a portable-index bug.
BRP_SEED = 20260909


@query(
    "mllib_brp_lsh_parity_pairs",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM {_clustered_emb_sql()} WHERE vec_id < {BRP_MAX_ID}
    ),
    b AS (
{_buckets_cte_sql(N_PLANES)}
    ),
    shared AS (
      SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
      FROM b a JOIN b c ON a.tbl = c.tbl AND a.bucket = c.bucket
       AND a.vec_id < c.vec_id
    ),
    vv AS (
      SELECT vec_id, generate_subscripts(e, 1) - 1 AS pos,
             unnest(e) AS val
      FROM v
    ),
    d AS (
      SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
             ROUND(SUM((x.val - y.val) ^ 2), 6) AS d2
      FROM vv x JOIN vv y ON x.pos = y.pos AND x.vec_id < y.vec_id
      GROUP BY 1, 2
    )
    SELECT d.vec_a, d.vec_b, d.d2,
           TRUE AS in_mllib,
           s.vec_a IS NOT NULL AS in_cosine_lsh
    FROM d
    LEFT JOIN shared s ON s.vec_a = d.vec_a AND s.vec_b = d.vec_b
    WHERE d.d2 <= {BRP_D2!r}
    """,
)
def mllib_brp_lsh_parity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_a, vec_b, d2, in_mllib, in_cosine_lsh) for every close pair
    (squared L2 <= BRP_D2) of the bounded clustered-fixture slice: the
    cross-validation of pyspark.ml's BucketedRandomProjectionLSH and the
    portable hyperplane LSH against brute-force ground truth."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    vecs = _clustered_vecs(spark, sf_dir).filter(
        F.col("vec_id") < BRP_MAX_ID
    )
    # Brute-force close pairs over the bounded slice (broadcast one side:
    # an intentional bounded cross, never a corpus-scale product).
    a = vecs.select(F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"))
    b = vecs.select(F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"))
    d2 = F.round(sqdist(F.col("ea"), F.col("eb")), 6)
    close = (
        a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", d2.alias("d2"))
        .filter(F.col("d2") <= BRP_D2)
    )
    # Leg 1: portable hyperplane LSH — shared-bucket pairs (honest column).
    buckets = vecs.select(
        "vec_id", F.explode(lsh_table_buckets(F.col("e"), EMB_DIM)).alias("tb")
    ).select("vec_id", "tb.table", "tb.bucket")
    ba, bb = buckets.alias("a"), buckets.alias("b")
    shared = (
        ba.join(
            bb,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .distinct()
        .withColumn("in_cosine_lsh", F.lit(True))
    )
    # Leg 2: MLlib BRP-LSH approxSimilarityJoin at the euclidean threshold.
    feat = vecs.select("vec_id", array_to_vector("e").alias("features"))
    model = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=BRP_BUCKET_LEN,
        numHashTables=BRP_TABLES,
        seed=BRP_SEED,
    ).fit(feat)
    mllib = (
        model.approxSimilarityJoin(feat, feat, BRP_DIST, distCol="_d")
        .select(
            F.col("datasetA.vec_id").alias("vec_a"),
            F.col("datasetB.vec_id").alias("vec_b"),
        )
        .filter(F.col("vec_a") < F.col("vec_b"))
        .distinct()
        .withColumn("in_mllib", F.lit(True))
    )
    return (
        close.join(mllib, ["vec_a", "vec_b"], "left")
        .join(shared, ["vec_a", "vec_b"], "left")
        .select(
            "vec_a",
            "vec_b",
            "d2",
            F.coalesce("in_mllib", F.lit(False)).alias("in_mllib"),
            F.coalesce("in_cosine_lsh", F.lit(False)).alias("in_cosine_lsh"),
        )
    )


# --------------------------------------------------------------------------
# Distributed kNN-GRAPH construction via NN-Descent (round 10, Dong et al.
# 2011, "Efficient K-Nearest Neighbor Graph Construction for Generic
# Similarity Measures", WWW'11). The ANN family above answers POINT queries
# (Q query vectors against a corpus index); a kNN *graph* answers the
# all-nodes question — every vector's K nearest neighbors — which is the
# backbone structure for graph-based dedup (SemDeDup-style cluster
# refinement), diversity sampling, and HNSW-class index builds. Brute force
# is N^2; NN-Descent converges on the exact graph with O(N * K^2) work per
# iteration by exploiting the triangle-ish transitivity of similarity:
# "my neighbor's neighbor is probably my neighbor".
#
# Spark-first shape (no Python in the hot path, no N^2 anywhere):
#   init      LSH-SEEDED: each node's initial neighbor list is the top-K
#             among nodes sharing a hyperplane-LSH bucket in any table
#             (KNN_PLANES sign bits x N_TABLES tables — the module's plane
#             arithmetic, exactly replayable in SQL). Three inits were
#             measured at N=2000 before this one shipped: an id-ring
#             (neighbor-of-neighbor stays id-local — recall 0.08 after 2
#             rounds), a deterministic pseudo-random graph (Dong et al.'s
#             random init: 0.34 after 2 rounds, 0.63 after 4), and LSH
#             seeding (0.68 after 2) — metric-aware seeding buys ~2 full
#             refinement rounds. Bucket fan-in bounds init pairs to
#             ~N_TABLES * N * E[bucket size]; at real scale KNN_PLANES
#             grows with log2(N / target bucket size);
#   iterate   B_u = B UNION reverse(B) (the undirected neighbor view),
#             candidates = B_u JOIN B_u on the shared middle vertex
#             (neighbor-of-neighbor), UNION current edges, DISTINCT —
#             at most N * (2K)^2 candidate pairs per iteration;
#             score with zip_with/aggregate cosine (JVM codegen), keep
#             top-K per node by (cos6 DESC, nbr) window;
#   evaluate  recall of each round's graph against the brute-force truth
#             restricted to KNN_EVAL_N eval nodes (truth is EVAL_N x N,
#             never N^2).
# Every iteration is 2 hash joins on vector id + 1 window — all shuffles
# are K-bounded per node, so the plan survives a 1000-executor corpus
# (candidate frame ~N*4K^2 rows of (long, long)). Determinism follows the
# module convention: scores rounded to 6 dp before ranking, ties broken by
# neighbor id; the DuckDB oracle replays init and both iterations exactly.
#
# Monotonicity note (pinned in tests/test_knn_graph.py): an edge in the
# true top-K can only be evicted by a strictly better-ranked edge, and
# anything ranked above a true top-K member is itself a true top-K member
# — so per-node recall is NON-DECREASING across rounds, a structural
# invariant of the keep-best update independent of data.
# --------------------------------------------------------------------------
KNN_K = 12         # graph degree (measured: K=8 plateaus ~0.33 recall at
                   # N=2000 — degree is the diversity lever, Dong et al. §5)
KNN_ITERS = 2      # refinement rounds after the LSH seed: measured
                   # recall@12 trajectory 0.50/0.61/0.68 at N=2000 and
                   # 0.45/0.68/0.81 at N=500 — two rounds from a metric-
                   # aware seed beat four from a random one (0.63/0.92)
                   # at roughly half the scored pairs and job waves
KNN_EVAL_N = 50    # eval nodes (vec_id < 50) for truth/recall
KNN_PLANES_MIN = 6   # seed-LSH sign bits per table, floor (64 buckets);
                     # coarser than the 8-plane dedup variant on purpose —
                     # a SEED wants bigger buckets (more init candidates),
                     # a dedup filter wants smaller ones (fewer false pairs)
KNN_PLANES_MAX = 12  # sign bits actually computed per table; the bucket id
                     # is TRUNCATED to
                     # p(N) = min(MAX, max(MIN, ceil(log2(N/32))))
                     # bits — seed granularity SATURATES at MAX (~131k
                     # vectors); beyond that, bucket size grows N/2^12 and
                     # KNN_BUCKET_CAP bounds the pair count — corpus-adaptive seed granularity, the
                     # semdedup corpus-derived-K convention: at fixed
                     # planes the seed bucket join is N^2/2^p (quadratic),
                     # with p growing by log2(N) the expected bucket size
                     # pins at ~KNN_SEED_BUCKET and init pairs stay
                     # ~N * KNN_SEED_BUCKET * N_TABLES (linear). Truncation
                     # keeps the SQL replay exact: both engines compute the
                     # full 12-bit bucket and integer-divide by 2^(12-p)
KNN_SEED_BUCKET = 32 # target expected seed-bucket size
KNN_FLOOR = 0.6    # final-round mean recall floor: 0.68 measured at the
                   # hardest SF (sf0.1, N=2000); deterministic plan+data
KNN_BUCKET_CAP = 64  # max CANDIDATE members per (tbl, bucket) in a seed
                     # join. Near-duplicate-heavy corpora break the
                     # adaptive-plane bound: every copy of a vector lands
                     # in the SAME bucket at any plane depth (deeper
                     # planes split empty space, not occupied buckets),
                     # so bucket sizes grow with duplication and the
                     # seed join goes quadratic — the 30x probe corpus
                     # (30 near-copies per vector) measured 234M seed
                     # pairs where the uniform model predicts 7M. The
                     # cap is the hot-shingle frequency-cap discipline
                     # applied to buckets: candidates per bucket are a
                     # DETERMINISTIC hash-mixed subset, pairs bounded by
                     # N * tables * cap, and the refinement rounds
                     # recover what a capped seed misses.
KNN_CAP_SALT = 8     # salted two-phase rank: no task orders a
                     # corpus-scale degenerate bucket
KNN_CAP_MIX = 2654435761  # Knuth multiplicative mix for the kept subset
KNN_CAP_MOD = 2147483648  # 2^31


def _knn_capped_buckets(
    buckets: DataFrame, skip_salt: bool = False
) -> DataFrame:
    """Candidate-side bucket membership, capped to KNN_BUCKET_CAP per
    (tbl, bucket) by hash-mix order (salted two-phase: per-salt top-cap
    is a superset of the global top-cap, then the global rank runs over
    salt survivors only). The oracle replays it as ONE ROW_NUMBER.

    ``skip_salt`` (round-13 optimization, guide §2.4): the salt phase
    exists so no task ever sorts a corpus-scale degenerate bucket; when
    the corpus is below the serving broadcast gate the one-window form
    is used directly — the result is IDENTICAL by construction (any
    global top-cap member is within its salt's top-cap, so phase 1 only
    removes rows phase 2 would drop anyway; pinned in
    tests/test_knn_graph.py::test_capped_buckets_salt_skip_identical)."""
    mx = F.pmod(F.col("vec_id") * F.lit(KNN_CAP_MIX), F.lit(KNN_CAP_MOD))
    return top_k(
        buckets.withColumn("mx", mx),
        ["tbl", "bucket"],
        ["mx", "vec_id"],
        KNN_BUCKET_CAP,
        salt=None if skip_salt else F.col("vec_id") % KNN_CAP_SALT,
    ).select("vec_id", "tbl", "bucket")


def _knn_vecs(
    spark: SparkSession, sf_dir: str, where: Column | None = None
) -> DataFrame:
    """(vec_id, e, nrm): norms are computed ONCE per vector here — the
    scoring pass touches millions of pairs per round, and higher-order
    array functions are interpreted (not codegen'd), so a per-pair norm
    recomputation (4 extra array passes/pair) was measured at ~3x the
    whole scoring cost."""
    emb = load_table(spark, sf_dir, "embeddings")
    if where is not None:
        emb = emb.where(where)
    n_parts = partition_count(spark)
    e = as_double(F.col("embedding"))
    return bounded_persist(
        emb.repartition(n_parts, "vec_id").select(
            "vec_id", e.alias("e"), l2_norm(e).alias("nrm")
        )
    )


def _knn_score(
    pairs: DataFrame, vecs: DataFrame, bcast: bool = False
) -> DataFrame:
    """(node, nbr) -> (node, nbr, cos6): two id-keyed SHUFFLED HASH
    joins, one interpreted dot per pair (norms precomputed). With
    ``bcast`` (serving paths over a corpus below GS_BCAST_MAX_BYTES —
    guide §3.1: a broadcast join replaces a shuffle of the large side),
    both vector sides broadcast instead: zero exchanges per score call,
    and the pair frame keeps its upstream partitioning (no repartition —
    the AQE-funnel hazard below only exists on the shuffle path).
    Results are identical either way; only the exchange count moves.
    Two plan decisions on the default path, both paid for by
    measurement:

    - the explicit repartition spreads the pair frame across the cluster
      BEFORE the compute-heavy projection: pair rows are 16 bytes each,
      so AQE's byte-based coalescing would otherwise funnel millions of
      interpreted dot products into 2-3 post-shuffle partitions;
    - the shuffle_hash hints keep the engine from SortMergeJoin-sorting
      the FAT stream: after the first join every pair row carries a
      64-double vector (~540 B), and SMJ's sort of that stream at the
      30x probe scale (34M candidate pairs -> ~18 GB sort input) filled
      the box's disk with spill and killed the run. Hash-building the
      per-partition vector shard (the small, bounded side) and STREAMING
      the pairs never sorts the fat rows — the same reasoning at 1000
      executors: a vector shard per task is corpus/parallelism and
      bounded; the candidate stream is unbounded and must not sort."""
    n_parts = partition_count(pairs.sparkSession)
    a = vecs.select(
        F.col("vec_id").alias("node"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = vecs.select(
        F.col("vec_id").alias("nbr"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cos6 = cosine6("ea", "eb", "na", "nb").alias("cos6")
    if bcast:
        return (
            pairs.join(F.broadcast(a), "node")
            .join(F.broadcast(b), "nbr")
            .select("node", "nbr", cos6)
        )
    return (
        pairs.repartition(n_parts, "node", "nbr")
        .join(a.hint("shuffle_hash"), "node")
        .join(b.hint("shuffle_hash"), "nbr")
        .select("node", "nbr", cos6)
    )


def _knn_topk(
    scored: DataFrame, k: int = KNN_K, parts: int | None = None
) -> DataFrame:
    """Keep-best top-K per node. The explicit repartition before the
    window is the same compressed-size lesson as _knn_score's: thin
    (node, nbr, cos6) rows lz4-compress to ~3 bytes each, so AQE's
    byte-based planner handed the 34M-row window sort TWO tasks at the
    30x probe scale; partitioning by node at full parallelism lets the
    window reuse the exchange (no second shuffle) and sort in
    corpus/parallelism chunks. ``parts`` overrides the partition count
    for query-bounded serving frames (see _gs_parts)."""
    n_parts = parts or partition_count(scored.sparkSession)
    return _node_topk(scored.repartition(n_parts, "node"), k).select(
        "node", "nbr", "cos6"
    )


def _node_topk(df: DataFrame, k: int = KNN_K) -> DataFrame:
    """Top-``k`` neighbours per node by (cos6 desc, nbr): the graph
    family's one ranking, shared by build, truth and serving."""
    return top_k(df, "node", [F.desc("cos6"), "nbr"], k)


def _gs_serve(visited: DataFrame) -> DataFrame:
    """(q_id, rk, c_id, cosine): the served top-KNN_K per query of a
    traversal's visited (node, nbr, cos6) set."""
    return _node_topk(visited).select(
        F.col("node").alias("q_id"),
        F.col("rk").cast("long").alias("rk"),
        F.col("nbr").alias("c_id"),
        (F.col("cos6") + F.lit(0.0)).alias("cosine"),
    )


def _knn_prow(vecs: DataFrame) -> DataFrame:
    """One-row (p): the corpus-adaptive truncated plane count, CLAMPED to
    KNN_PLANES_MAX — only 12 sign bits are ever computed, so past
    ~KNN_SEED_BUCKET * 2^12 vectors (~131k) seed granularity saturates
    and expected bucket size grows as N/2^12 (bounded in pair count by
    KNN_BUCKET_CAP, which is the real guard at that scale). Without the
    clamp, p > 12 merely RESCALED the 12-bit id by 2^(p-12) with no added
    granularity while the formula claimed more (round-11 advice fix)."""
    pexp = F.least(
        F.greatest(
            F.lit(KNN_PLANES_MIN),
            F.ceil(
                F.log2(F.col("n") / F.lit(float(KNN_SEED_BUCKET)))
            ).cast("int"),
        ),
        F.lit(KNN_PLANES_MAX),
    )
    return vecs.agg(F.count("*").alias("n")).select(pexp.alias("p"))


def _knn_buckets(vecs: DataFrame, prow: DataFrame) -> DataFrame:
    """(vec_id, tbl, bucket): full 12-bit hyperplane buckets truncated to
    the p bits carried by the broadcast one-row ``prow``."""
    return (
        vecs.select(
            "vec_id",
            F.explode(
                lsh_table_buckets(F.col("e"), EMB_DIM, n_planes=KNN_PLANES_MAX)
            ).alias("tb"),
        )
        .crossJoin(F.broadcast(prow))
        .select(
            "vec_id",
            F.col("tb.table").alias("tbl"),
            F.floor(
                F.col("tb.bucket")
                / F.pow(
                    F.lit(2.0),
                    (F.lit(KNN_PLANES_MAX) - F.col("p")).cast("double"),
                )
            )
            .cast("long")
            .alias("bucket"),
        )
    )


def _knn_rounds(
    spark: SparkSession,
    sf_dir: str,
    vecs: DataFrame | None = None,
    buckets: DataFrame | None = None,
) -> list[DataFrame]:
    """[B_0 .. B_KNN_ITERS], each (node, nbr, cos6) with KNN_K neighbors
    per node (a node whose seed buckets hold fewer than K candidates
    starts under-K; one neighbor-of-neighbor round restores full degree).

    Each round is CHECKPOINTED (reliable, like connected components in
    dedup.py): round t's plan references round t-1 five times (two
    undirected legs, two self-join sides, the keep-current union), so
    without lineage truncation the logical plan grows ~5^t and Catalyst
    analysis time — not execution — was measured dominating the query
    (iter-1 window: 28.7 s analyzing vs 1.3 s running; a persist bounds
    recompute but not plan growth, because the optimizer still walks the
    full lineage under the cache node)."""
    if vecs is None:
        vecs = _knn_vecs(spark, sf_dir)
    if buckets is None:
        prow = _knn_prow(vecs)
        # persisted: the probe side and the capped candidate side both read
        # this frame, and the 12-plane bucket expression (~3k literals, 48
        # interpreted dots/row) is the expensive part — computing it twice
        # doubled plan+eval cost for zero benefit.
        buckets = bounded_persist(_knn_buckets(vecs, prow))
    n_parts = partition_count(spark)
    a = buckets.select(F.col("vec_id").alias("node"), "tbl", "bucket")
    # probe side uncapped (every node gets seeded); CANDIDATE side capped
    c = _knn_capped_buckets(buckets).select(
        F.col("vec_id").alias("nbr"), "tbl", "bucket"
    )
    init = (
        a.join(c, ["tbl", "bucket"])
        .where(F.col("node") != F.col("nbr"))
        .select("node", "nbr")
        .repartition(n_parts, "node", "nbr")
        .dropDuplicates(["node", "nbr"])
    )
    rounds = [reliable_checkpoint(_knn_topk(_knn_score(init, vecs)))]
    for it in range(KNN_ITERS):
        b = rounds[-1]
        und = (
            b.select(F.col("node").alias("a"), F.col("nbr").alias("b"))
            .union(b.select(F.col("nbr").alias("a"), F.col("node").alias("b")))
            .repartition(n_parts, "a", "b")
            .dropDuplicates(["a", "b"])
        )
        non = (
            und.alias("x")
            .join(und.alias("y"), F.col("x.b") == F.col("y.a"))
            .select(F.col("x.a").alias("node"), F.col("y.b").alias("nbr"))
            .where(F.col("node") != F.col("nbr"))
        )
        # explicit-N repartition + dropDuplicates instead of distinct():
        # the dedup hash-agg over the candidate pairs is the round's
        # biggest frame, and its optimizer-planned exchange falls into
        # the same compressed-thin-rows AQE trap as the window above
        # (every explicit-N repartition in this family exists for that
        # one reason: thin integer rows lz4-compress to ~3 bytes, so
        # byte-based partition planning starves the compute).
        cand = (
            non.union(b.select("node", "nbr"))
            .repartition(n_parts, "node", "nbr")
            .dropDuplicates(["node", "nbr"])
        )
        nxt = _knn_topk(_knn_score(cand, vecs))
        # The LAST round is consumed once (final output / one recall leg),
        # so its plan never nests — skip the eager checkpoint job for it.
        if it < KNN_ITERS - 1:
            nxt = reliable_checkpoint(nxt)
        rounds.append(nxt)
    return rounds


# --------------------------------------------------------------------------
# Materialized index SNAPSHOT (round 12) — the physical build->serve split
# the round-11 verdict named as the family's missing piece: every serving
# exhibit used the right TRAVERSAL plan but paid a full NN-Descent rebuild
# before its first hop (the 16 serving queries were 41% of the full-gate
# wall). The reference itself separates build from probe (`main.c:49`
# builds the word hashmap once, `main.c:56-61` probes it); this is that
# split at the vector grain: ONE parquet-materialized snapshot of the
# graph rounds + the seed-LSH bucket frame + the one-row plane count,
# content-keyed by (corpus identity, build config), built on first touch
# and then SCANNED by every graph-family query.
#
# Why a parquet scan and not a shared persisted DataFrame: the round-10
# kcenter/kmeans lesson — a persisted frame whose subplan is byte-identical
# to another query's input CHANGES THAT QUERY'S PLAN SHAPE via cache
# substitution. A parquet scan substitutes into nothing; each query's plan
# is exactly what it declares.
#
# Correctness stance: the build is deterministic (documented at
# _knn_rounds; every cut is a ROW_NUMBER over a total order), so the
# snapshot's values are bit-identical to an in-query rebuild — parquet
# round-trips int64/float64 exactly — and every driver hash is unchanged.
# The content key carries the embeddings files' (name, size, mtime), all
# build-shaping constants, and a version bumped on any build-code change,
# so a stale snapshot cannot outlive the code or data that built it.
#
# At 100 TB this is the production shape: the index is corpus-scale
# distributed state written once per build cadence (here: tempdir parquet;
# on a cluster: the object store / lakehouse table the serving tier
# scans), and each query is entry + bounded hops against that state.
# --------------------------------------------------------------------------
_KNN_SNAP_VER = 2  # manual escape hatch only: since round 13 the content
                   # key also carries a digest of the build functions'
                   # SOURCE (_knn_build_digest), so any edit to the build
                   # code invalidates old snapshots structurally — no human
                   # has to remember the bump (round-12 advisor finding).


def _source_closure(root) -> dict:
    """{qualified name: function} for every package function reachable
    from ``root``: the names each code object (nested lambdas and defs
    included) loads, resolved through the function's module globals and,
    for a package module held in those globals (``sim.x``), through that
    module's attributes. A registered query is walked through its body
    (``__wrapped__``), not the registry's entry wrapper, so session
    set-up never enters a digest. Over-approximates on purpose — a name
    that resolves to a package function is kept even if the path that
    reads it never runs — so no helper an edit could reach escapes a
    digest."""
    import inspect
    import types

    pkg = __name__.split(".")[0] + "."
    seen: dict = {}
    todo = [root]
    while todo:
        fn = inspect.unwrap(todo.pop())
        key = f"{fn.__module__}.{fn.__qualname__}"
        if key in seen:
            continue
        seen[key] = fn
        codes = [fn.__code__]
        while codes:
            co = codes.pop()
            codes += [c for c in co.co_consts if isinstance(c, types.CodeType)]
            spaces = [fn.__globals__] + [
                vars(m)
                for n in co.co_names
                if inspect.ismodule(m := fn.__globals__.get(n))
                and m.__name__.startswith(pkg)
            ]
            for n in co.co_names:
                for ns in spaces:
                    obj = ns.get(n)
                    if inspect.isfunction(obj) and obj.__module__.startswith(pkg):
                        todo.append(obj)
    return seen


def _closure_digest(root) -> str:
    """sha256 over the SOURCE of every package function reachable from
    ``root``. A code edit anywhere in that closure changes the digest,
    the digest changes the content key, and a warm tempdir can no longer
    serve values built by older code — staleness is structural, not a
    hand-kept list someone has to remember to extend."""
    import inspect

    fns = _source_closure(root)
    src = "\n".join(inspect.getsource(fns[k]) for k in sorted(fns))
    return hashlib.sha256(src.encode()).hexdigest()[:16]


def _knn_build_digest() -> str:
    """Source digest of everything the snapshot build (`_knn_index`)
    can reach."""
    global _KNN_BUILD_DIGEST
    if _KNN_BUILD_DIGEST is None:
        _KNN_BUILD_DIGEST = _closure_digest(_knn_index)
    return _KNN_BUILD_DIGEST


_KNN_BUILD_DIGEST: str | None = None


def _knn_snap_root() -> str:
    """Snapshot root. Scoped PER USER by default: a world-shared /tmp
    path would let another local user pre-create a content-keyed
    directory and have this engine serve their bytes (round-12 advisor
    finding) — the uid suffix puts each user's snapshots under their own
    tempdir namespace."""
    return os.environ.get("SPARK_GRAFT_INDEX_DIR") or os.path.join(
        tempfile.gettempdir(), f"pmr_spark_knn_index_{os.getuid()}"
    )


_KNN_SNAP_KEEP = 24  # LRU bound on snapshot dirs kept under the root


def _knn_snap_gc(root: str, keep_dir: str) -> None:
    """Bound the snapshot root: every config or data change orphans a
    content-keyed directory forever (two index variants plus the truth
    snapshot, times every SF touched), so long-lived boxes accumulate
    dead parquet. Keep the most-recently USED `_KNN_SNAP_KEEP` entries
    (use = os.utime touch on every serve) plus the one just ensured;
    also sweep `.build-*` temp dirs older than an hour (a crashed
    builder's leftovers — live builds finish in minutes)."""
    import time

    keep = _KNN_SNAP_KEEP
    try:
        entries = os.listdir(root)
    except OSError:
        return
    now = time.time()
    aged = []
    for name in entries:
        p = os.path.join(root, name)
        if not os.path.isdir(p):
            continue
        try:
            mt = os.stat(p).st_mtime
        except OSError:
            continue
        if ".build-" in name:
            if now - mt > 3600:
                shutil.rmtree(p, ignore_errors=True)
            continue
        if name.startswith(("knn_", "knntruth_")) and p != keep_dir:
            aged.append((mt, p))
    aged.sort(reverse=True)
    for _, p in aged[max(keep - 1, 0):]:
        shutil.rmtree(p, ignore_errors=True)


def _knn_snap_dir(sf_dir: str, variant: str = "full") -> str:
    """Content-keyed snapshot directory for one (corpus, build config,
    variant). Variants are distinct index VERSIONS over the same corpus:
    'full' = the standard all-vectors build; 'ingest_base' = the
    incremental-ingest fixture's base index (batch residues excluded
    from the build; bucket frame covers the FULL corpus at the base
    index's plane count — the index that exists decides granularity)."""
    root = _knn_snap_root()
    emb = os.path.join(sf_dir.rstrip("/"), "embeddings.parquet")
    sig: list[tuple[str, int, int]] = []
    if os.path.isdir(emb):
        for f in sorted(os.listdir(emb)):
            st = os.stat(os.path.join(emb, f))
            sig.append((f, st.st_size, st.st_mtime_ns))
    elif os.path.exists(emb):
        st = os.stat(emb)
        sig.append((os.path.basename(emb), st.st_size, st.st_mtime_ns))
    cfg = (
        _KNN_SNAP_VER,
        _knn_build_digest(),
        variant,
        KNN_BATCH_MOD,
        KNN_BATCH_RES,
        KNN_K,
        KNN_ITERS,
        KNN_PLANES_MIN,
        KNN_PLANES_MAX,
        KNN_SEED_BUCKET,
        KNN_BUCKET_CAP,
        KNN_CAP_SALT,
        KNN_CAP_MIX,
        KNN_CAP_MOD,
        EMB_DIM,
        N_TABLES,
    )
    key = hashlib.sha256(
        repr((os.path.abspath(sf_dir), tuple(sig), cfg)).encode()
    ).hexdigest()[:16]
    return os.path.join(root, f"knn_{key}")


def _knn_cells(spark: SparkSession, sf_dir: str):
    """(cells, cents_long): the SEMANTIC shard map — cell = the vector's
    `kmeans_lloyd_2iter` assignment (frozen first-KMEANS_K init, one
    Lloyd update, final assignment), and the (cid, pos, cval) centroids
    that assignment used (6dp — serve-time probe ranking must reproduce
    exactly this geometry). Unlike the hash shard key, cells have
    LOCALITY: a vector's near neighbors mostly share its cell, which is
    what makes routed serving work (`ann_graph_search_cell_routed_recall`
    vs the hash-routed collapse in `ann_graph_search_routed_recall`)."""
    a2, c1_long = _kmeans_2iter(spark, sf_dir)
    return a2.select("vec_id", F.col("cid").alias("cell")), c1_long


def _knn_index(
    spark: SparkSession, sf_dir: str, variant: str = "full"
) -> str:
    """Ensure the snapshot exists for this corpus; return its directory.

    First touch runs the standard build (`_knn_rounds`) and writes
    prow/buckets/round0..round{KNN_ITERS} as parquet into a temp dir,
    then renames it into place — the rename is atomic, so a concurrent
    builder (a parallel test worker) either wins the rename or discards
    its identical copy; a partially written directory is never visible
    under the final name."""
    d = _knn_snap_dir(sf_dir, variant)
    if os.path.isdir(d):
        _knn_snap_touch(d)
        return d
    if variant == "ingest_base":
        allv = _knn_vecs(spark, sf_dir)
        vecs = bounded_persist(
            allv.where(F.col("vec_id") % KNN_BATCH_MOD != KNN_BATCH_RES)
        )
        prow = _knn_prow(vecs)
        # bucket frame over the FULL corpus at the BASE plane count (the
        # ingest contract: arrivals bucket with the index that exists);
        # the build itself seeds from the base-id subset of these rows.
        buckets = bounded_persist(_knn_buckets(allv, prow))
        build_buckets = buckets.join(
            vecs.select("vec_id"), "vec_id", "left_semi"
        )
    elif variant.startswith("sharded"):
        # Sharded variant (round 13): shard = vec_id % S; the bucket id
        # becomes the COMPOSITE (bucket * S + shard), which confines
        # seeding within a shard — and NN-Descent's neighbor-of-neighbor
        # closure preserves the shard of every edge, so the ONE standard
        # build pass computes S independent per-shard graphs (the
        # reference's own execution model: a partitioned KV store with
        # per-partition reducers, mapreduce.h:35-36, mapreduce.c:259-285).
        # LSH config (plane count) stays GLOBAL: shards share hash
        # functions so one query bucketing serves every shard.
        s_count = int(variant[len("sharded"):])
        vecs = _knn_vecs(spark, sf_dir)
        prow = _knn_prow(vecs)
        buckets = bounded_persist(
            _knn_buckets(vecs, prow).select(
                "vec_id",
                "tbl",
                (
                    F.col("bucket") * s_count
                    + F.pmod(F.col("vec_id"), F.lit(s_count))
                ).alias("bucket"),
            )
        )
        build_buckets = buckets
    elif variant == "cellrouted":
        # Semantic-shard variant (round 13): shard = the vector's kmeans
        # cell (KMEANS_K cells, the kmeans_lloyd_2iter convention), the
        # same composite-bucket construction as the hash shards — one
        # standard build pass, per-CELL graphs via the in-shard closure.
        # The cell map + the centroids it was assigned with persist as
        # snapshot artifacts: serving routes queries by centroid
        # distance, so the routing geometry ships WITH the index.
        vecs = _knn_vecs(spark, sf_dir)
        prow = _knn_prow(vecs)
        cells, cents_long = _knn_cells(spark, sf_dir)
        cells = bounded_persist(cells)
        buckets = bounded_persist(
            _knn_buckets(vecs, prow)
            .join(cells, "vec_id")
            .select(
                "vec_id",
                "tbl",
                (F.col("bucket") * KMEANS_K + F.col("cell")).alias("bucket"),
            )
        )
        build_buckets = buckets
        extras = [("cells", cells), ("cents", cents_long)]
    else:
        vecs = _knn_vecs(spark, sf_dir)
        prow = _knn_prow(vecs)
        buckets = bounded_persist(_knn_buckets(vecs, prow))
        build_buckets = buckets
    if variant != "cellrouted":
        extras = []
    rounds = _knn_rounds(spark, sf_dir, vecs=vecs, buckets=build_buckets)
    tmp = f"{d}.build-{os.getpid()}"
    try:
        prow.write.mode("overwrite").parquet(os.path.join(tmp, "prow"))
        buckets.write.mode("overwrite").parquet(os.path.join(tmp, "buckets"))
        for name, df_ in extras:
            df_.write.mode("overwrite").parquet(os.path.join(tmp, name))
        for r, b in enumerate(rounds):
            b.write.mode("overwrite").parquet(os.path.join(tmp, f"round{r}"))
    except BaseException:
        # A failed build must not leak its partial temp dir into the
        # snapshot root (round-12 advisor finding).
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, d)
    except OSError:
        # Lost the race to a concurrent builder. The build is
        # deterministic, so the winner's copy is identical — keep theirs.
        shutil.rmtree(tmp, ignore_errors=True)
    _knn_snap_gc(os.path.dirname(d), d)
    return d


def _knn_snap_touch(d: str) -> None:
    """Record use for the GC's LRU ordering; never fail a serve on it."""
    try:
        os.utime(d)
    except OSError:
        pass


def _knn_graph_snap(
    spark: SparkSession, sf_dir: str, rnd: int = KNN_ITERS
) -> DataFrame:
    """(node, nbr, cos6): NN-Descent round ``rnd`` read from the snapshot
    (built on first touch). The serving-side replacement for an in-query
    `_knn_rounds(...)` rebuild."""
    return spark.read.parquet(
        os.path.join(_knn_index(spark, sf_dir), f"round{rnd}")
    )


def _knn_buckets_snap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, tbl, bucket): the seed-LSH bucket frame from the snapshot
    — the entry index serving queries probe (uncapped; cap at use)."""
    return spark.read.parquet(
        os.path.join(_knn_index(spark, sf_dir), "buckets")
    )


def _knn_prow_snap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row (p): the corpus-adaptive plane count the snapshot was built
    with — what OOV queries bucket their held-out vectors by (the index
    that exists decides the granularity)."""
    return spark.read.parquet(os.path.join(_knn_index(spark, sf_dir), "prow"))


# --------------------------------------------------------------------------
# Materialized EVAL-TRUTH snapshot (round 13) — the round-12 verdict's #1:
# the recall exhibits each re-ran the same brute-force eval x corpus scan
# (~8 copies per gate pass: full truth, survivor truths, per-fraction
# truths, filtered truth, the OOV truth). The truth is deterministic per
# (corpus, eval config) exactly as the graph is, so it gets the same
# build-once-probe-many split (`main.c:49` builds once, `main.c:56-61`
# probes many): ONE scored frame per corpus —
#
#   eval_scored: (node, nbr, cos6) for EVERY eval-node x corpus pair
#                (eval nodes = the recall-family union: vec_id < KNN_EVAL_N
#                plus the ingest-eval batch nodes < KNN_INGEST_EVAL_MAX),
#   oov_scored:  (node, nbr, cos6) for the held-out OOV queries x corpus
#
# written UNCUT (no top-K): every truth variant — full, survivor,
# per-deletion-fraction, predicate-filtered — is a filter + re-rank over
# the scan, so the K-cut and any eligibility filter stay query-side and
# the artifact serves them all. Values are the exact expressions the
# inline truths computed (same dot/round(…,6)); parquet round-trips
# float64 exactly, so every driver hash is unchanged.
# --------------------------------------------------------------------------
_TRUTH_SNAP_VER = 1
_TRUTH_DIGEST: str | None = None


def _knn_truth_digest() -> str:
    """Source digest of every function shaping the truth artifact's bytes
    (same structural-staleness contract as _knn_build_digest)."""
    global _TRUTH_DIGEST
    if _TRUTH_DIGEST is None:
        _TRUTH_DIGEST = _closure_digest(_knn_truth_index)
    return _TRUTH_DIGEST


def _knn_truth_dir(sf_dir: str) -> str:
    emb = os.path.join(sf_dir.rstrip("/"), "embeddings.parquet")
    sig: list[tuple[str, int, int]] = []
    if os.path.isdir(emb):
        for f in sorted(os.listdir(emb)):
            st = os.stat(os.path.join(emb, f))
            sig.append((f, st.st_size, st.st_mtime_ns))
    elif os.path.exists(emb):
        st = os.stat(emb)
        sig.append((os.path.basename(emb), st.st_size, st.st_mtime_ns))
    cfg = (
        _TRUTH_SNAP_VER,
        _knn_truth_digest(),
        KNN_EVAL_N,
        KNN_BATCH_MOD,
        KNN_BATCH_RES,
        KNN_INGEST_EVAL_MAX,
        GS_OOV_BASE,
        GS_OOV_N,
        EMB_DIM,
    )
    key = hashlib.sha256(
        repr((os.path.abspath(sf_dir), tuple(sig), cfg)).encode()
    ).hexdigest()[:16]
    return os.path.join(_knn_snap_root(), f"knntruth_{key}")


def _knn_truth_index(spark: SparkSession, sf_dir: str) -> str:
    """Ensure the eval-truth snapshot exists for this corpus; return its
    directory. Same atomic temp-dir + rename commit protocol as
    _knn_index (race loser discards its identical copy)."""
    d = _knn_truth_dir(sf_dir)
    if os.path.isdir(d):
        _knn_snap_touch(d)
        return d
    vecs = _knn_vecs(spark, sf_dir)
    eval_pred = (F.col("vec_id") < KNN_EVAL_N) | (
        (F.col("vec_id") % KNN_BATCH_MOD == KNN_BATCH_RES)
        & (F.col("vec_id") < KNN_INGEST_EVAL_MAX)
    )
    q = vecs.where(eval_pred).select(
        F.col("vec_id").alias("node"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    c = vecs.select(
        F.col("vec_id").alias("nbr"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    eval_scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("node") != F.col("nbr"))
        .select(
            "node",
            "nbr",
            cosine6("ea", "eb", "na", "nb").alias("cos6"),
        )
    )
    qv = _gs_oov_queries(spark, sf_dir)
    oov_scored = c.crossJoin(F.broadcast(qv)).select(
        "node",
        "nbr",
        cosine6("qe", "eb", "qn", "nb").alias("cos6"),
    )
    tmp = f"{d}.build-{os.getpid()}"
    try:
        eval_scored.write.mode("overwrite").parquet(
            os.path.join(tmp, "eval_scored")
        )
        oov_scored.write.mode("overwrite").parquet(
            os.path.join(tmp, "oov_scored")
        )
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, d)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
    _knn_snap_gc(os.path.dirname(d), d)
    return d


def _knn_truth_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, nbr, cos6): the UNCUT scored eval x corpus frame from the
    truth snapshot (built on first touch)."""
    return spark.read.parquet(
        os.path.join(_knn_truth_index(spark, sf_dir), "eval_scored")
    )


def _knn_oov_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, nbr, cos6): the UNCUT scored OOV-query x corpus frame."""
    return spark.read.parquet(
        os.path.join(_knn_truth_index(spark, sf_dir), "oov_scored")
    )


def _knn_buckets_cte(src: str = "knnv") -> str:
    """Seed-LSH bucket rows (vec_id, tbl, bucket) over ``src`` — the same
    plane constants as the engine's
    lsh_table_buckets(n_planes=KNN_PLANES_MAX), embedded as list literals,
    truncated to the corpus-adaptive p bits carried by knnp exactly as
    the engine does."""
    full = "\n        UNION ALL\n".join(
        f"        SELECT vec_id, {t} AS tbl,"
        f" {_bucket_sql(t, KNN_PLANES_MAX)} AS b12 FROM {src}"
        for t in range(N_TABLES)
    )
    return f"""      SELECT vec_id, tbl,
             CAST(FLOOR(b12 / POWER(2, {KNN_PLANES_MAX} - knnp.p)) AS BIGINT)
               AS bucket
      FROM (
{full}
      ) knnb12 CROSS JOIN knnp"""


def _knn_oracle_ctes(
    where: str = "",
    shard_mod: int | None = None,
    shard_map: str | None = None,
) -> str:
    """Shared CTE chain b0..b{KNN_ITERS}: init + unrolled refinement over
    the (optionally filtered) corpus. ``shard_mod`` = S builds the
    SHARDED index instead: candidates cap per (tbl, bucket, vec_id % S)
    and seeding stays within a shard — and because NN-Descent's
    neighbor-of-neighbor closure preserves the shard of every edge, the
    refinement CTEs need no change at all: S independent per-shard
    graphs fall out of the one chain. ``shard_map`` names an
    already-emitted (vec_id, cell) CTE and shards by THAT mapping
    instead (the semantic/cell-sharded build): the bucket frame gains a
    joined `shard` column (knnlshbs), the cap partitions by it, and
    seeding joins on it — same closure argument, per-CELL graphs."""
    shard_part = f", vec_id % {shard_mod}" if shard_mod else ""
    shard_join = (
        f" AND q.vec_id % {shard_mod} = c.vec_id % {shard_mod}"
        if shard_mod
        else ""
    )
    if shard_map:
        return _knn_oracle_ctes_mapped(where, shard_map)
    ctes = f"""
    knnv AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings {where}
    ), knnn AS (SELECT COUNT(*) AS n FROM knnv),
    knnp AS (
      SELECT LEAST(GREATEST({KNN_PLANES_MIN},
                     CAST(CEIL(LOG2(n / {float(KNN_SEED_BUCKET)})) AS INT)),
                   {KNN_PLANES_MAX}) AS p
      FROM knnn
    ), knnlshb AS MATERIALIZED (
{_knn_buckets_cte()}
    ), knnlshc AS MATERIALIZED (
      SELECT vec_id, tbl, bucket FROM (
        SELECT vec_id, tbl, bucket,
               ROW_NUMBER() OVER (
                 PARTITION BY tbl, bucket{shard_part}
                 ORDER BY (vec_id * {KNN_CAP_MIX}) % {KNN_CAP_MOD}, vec_id
               ) AS rn
        FROM knnlshb
      ) WHERE rn <= {KNN_BUCKET_CAP}
    ), knninit AS (
      SELECT DISTINCT q.vec_id AS node, c.vec_id AS nbr
      FROM knnlshb q
      JOIN knnlshc c ON q.tbl = c.tbl AND q.bucket = c.bucket{shard_join}
      WHERE q.vec_id <> c.vec_id
    ), b0 AS MATERIALIZED (
      SELECT node, nbr, cos6 FROM (
        SELECT s.node, s.nbr, s.cos6,
               ROW_NUMBER() OVER (PARTITION BY s.node
                                  ORDER BY s.cos6 DESC, s.nbr) AS rk
        FROM (
          SELECT knninit.node, knninit.nbr,
                 ROUND(list_cosine_similarity(a.e, c.e), 6) AS cos6
          FROM knninit JOIN knnv a ON a.vec_id = knninit.node
                       JOIN knnv c ON c.vec_id = knninit.nbr
        ) s
      ) WHERE rk <= {KNN_K}
    )"""
    for i in range(1, KNN_ITERS + 1):
        p = i - 1
        ctes += f""",
    u{i} AS MATERIALIZED (
      SELECT node AS a, nbr AS b FROM b{p}
      UNION
      SELECT nbr AS a, node AS b FROM b{p}
    ), cand{i} AS (
      SELECT x.a AS node, y.b AS nbr
      FROM u{i} x JOIN u{i} y ON x.b = y.a
      WHERE x.a <> y.b
      UNION
      SELECT node, nbr FROM b{p}
    ), b{i} AS MATERIALIZED (
      SELECT node, nbr, cos6 FROM (
        SELECT s.node, s.nbr, s.cos6,
               ROW_NUMBER() OVER (PARTITION BY s.node
                                  ORDER BY s.cos6 DESC, s.nbr) AS rk
        FROM (
          SELECT cand{i}.node, cand{i}.nbr,
                 ROUND(list_cosine_similarity(a.e, c.e), 6) AS cos6
          FROM cand{i} JOIN knnv a ON a.vec_id = cand{i}.node
                       JOIN knnv c ON c.vec_id = cand{i}.nbr
        ) s
      ) WHERE rk <= {KNN_K}
    )"""
    return ctes


def _knn_oracle_ctes_mapped(where: str, shard_map: str) -> str:
    """The `shard_map` leg of `_knn_oracle_ctes`: identical build chain,
    but the shard of a vector comes from a JOIN against the named
    (vec_id, cell) CTE instead of a modulo — the bucket frame gains a
    `shard` column (knnlshbs), the cap partitions by it, seeding joins
    on it, and the refinement loop is untouched (the in-shard closure
    argument is shard-key-agnostic)."""
    ctes = f"""
    knnv AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings {where}
    ), knnn AS (SELECT COUNT(*) AS n FROM knnv),
    knnp AS (
      SELECT LEAST(GREATEST({KNN_PLANES_MIN},
                     CAST(CEIL(LOG2(n / {float(KNN_SEED_BUCKET)})) AS INT)),
                   {KNN_PLANES_MAX}) AS p
      FROM knnn
    ), knnlshb AS MATERIALIZED (
{_knn_buckets_cte()}
    ), knnlshbs AS MATERIALIZED (
      SELECT b.vec_id, b.tbl, b.bucket, m.cell AS shard
      FROM knnlshb b JOIN {shard_map} m ON m.vec_id = b.vec_id
    ), knnlshc AS MATERIALIZED (
      SELECT vec_id, tbl, bucket, shard FROM (
        SELECT vec_id, tbl, bucket, shard,
               ROW_NUMBER() OVER (
                 PARTITION BY tbl, bucket, shard
                 ORDER BY (vec_id * {KNN_CAP_MIX}) % {KNN_CAP_MOD}, vec_id
               ) AS rn
        FROM knnlshbs
      ) WHERE rn <= {KNN_BUCKET_CAP}
    ), knninit AS (
      SELECT DISTINCT q.vec_id AS node, c.vec_id AS nbr
      FROM knnlshbs q
      JOIN knnlshc c ON q.tbl = c.tbl AND q.bucket = c.bucket
                    AND q.shard = c.shard
      WHERE q.vec_id <> c.vec_id
    ), b0 AS MATERIALIZED (
      SELECT node, nbr, cos6 FROM (
        SELECT s.node, s.nbr, s.cos6,
               ROW_NUMBER() OVER (PARTITION BY s.node
                                  ORDER BY s.cos6 DESC, s.nbr) AS rk
        FROM (
          SELECT knninit.node, knninit.nbr,
                 ROUND(list_cosine_similarity(a.e, c.e), 6) AS cos6
          FROM knninit JOIN knnv a ON a.vec_id = knninit.node
                       JOIN knnv c ON c.vec_id = knninit.nbr
        ) s
      ) WHERE rk <= {KNN_K}
    )"""
    for i in range(1, KNN_ITERS + 1):
        p = i - 1
        ctes += f""",
    u{i} AS MATERIALIZED (
      SELECT node AS a, nbr AS b FROM b{p}
      UNION
      SELECT nbr AS a, node AS b FROM b{p}
    ), cand{i} AS (
      SELECT x.a AS node, y.b AS nbr
      FROM u{i} x JOIN u{i} y ON x.b = y.a
      WHERE x.a <> y.b
      UNION
      SELECT node, nbr FROM b{p}
    ), b{i} AS MATERIALIZED (
      SELECT node, nbr, cos6 FROM (
        SELECT s.node, s.nbr, s.cos6,
               ROW_NUMBER() OVER (PARTITION BY s.node
                                  ORDER BY s.cos6 DESC, s.nbr) AS rk
        FROM (
          SELECT cand{i}.node, cand{i}.nbr,
                 ROUND(list_cosine_similarity(a.e, c.e), 6) AS cos6
          FROM cand{i} JOIN knnv a ON a.vec_id = cand{i}.node
                       JOIN knnv c ON c.vec_id = cand{i}.nbr
        ) s
      ) WHERE rk <= {KNN_K}
    )"""
    return ctes


@query(
    "knn_graph_nn_descent",
    headline=True,
    oracle=f"""
    WITH {_knn_oracle_ctes()}
    SELECT node, rk, nbr, cos6 + 0.0 AS cosine
    FROM (
      SELECT node, nbr, cos6,
             CAST(ROW_NUMBER() OVER (PARTITION BY node
                                     ORDER BY cos6 DESC, nbr) AS BIGINT)
               AS rk
      FROM b{KNN_ITERS} WHERE node < {KNN_EVAL_N}
    )
    """,
)
def knn_graph_nn_descent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final NN-Descent graph, eval-node slice: (node, rk, nbr, cosine).
    The full N x K graph exists distributed; only the KNN_EVAL_N-node
    window crosses to the driver for value-checking. This query IS the
    build: first touch runs NN-Descent and writes the index snapshot
    (`_knn_index`); the returned plan reads the snapshot back — the same
    rows either way, because the build is deterministic."""
    final = _knn_graph_snap(spark, sf_dir).where(F.col("node") < KNN_EVAL_N)
    w = W.partitionBy("node").orderBy(F.desc("cos6"), "nbr")
    # cosine ships at the ranking precision (6 dp), NOT re-rounded to 4:
    # a 6dp value ending in ...5 is a true 4dp midpoint, and Spark
    # (decimal HALF_UP) and DuckDB (double half-away) split on it —
    # sf0.1 edge (21, 775) cos6=0.327850 hit exactly that.
    return final.select(
        "node",
        F.row_number().over(w).cast("long").alias("rk"),
        "nbr",
        (F.col("cos6") + F.lit(0.0)).alias("cosine"),
    )


def _knn_truth(
    spark: SparkSession,
    sf_dir: str,
    qpred: Column | None = None,
    nbr_semi: DataFrame | None = None,
    nbr_anti: DataFrame | None = None,
) -> DataFrame:
    """Brute-force top-K truth for the eval nodes, served as a filter +
    re-rank over the materialized truth snapshot (round 13 — the scored
    eval x corpus frame is written once per corpus, every truth variant
    cuts from it). ``qpred`` (over ``vec_id``) overrides the default
    eval-node predicate (vec_id < KNN_EVAL_N); ``nbr_semi``/``nbr_anti``
    (one-column ``vec_id`` frames) restrict the candidate side BEFORE the
    top-K cut — the survivor- and predicate-filtered truths' shape."""
    if qpred is None:
        qpred = F.col("vec_id") < KNN_EVAL_N
    s = (
        _knn_truth_scored(spark, sf_dir)
        .select(F.col("node").alias("vec_id"), "nbr", "cos6")
        .where(qpred)
        .select(F.col("vec_id").alias("node"), "nbr", "cos6")
    )
    if nbr_semi is not None:
        s = s.join(
            F.broadcast(nbr_semi.select(F.col("vec_id").alias("nbr"))),
            "nbr",
            "left_semi",
        )
    if nbr_anti is not None:
        s = s.join(
            F.broadcast(nbr_anti.select(F.col("vec_id").alias("nbr"))),
            "nbr",
            "left_anti",
        )
    return _knn_topk(s).select("node", "nbr")


_KNN_TRUTH_SQL = f"""
      SELECT node, nbr FROM (
        SELECT q.vec_id AS node, c.vec_id AS nbr,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY ROUND(list_cosine_similarity(q.e, c.e), 6) DESC,
                          c.vec_id) AS rk
        FROM knnv q JOIN knnv c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {KNN_EVAL_N}
      ) WHERE rk <= {KNN_K}
"""


@query(
    "knn_graph_recall_curve",
    oracle=f"""
    WITH {_knn_oracle_ctes()},
    knntruth AS ({_KNN_TRUTH_SQL}),
    legs AS (
      {" UNION ALL ".join(
          f'''SELECT CAST({r} AS BIGINT) AS rnd, t.node, t.nbr,
                     CASE WHEN b.nbr IS NOT NULL THEN 1 ELSE 0 END AS hit
              FROM knntruth t
              LEFT JOIN (SELECT node, nbr FROM b{r}
                         WHERE node < {KNN_EVAL_N}) b
                ON t.node = b.node AND t.nbr = b.nbr'''
          for r in range(KNN_ITERS + 1)
      )}
    ),
    churn AS (
      {" UNION ALL ".join(
          f'''SELECT CAST({r} AS BIGINT) AS rnd,
                     CAST(COUNT(*) AS BIGINT) AS n_edges,
                     CAST(SUM(CASE WHEN p.nbr IS NULL THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_new_edges
              FROM b{r} c
              LEFT JOIN {f"b{r - 1}" if r else "(SELECT NULL AS node,"
                         " NULL AS nbr WHERE FALSE)"} p
                ON p.node = c.node AND p.nbr = c.nbr'''
          for r in range(KNN_ITERS + 1)
      )}
    )
    SELECT l.rnd, l.n_true, l.n_hit, l.recall,
           churn.n_edges, churn.n_new_edges,
           CASE WHEN l.rnd = {KNN_ITERS}
                THEN CAST({KNN_FLOOR!r} AS DOUBLE) ELSE 0.0 END
             AS floor_recall,
           l.raw_recall
             >= CASE WHEN l.rnd = {KNN_ITERS}
                     THEN CAST({KNN_FLOOR!r} AS DOUBLE) ELSE 0.0 END
             AS beats_floor
    FROM (
      SELECT rnd,
             CAST(COUNT(*) AS BIGINT) AS n_true,
             CAST(SUM(hit) AS BIGINT) AS n_hit,
             ROUND(SUM(hit) * 1.0 / COUNT(*), 4) AS recall,
             SUM(hit) * 1.0 / COUNT(*) AS raw_recall
      FROM legs GROUP BY rnd
    ) l JOIN churn USING (rnd)
    """,
)
def knn_graph_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-round mean recall of the NN-Descent graph vs brute-force truth
    on the eval nodes, plus the GLOBAL edge churn — (rnd, n_true, n_hit,
    recall, n_edges, n_new_edges, floor_recall, beats_floor). n_new_edges
    (edges absent from the previous round's graph) is NN-Descent's
    standard convergence signal (Dong et al. terminate when the update
    count falls below delta*N*K); recall needs ground truth, churn
    doesn't, so churn is what a production run monitors. The floor
    literal (final round only) crosses the driver hash, making graph
    convergence an implementation-quality gate like the clustered ANN
    matrix."""
    truth = bounded_persist(_knn_truth(spark, sf_dir))
    rounds = [
        _knn_graph_snap(spark, sf_dir, r) for r in range(KNN_ITERS + 1)
    ]
    legs = []
    churn_legs = []
    prev = None
    for r, b in enumerate(rounds):
        hit = (
            truth.join(
                b.where(F.col("node") < KNN_EVAL_N)
                .select("node", "nbr")
                .withColumn("hit", F.lit(1)),
                ["node", "nbr"],
                "left",
            )
            .select(
                F.lit(r).cast("long").alias("rnd"),
                F.coalesce(F.col("hit"), F.lit(0)).alias("hit"),
            )
        )
        legs.append(hit)
        if prev is None:
            churn_legs.append(
                b.agg(
                    F.lit(r).cast("long").alias("rnd"),
                    F.count("*").cast("long").alias("n_edges"),
                    F.count("*").cast("long").alias("n_new_edges"),
                )
            )
        else:
            j = b.select("node", "nbr").join(
                prev.select("node", "nbr").withColumn("old", F.lit(1)),
                ["node", "nbr"],
                "left",
            )
            churn_legs.append(
                j.agg(
                    F.lit(r).cast("long").alias("rnd"),
                    F.count("*").cast("long").alias("n_edges"),
                    F.sum(F.when(F.col("old").isNull(), 1).otherwise(0))
                    .cast("long")
                    .alias("n_new_edges"),
                )
            )
        prev = b
    allr = legs[0]
    for leg in legs[1:]:
        allr = allr.union(leg)
    churn = churn_legs[0]
    for leg in churn_legs[1:]:
        churn = churn.union(leg)
    floor = F.when(
        F.col("rnd") == KNN_ITERS, F.lit(float(KNN_FLOOR))
    ).otherwise(F.lit(0.0))
    agg = allr.groupBy("rnd").agg(
        F.count("*").cast("long").alias("n_true"),
        F.sum("hit").cast("long").alias("n_hit"),
        F.round(F.sum("hit") / F.count("*"), 4).alias("recall"),
        F.max(floor).alias("floor_recall"),
        (F.sum("hit") / F.count("*") >= F.max(floor)).alias("beats_floor"),
    )
    return agg.join(F.broadcast(churn), "rnd").select(
        "rnd",
        "n_true",
        "n_hit",
        "recall",
        "n_edges",
        "n_new_edges",
        "floor_recall",
        "beats_floor",
    )


# --------------------------------------------------------------------------
# Incremental kNN-graph ingest (round 10, session 3) — the maintenance
# path the batch build above doesn't cover: a daily-arrivals batch joins
# an EXISTING graph without a rebuild (the graph twin of
# incremental_dedup_ingest / incremental_neardup_ingest). Batch = vec_id
# % KNN_BATCH_MOD == KNN_BATCH_RES (~14%), base = the rest; the base
# graph is the standard 2-round build over base vectors only.
#
# Ingest, three base-graph-bounded steps:
#   1. SEED   new nodes bucket with the base index's plane count (p from
#             the BASE corpus — the index that exists decides the
#             granularity) and take top-K among bucket-sharing base
#             vectors;
#   2. REFINE one neighbor-of-neighbor hop THROUGH the base graph (new ->
#             seeded base nbr -> its base nbrs), keep-best — the step
#             that recovers neighbors the seed buckets missed;
#   3. BACK-LINK base nodes absorb the reverse edges (base node b is a
#             candidate neighbor OF new node n <=> n is a candidate for
#             b, same score) and re-rank their lists — so the graph stays
#             symmetric-candidate after ingest, not append-only.
# Batch-INTERNAL edges (round 11): step 1 also seeds new nodes against a
# CAPPED within-batch candidate side (batch buckets only, the same
# KNN_BUCKET_CAP discipline), so two same-batch arrivals can neighbor
# each other immediately instead of waiting for the periodic rebuild —
# knn_graph_incremental_recall prices exactly what that leg buys (the
# round-10 staleness window, committed as a recall delta).
#
# Scale: every step is bucket- or degree-bounded (seed ~|batch| * 32 *
# tables pairs, refine ~|batch| * K * 2K, back-link ~|batch| * K), so
# ingest cost scales with the BATCH, not the corpus — the property that
# makes it an ingest path at all. Output grain (kind, node, rk, nbr,
# cos6): kind='new' = every new node's final list; kind='base' = only
# the base-list entries that now point at batch nodes (the graph delta).
# --------------------------------------------------------------------------
KNN_BATCH_MOD = 7
KNN_BATCH_RES = 3


def _knn_ingest_head_ctes() -> str:
    """Shared ingest-oracle head: base-graph chain (b0..bN over the base
    corpus), full/new vector frames, batch bucket rows at the BASE plane
    count, and the capped within-batch candidate side."""
    return f"""{_knn_oracle_ctes(
        where=f"WHERE vec_id % {KNN_BATCH_MOD} <> {KNN_BATCH_RES}"
    )},
    allv AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    newv AS (
      SELECT vec_id, e FROM allv
      WHERE vec_id % {KNN_BATCH_MOD} = {KNN_BATCH_RES}
    ),
    newlshb AS MATERIALIZED (
{_knn_buckets_cte(src="newv")}
    ),
    newlshc AS MATERIALIZED (
      SELECT vec_id, tbl, bucket FROM (
        SELECT vec_id, tbl, bucket,
               ROW_NUMBER() OVER (
                 PARTITION BY tbl, bucket
                 ORDER BY (vec_id * {KNN_CAP_MIX}) % {KNN_CAP_MOD}, vec_id
               ) AS rn
        FROM newlshb
      ) WHERE rn <= {KNN_BUCKET_CAP}
    ),
    undb AS (
      SELECT node AS a, nbr AS b FROM b{KNN_ITERS}
      UNION
      SELECT nbr AS a, node AS b FROM b{KNN_ITERS}
    )"""


def _knn_ingest_chain_ctes() -> str:
    """The ingest computation as CTEs (seed -> l0 -> icand -> l1 ->
    merged), appended after _knn_ingest_head_ctes(); shared by the
    ingest oracle and the round-12 refresh-recall oracle."""
    rk = "ROW_NUMBER() OVER (PARTITION BY node ORDER BY cos6 DESC, nbr)"
    return f"""seed AS (
      SELECT DISTINCT q.vec_id AS node, c.vec_id AS nbr
      FROM newlshb q
      JOIN knnlshc c ON q.tbl = c.tbl AND q.bucket = c.bucket
      UNION
      SELECT DISTINCT q.vec_id AS node, c.vec_id AS nbr
      FROM newlshb q
      JOIN newlshc c ON q.tbl = c.tbl AND q.bucket = c.bucket
      WHERE q.vec_id <> c.vec_id
    ),
    l0 AS MATERIALIZED (
      SELECT node, nbr, cos6 FROM (
        SELECT s.node, s.nbr, s.cos6, {rk.replace('node', 's.node')
            .replace('cos6', 's.cos6').replace('nbr', 's.nbr')} AS rk
        FROM (
          SELECT seed.node, seed.nbr,
                 ROUND(list_cosine_similarity(a.e, c.e), 6) AS cos6
          FROM seed JOIN allv a ON a.vec_id = seed.node
                    JOIN allv c ON c.vec_id = seed.nbr
        ) s
      ) WHERE rk <= {KNN_K}
    ),
    icand AS (
      SELECT l0.node, u.b AS nbr FROM l0 JOIN undb u ON l0.nbr = u.a
      UNION
      SELECT node, nbr FROM l0
    ),
    l1 AS MATERIALIZED (
      SELECT node, nbr, cos6 FROM (
        SELECT s.node, s.nbr, s.cos6, {rk.replace('node', 's.node')
            .replace('cos6', 's.cos6').replace('nbr', 's.nbr')} AS rk
        FROM (
          SELECT icand.node, icand.nbr,
                 ROUND(list_cosine_similarity(a.e, c.e), 6) AS cos6
          FROM icand JOIN allv a ON a.vec_id = icand.node
                     JOIN allv c ON c.vec_id = icand.nbr
        ) s
      ) WHERE rk <= {KNN_K}
    ),
    merged AS (
      SELECT node, nbr, cos6, {rk} AS rk FROM (
        SELECT node, nbr, cos6 FROM b{KNN_ITERS}
        UNION ALL
        SELECT nbr AS node, node AS nbr, cos6 FROM l1
      )
    )"""


def _knn_ingest_oracle() -> str:
    rk = "ROW_NUMBER() OVER (PARTITION BY node ORDER BY cos6 DESC, nbr)"
    return f"""
    WITH {_knn_ingest_head_ctes()},
    {_knn_ingest_chain_ctes()}
    SELECT 'new' AS kind, node, CAST(rk AS BIGINT) AS rk, nbr, cos6 + 0.0
             AS cos6
    FROM (SELECT node, nbr, cos6, {rk} AS rk FROM l1)
    WHERE rk <= {KNN_K}
    UNION ALL
    SELECT 'base', node, CAST(rk AS BIGINT), nbr, cos6 + 0.0
    FROM merged
    WHERE rk <= {KNN_K} AND nbr % {KNN_BATCH_MOD} = {KNN_BATCH_RES}
      AND node % {KNN_BATCH_MOD} <> {KNN_BATCH_RES}
    """


def _knn_ingest_ctx(spark: SparkSession, sf_dir: str) -> dict:
    """Shared ingest state: full vectors, the base graph and the
    full-corpus bucket frame at the BASE index's plane count — both read
    from the 'ingest_base' snapshot variant (round 12: the ingest
    fixture's base index is a second index VERSION over the same corpus,
    built once and scanned by both ingest queries instead of rebuilt per
    query), and the symmetrized base adjacency."""
    allv = _knn_vecs(spark, sf_dir)
    is_batch = F.col("vec_id") % KNN_BATCH_MOD == KNN_BATCH_RES
    d = _knn_index(spark, sf_dir, variant="ingest_base")
    bgraph = spark.read.parquet(os.path.join(d, f"round{KNN_ITERS}"))
    bkts = bounded_persist(
        spark.read.parquet(os.path.join(d, "buckets"))
    )
    undb = (
        bgraph.select(F.col("node").alias("a"), F.col("nbr").alias("b"))
        .union(bgraph.select(F.col("nbr").alias("a"), F.col("node").alias("b")))
        .distinct()
    )
    return {
        "allv": allv,
        "is_batch": is_batch,
        "bgraph": bgraph,
        "bkts": bkts,
        "undb": undb,
    }


def _knn_ingest_lists(
    ctx: dict, batch_leg: bool, node_pred: Column | None = None
) -> DataFrame:
    """Final neighbor lists (node, nbr, cos6) for (optionally filtered)
    batch nodes: seed via buckets (base candidates, plus capped
    WITHIN-BATCH candidates when ``batch_leg``), one refine hop through
    the base graph, keep-best top-K."""
    allv, is_batch, bkts = ctx["allv"], ctx["is_batch"], ctx["bkts"]
    q = bkts.where(is_batch)
    if node_pred is not None:
        q = q.where(node_pred)
    qside = q.select(F.col("vec_id").alias("node"), "tbl", "bucket")
    seed = qside.join(
        _knn_capped_buckets(bkts.where(~is_batch)).select(
            F.col("vec_id").alias("nbr"), "tbl", "bucket"
        ),
        ["tbl", "bucket"],
    )
    if batch_leg:
        # WITHIN-BATCH leg (round 11): arrivals in the same batch can now
        # seed each other — same capped-bucket discipline over the BATCH
        # buckets only, so cost stays batch-proportional (|batch| * tables
        # * cap pairs at worst), and the staleness window the round-10
        # contract documented ("kind='new' rows never carry a batch
        # neighbor") is gone.
        seed = seed.unionAll(
            qside.join(
                _knn_capped_buckets(bkts.where(is_batch)).select(
                    F.col("vec_id").alias("nbr"), "tbl", "bucket"
                ),
                ["tbl", "bucket"],
            ).where(F.col("node") != F.col("nbr"))
        )
    seed = seed.select("node", "nbr").distinct()
    l0 = bounded_persist(_knn_topk(_knn_score(seed, allv)))
    icand = (
        l0.select("node", F.col("nbr").alias("a"))
        .join(ctx["undb"], "a")
        .select("node", F.col("b").alias("nbr"))
        .union(l0.select("node", "nbr"))
        .distinct()
    )
    return bounded_persist(_knn_topk(_knn_score(icand, allv)))


@query("knn_graph_incremental_ingest", oracle=_knn_ingest_oracle())
def knn_graph_incremental_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(kind, node, rk, nbr, cos6): kind='new' = final neighbor lists of
    the ingested batch (which may now include same-batch neighbors via
    the round-11 within-batch seed leg); kind='base' = base-graph
    entries that now point at batch nodes after the back-link re-rank
    (the graph delta)."""
    ctx = _knn_ingest_ctx(spark, sf_dir)
    l1 = _knn_ingest_lists(ctx, batch_leg=True)
    bgraph = ctx["bgraph"]
    w = W.partitionBy("node").orderBy(F.desc("cos6"), "nbr")
    new_rows = l1.select(
        F.lit("new").alias("kind"),
        "node",
        F.row_number().over(w).cast("long").alias("rk"),
        "nbr",
        (F.col("cos6") + F.lit(0.0)).alias("cos6"),
    )
    merged = bgraph.select("node", "nbr", "cos6").unionAll(
        l1.select(
            F.col("nbr").alias("node"), F.col("node").alias("nbr"), "cos6"
        )
    )
    base_rows = (
        _node_topk(merged)
        .where(
            (F.col("nbr") % KNN_BATCH_MOD == KNN_BATCH_RES)
            # reversed within-batch edges put BATCH nodes into `merged`;
            # the 'base' kind reports base-list deltas only (batch lists
            # are already the 'new' rows)
            & (F.col("node") % KNN_BATCH_MOD != KNN_BATCH_RES)
        )
        .select(
            F.lit("base").alias("kind"),
            "node",
            F.col("rk").cast("long").alias("rk"),
            "nbr",
            (F.col("cos6") + F.lit(0.0)).alias("cos6"),
        )
    )
    return new_rows.unionAll(base_rows)


# Eval slice for the ingest-recall exhibit: the first KNN_EVAL_N batch
# nodes (vec_id < KNN_EVAL_N * KNN_BATCH_MOD hits exactly KNN_EVAL_N ids
# with vec_id % MOD == RES on contiguous ids).
KNN_INGEST_EVAL_MAX = KNN_EVAL_N * KNN_BATCH_MOD


def _knn_ingest_variant_ctes(tag: str, batch_leg: bool) -> str:
    """seed/l0/icand/l1 chain for one recall variant, eval-restricted."""
    rk = "ROW_NUMBER() OVER (PARTITION BY node ORDER BY cos6 DESC, nbr)"
    batch = (
        f"""
      UNION
      SELECT DISTINCT q.vec_id AS node, c.vec_id AS nbr
      FROM newlshb q
      JOIN newlshc c ON q.tbl = c.tbl AND q.bucket = c.bucket
      WHERE q.vec_id <> c.vec_id AND q.vec_id < {KNN_INGEST_EVAL_MAX}"""
        if batch_leg
        else ""
    )
    return f""",
    seed_{tag} AS (
      SELECT DISTINCT q.vec_id AS node, c.vec_id AS nbr
      FROM newlshb q
      JOIN knnlshc c ON q.tbl = c.tbl AND q.bucket = c.bucket
      WHERE q.vec_id < {KNN_INGEST_EVAL_MAX}{batch}
    ),
    l0_{tag} AS MATERIALIZED (
      SELECT node, nbr, cos6 FROM (
        SELECT s.node, s.nbr, s.cos6, {rk.replace('node', 's.node')
            .replace('cos6', 's.cos6').replace('nbr', 's.nbr')} AS rk
        FROM (
          SELECT sd.node, sd.nbr,
                 ROUND(list_cosine_similarity(a.e, c.e), 6) AS cos6
          FROM seed_{tag} sd JOIN allv a ON a.vec_id = sd.node
                             JOIN allv c ON c.vec_id = sd.nbr
        ) s
      ) WHERE rk <= {KNN_K}
    ),
    icand_{tag} AS (
      SELECT l0_{tag}.node, u.b AS nbr
      FROM l0_{tag} JOIN undb u ON l0_{tag}.nbr = u.a
      UNION
      SELECT node, nbr FROM l0_{tag}
    ),
    l1_{tag} AS MATERIALIZED (
      SELECT node, nbr, cos6 FROM (
        SELECT s.node, s.nbr, s.cos6, {rk.replace('node', 's.node')
            .replace('cos6', 's.cos6').replace('nbr', 's.nbr')} AS rk
        FROM (
          SELECT ic.node, ic.nbr,
                 ROUND(list_cosine_similarity(a.e, c.e), 6) AS cos6
          FROM icand_{tag} ic JOIN allv a ON a.vec_id = ic.node
                              JOIN allv c ON c.vec_id = ic.nbr
        ) s
      ) WHERE rk <= {KNN_K}
    )"""


def _knn_ingest_recall_oracle() -> str:
    legs = []
    for tag, name in (("bo", "base_only"), ("wb", "with_batch_leg")):
        legs.append(
            f"""SELECT '{name}' AS variant,
           CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(SUM(hit) AS BIGINT) AS n_hit,
           ROUND(SUM(hit) * 1.0 / COUNT(*), 4) AS recall,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM l1_{tag}
            WHERE nbr % {KNN_BATCH_MOD} = {KNN_BATCH_RES})
             AS n_batch_nbrs
    FROM (
      SELECT CASE WHEN a.nbr IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM ietruth t
      LEFT JOIN l1_{tag} a ON t.node = a.node AND t.nbr = a.nbr
    )"""
        )
    return f"""
    WITH {_knn_ingest_head_ctes()}{_knn_ingest_variant_ctes("bo", False)}{
        _knn_ingest_variant_ctes("wb", True)},
    ietruth AS (
      SELECT node, nbr FROM (
        SELECT q.vec_id AS node, c.vec_id AS nbr,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY ROUND(list_cosine_similarity(q.e, c.e), 6) DESC,
                          c.vec_id) AS rk
        FROM allv q JOIN allv c ON c.vec_id <> q.vec_id
        WHERE q.vec_id % {KNN_BATCH_MOD} = {KNN_BATCH_RES}
          AND q.vec_id < {KNN_INGEST_EVAL_MAX}
      ) WHERE rk <= {KNN_K}
    )
    {" UNION ALL ".join(legs)}
    """


@query("knn_graph_incremental_recall", oracle=_knn_ingest_recall_oracle())
def knn_graph_incremental_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(variant, n_true, n_hit, recall, n_batch_nbrs): recall@KNN_K of
    the ingested lists vs brute truth over the FULL corpus, for the
    first KNN_EVAL_N batch nodes, with and without the within-batch seed
    leg — the round-10 staleness window ('two same-batch arrivals meet
    only at the next rebuild') priced as a value-checked recall delta.
    n_batch_nbrs counts same-batch neighbors in the final lists (0 for
    base_only by construction: truth pairs whose neighbor is a batch
    node are unreachable there)."""
    ctx = _knn_ingest_ctx(spark, sf_dir)
    pred = F.col("vec_id") < KNN_INGEST_EVAL_MAX
    truth = bounded_persist(
        _knn_truth(
            spark, sf_dir, qpred=ctx["is_batch"] & pred
        )
    )
    legs = []
    for variant, bl in (("base_only", False), ("with_batch_leg", True)):
        l1 = _knn_ingest_lists(ctx, batch_leg=bl, node_pred=pred)
        nb = l1.where(
            F.col("nbr") % KNN_BATCH_MOD == KNN_BATCH_RES
        ).agg(F.count("*").cast("long").alias("n_batch_nbrs"))
        legs.append(
            _truth_recall_agg(
                truth, l1, lead=(F.lit(variant).alias("variant"),)
            ).crossJoin(F.broadcast(nb))
        )
    return legs[0].unionAll(legs[1])


# --------------------------------------------------------------------------
# Incremental REFRESH vs full rebuild (round 12) — the index-lifecycle
# capstone: after an ingest, the serving tier has a MERGED index (base
# lists re-ranked with back-link edges + the arrivals' lists). The
# production question is whether that incrementally-refreshed index is
# good enough to publish as the next snapshot version, or whether the
# cadence must pay a full rebuild. This query commits the answer: eval
# recall of the merged index vs the from-scratch full-corpus build vs
# the same brute truth, side by side. The full-rebuild leg reads the
# 'full' snapshot; the refresh leg composes the ingest machinery over
# the 'ingest_base' snapshot — so the exhibit also exercises both index
# versions in one plan.
#
# Oracle note: the full-corpus build chain and the base-corpus chain
# share CTE names (_knn_oracle_ctes is name-fixed) and DuckDB rejects
# shadowing a sibling CTE name from a nested scope in this position, so
# the rebuild leg splices a NAMESPACED copy of the chain (every CTE
# name \b-renamed with an 'fr' prefix) at the top level instead.
# --------------------------------------------------------------------------
def _knn_oracle_ctes_ns(
    prefix: str,
    where: str = "",
    shard_mod: int | None = None,
    shard_map: str | None = None,
) -> str:
    """_knn_oracle_ctes with every CTE name prefixed — lets one oracle
    carry the build chain over two different corpus filters (or shard
    configs) without name collisions. A ``shard_map`` CTE name is passed
    through UNprefixed (it is defined by the caller, outside the
    chain)."""
    import re

    sql = _knn_oracle_ctes(where=where, shard_mod=shard_mod, shard_map=shard_map)
    names = (
        ["knnlshbs", "knnlshb", "knnlshc", "knninit", "knnv", "knnn", "knnp"]
        + [f"b{i}" for i in range(KNN_ITERS + 1)]
        + [f"u{i}" for i in range(1, KNN_ITERS + 1)]
        + [f"cand{i}" for i in range(1, KNN_ITERS + 1)]
    )
    for name in names:
        sql = re.sub(rf"\b{name}\b", f"{prefix}{name}", sql)
    return sql


def _knn_refresh_oracle() -> str:
    rk = "ROW_NUMBER() OVER (PARTITION BY node ORDER BY cos6 DESC, nbr)"
    legs = []
    for kind, approx in (
        ("incremental_refresh", "refreshed"),
        ("full_rebuild", "fullb"),
    ):
        legs.append(
            f"""SELECT '{kind}' AS variant,
           CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(SUM(hit) AS BIGINT) AS n_hit,
           ROUND(SUM(hit) * 1.0 / COUNT(*), 4) AS recall
    FROM (
      SELECT CASE WHEN a.nbr IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM rtruth t
      LEFT JOIN {approx} a ON t.node = a.node AND t.nbr = a.nbr
    )"""
        )
    return f"""
    WITH {_knn_ingest_head_ctes()},
    {_knn_ingest_chain_ctes()},
    refreshed AS (
      SELECT node, nbr FROM (
        SELECT node, nbr, cos6, {rk} AS rk FROM l1
      ) WHERE rk <= {KNN_K} AND node < {KNN_EVAL_N}
      UNION ALL
      SELECT node, nbr FROM merged
      WHERE rk <= {KNN_K} AND node < {KNN_EVAL_N}
        AND node % {KNN_BATCH_MOD} <> {KNN_BATCH_RES}
    ),
    {_knn_oracle_ctes_ns("fr").lstrip().lstrip(",")},
    fullb AS MATERIALIZED (
      SELECT node, nbr FROM frb{KNN_ITERS}
      WHERE node < {KNN_EVAL_N}
    ),
    rtruth AS (
      SELECT node, nbr FROM (
        SELECT q.vec_id AS node, c.vec_id AS nbr,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY ROUND(list_cosine_similarity(q.e, c.e), 6) DESC,
                          c.vec_id) AS rk
        FROM allv q JOIN allv c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {KNN_EVAL_N}
      ) WHERE rk <= {KNN_K}
    )
    {" UNION ALL ".join(legs)}
    """


@query("knn_index_refresh_recall", oracle=_knn_refresh_oracle())
def knn_index_refresh_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(variant, n_true, n_hit, recall): eval-node recall@KNN_K of the
    post-ingest MERGED index (base lists re-ranked with back-link edges;
    batch nodes serve their ingested lists) vs the from-scratch full
    rebuild, both against brute truth over the full corpus — the number
    that decides whether an ingest cadence can publish the refreshed
    snapshot or must pay a rebuild."""
    ctx = _knn_ingest_ctx(spark, sf_dir)
    l1 = _knn_ingest_lists(ctx, batch_leg=True)
    merged = ctx["bgraph"].select("node", "nbr", "cos6").unionAll(
        l1.select(
            F.col("nbr").alias("node"), F.col("node").alias("nbr"), "cos6"
        )
    )
    refreshed = (
        l1.where(F.col("node") < KNN_EVAL_N)
        .select("node", "nbr")
        .unionAll(
            _node_topk(merged)
            .where(
                (F.col("node") < KNN_EVAL_N)
                & (F.col("node") % KNN_BATCH_MOD != KNN_BATCH_RES)
            )
            .select("node", "nbr")
        )
    )
    rebuilt = (
        _knn_graph_snap(spark, sf_dir)
        .where(F.col("node") < KNN_EVAL_N)
        .select("node", "nbr")
    )
    truth = bounded_persist(_knn_truth(spark, sf_dir))
    legs = []
    for variant, approx in (
        ("incremental_refresh", refreshed),
        ("full_rebuild", rebuilt),
    ):
        legs.append(
            _truth_recall_agg(
                truth, approx, lead=(F.lit(variant).alias("variant"),)
            )
        )
    return legs[0].unionAll(legs[1])


# --------------------------------------------------------------------------
# Johnson-Lindenstrauss random-projection distortion report (round 10,
# session 3) — the DATA-INDEPENDENT member of the embedding-compression
# family: SQ-int8 / PQ / IVF-PQ above are trained on the corpus; a +/-1
# random projection (Achlioptas 2001, "Database-friendly random
# projections") needs no training pass at all, and the JL lemma prices
# it: pairwise squared distances are preserved within 1 +/- eps with
# eps ~ sqrt(2/k) per pair. This query COMMITS that price as measured
# numbers — per target dimension k in JL_DIMS, the distribution of
# ratio = ||P(a) - P(b)||^2 / (k * ||a - b||^2) over a fixed pair sample
# (E[ratio] = 1 for +/-1 entries) — the table a user reads to pick k
# before swapping a 64-dim scan for a 16-dim one.
#
# Determinism: sign matrix s(i, j) = md5-derived parity of "jl:i:j",
# BAKED AS LITERALS into both plans (the signs never need to be
# SQL-computable — only identical). The module's linear-congruential
# plane arithmetic was tried first and REJECTED by this query's own
# numbers: (a*i + b*j) mod 2048 signs form a lattice with correlated
# columns, and the measured distortion showed it (max_ratio ~6 at k=32,
# within-20% ~0.20 where an iid matrix concentrates at ~0.6) — a
# correlation the LSH buckets tolerate but a JL matrix cannot.
# Projections are computed ONCE at k_max; the
# smaller k are PREFIXES of the same projection (nested dims), so the
# whole exhibit is one long-form aggregate, not |JL_DIMS| passes.
#
# Scale shape: projecting a corpus is a narrow per-row map (k_max dot
# products against broadcast-literal sign rows); the checked values only
# need the bounded pair sample (vec_id < JL_PAIR_N both sides), so the
# pair frame is JL_PAIR_N^2/2 rows at any corpus size.
# --------------------------------------------------------------------------
JL_DIMS = (8, 16, 32)   # nested target dims (prefixes of one projection)
JL_PAIR_N = 40          # pair sample: all pairs among vec_id < 40 (780)



def _jl_sign(i: int, j: int) -> int:
    """+/-1 from md5("jl:i:j") parity — iid-quality, baked as literals."""
    import hashlib

    h = hashlib.md5(f"jl:{i}:{j}".encode()).digest()
    return 1 if h[0] % 2 else -1


def _jl_sign_sql() -> str:
    """(pos, j, s) literal rows for DuckDB."""
    rows = []
    for j in range(max(JL_DIMS)):
        for i in range(EMB_DIM):
            rows.append(f"({i}, {j}, {_jl_sign(i, j)})")
    return "SELECT * FROM (VALUES " + ", ".join(rows) + ") AS t(pos, j, s)"


@query(
    "jl_projection_distortion",
    oracle=f"""
    WITH jlv AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings WHERE vec_id < {JL_PAIR_N}
    ),
    sgn AS ({_jl_sign_sql()}),
    proj AS (
      SELECT jlv.vec_id, sgn.j, ROUND(SUM(jlv.val * sgn.s), 6) AS pval
      FROM jlv JOIN sgn USING (pos) GROUP BY jlv.vec_id, sgn.j
    ),
    od AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             ROUND(SUM((a.val - b.val) ^ 2), 6) AS d2
      FROM jlv a JOIN jlv b ON a.pos = b.pos AND a.vec_id < b.vec_id
      GROUP BY a.vec_id, b.vec_id
    ),
    pd AS (
      SELECT a.vec_id AS va, b.vec_id AS vb, a.j,
             (a.pval - b.pval) ^ 2 AS dd
      FROM proj a JOIN proj b ON a.j = b.j AND a.vec_id < b.vec_id
    ),
    ratios AS (
      {" UNION ALL ".join(
          f'''SELECT CAST({k} AS BIGINT) AS k_dim, pd.va, pd.vb,
                     ROUND(SUM(pd.dd) / ({k} * MIN(od.d2)), 6) AS ratio
              FROM pd JOIN od ON od.va = pd.va AND od.vb = pd.vb
              WHERE pd.j < {k} AND od.d2 > 0
              GROUP BY pd.va, pd.vb'''
          for k in JL_DIMS
      )}
    )
    SELECT k_dim,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(AVG(ratio), 4) AS mean_ratio,
           ROUND(MIN(ratio), 4) AS min_ratio,
           ROUND(MAX(ratio), 4) AS max_ratio,
           ROUND(SUM(CASE WHEN ABS(ratio - 1.0) <= 0.2 THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 4) AS frac_within_20pct
    FROM ratios GROUP BY k_dim
    """,
)
def jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(k_dim, n_pairs, mean_ratio, min_ratio, max_ratio,
    frac_within_20pct): measured JL distortion of a +/-1 projection at
    each nested target dimension over the fixed pair sample."""
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < JL_PAIR_N
    )
    k_max = max(JL_DIMS)
    e = as_double(F.col("embedding"))
    # one narrow map: k_max sign-dot-products per row, signs as literals
    # pval rounds to 6 dp on BOTH engines before differencing: the two
    # engines fold the 64-term sign-dot in different orders (array fold
    # vs group SUM), and an unrounded last-ulp difference would ride
    # into the 6 dp ratio.
    projs = [
        F.round(
            dot(e, F.array(*[F.lit(float(_jl_sign(i, j))) for i in range(EMB_DIM)])),
            6,
        ).alias(f"p{j}")
        for j in range(k_max)
    ]
    v = bounded_persist(
        emb.select("vec_id", e.alias("e"), F.array(*projs).alias("p"))
    )
    a = v.select(
        F.col("vec_id").alias("va"), F.col("e").alias("ea"),
        F.col("p").alias("pa"),
    )
    b = v.select(
        F.col("vec_id").alias("vb"), F.col("e").alias("eb"),
        F.col("p").alias("pb"),
    )
    pairs = (
        a.join(F.broadcast(b), F.col("va") < F.col("vb"))
        .select(
            "va",
            "vb",
            F.round(sqdist(F.col("ea"), F.col("eb")), 6).alias("d2"),
            F.zip_with(
                F.col("pa"), F.col("pb"), lambda x, y: (x - y) * (x - y)
            ).alias("dd"),
        )
        .where(F.col("d2") > 0)
    )
    legs = []
    for k in JL_DIMS:
        legs.append(
            pairs.select(
                F.lit(k).cast("long").alias("k_dim"),
                F.round(
                    F.aggregate(
                        F.slice(F.col("dd"), 1, k),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    / (F.lit(float(k)) * F.col("d2")),
                    6,
                ).alias("ratio"),
            )
        )
    allk = legs[0]
    for leg in legs[1:]:
        allk = allk.union(leg)
    within = F.when(F.abs(F.col("ratio") - 1.0) <= 0.2, 1).otherwise(0)
    return allk.groupBy("k_dim").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.round(F.avg("ratio"), 4).alias("mean_ratio"),
        F.round(F.min("ratio"), 4).alias("min_ratio"),
        F.round(F.max("ratio"), 4).alias("max_ratio"),
        F.round(F.sum(within) * 1.0 / F.count("*"), 4).alias(
            "frac_within_20pct"
        ),
    )


# --------------------------------------------------------------------------
# Multi-probe LSH (round 10, session 3; Lv et al. VLDB'07) — the QUERY-SIDE
# recall lever the module's LSH family lacked: ann_lsh_topk buys recall
# with MORE TABLES (4x index storage, 4x build cost); multi-probe keeps
# ONE table and has each query additionally probe the buckets whose sign
# pattern differs by one hyperplane (the most likely homes of near
# neighbors that fell on the other side of one plane). Same candidate
# budget per query (~(1 + n_planes) * N / 2^n_planes vs n_tables * N /
# 2^n_planes), ~1/4 the index state — the trade a 100 TB serving tier
# actually wants, since index storage is corpus-sized and probes are
# query-sized. Probe set = bucket XOR {0, 8, 4, 2, 1} (the 4-bit flips),
# exactly replayed by DuckDB's xor().
# --------------------------------------------------------------------------
MP_PROBE_MASKS = [0] + [2 ** (N_PLANES - 1 - p) for p in range(N_PLANES)]


def _mp_topk_oracle(src: str = "embeddings") -> str:
    masks = ", ".join(str(m) for m in MP_PROBE_MASKS)
    return f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM {src}
    ),
    b AS (
      SELECT vec_id, e, {_bucket_sql(0, N_PLANES)} AS bucket FROM v
    ),
    qp AS (
      SELECT b.vec_id AS q_id, xor(b.bucket, m.m) AS bucket
      FROM b CROSS JOIN (SELECT unnest([{masks}]) AS m) m
      WHERE b.vec_id < {N_QUERY_VECS}
    ),
    cand AS (
      SELECT DISTINCT qp.q_id, c.vec_id AS c_id
      FROM qp JOIN b c USING (bucket)
      WHERE qp.q_id <> c.vec_id
    ),
    s AS (
      SELECT cand.q_id, cand.c_id,
             ROUND(list_cosine_similarity(a.e, c.e), 6) AS sim6
      FROM cand
      JOIN v a ON a.vec_id = cand.q_id
      JOIN v c ON c.vec_id = cand.c_id
    )
    SELECT q_id, c_id, sim6 + 0.0 AS cosine
    FROM (SELECT q_id, c_id, sim6,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY sim6 DESC, c_id) AS rk
          FROM s)
    WHERE rk <= {TOP_K}
    """


def _mp_topk_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    n_parts = partition_count(spark)
    vecs = emb.repartition(n_parts).select(
        "vec_id",
        as_double("embedding").alias("v"),
        l2_norm(as_double("embedding")).alias("nrm"),
    )
    # ONE table's bucket (index state is corpus x 1, not corpus x 4)
    b = vecs.select(
        "vec_id",
        "v",
        "nrm",
        lsh_table_buckets(F.col("v"), EMB_DIM)[0]["bucket"].alias("bucket"),
    )
    probes = F.array(*[F.lit(m) for m in MP_PROBE_MASKS])
    q = (
        b.filter(F.col("vec_id") < N_QUERY_VECS)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
            F.explode(probes).alias("m"),
            "bucket",
        )
        .select(
            "q_id", "qv", "qn",
            F.col("bucket").bitwiseXOR(F.col("m")).alias("bucket"),
        )
    )
    cand = (
        b.join(F.broadcast(q), "bucket")
        .filter(F.col("q_id") != F.col("vec_id"))
        .select("q_id", "qv", "qn", F.col("vec_id").alias("c_id"), "v", "nrm")
        .dropDuplicates(["q_id", "c_id"])  # probe union, score once
    )
    sims = cand.select(
        "q_id", "c_id", cosine6("qv", "v", "qn", "nrm").alias("sim6")
    )
    return _cosine_topk(sims)


@query("ann_multiprobe_lsh_topk", oracle=_mp_topk_oracle())
def ann_multiprobe_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per query from ONE hyperplane table probed at the base
    bucket plus every 1-bit flip — the storage-lean recall lever."""
    return _mp_topk_frame(spark, sf_dir)


@query(
    "ann_multiprobe_recall_at_k",
    oracle=_recall_oracle(
        _cosine_topk_oracle(), _mp_topk_oracle()
    ),
)
def ann_multiprobe_recall_at_k(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall@k of multi-probe (1 table, 5 probes) against brute-force
    cosine — read beside ann_recall_at_k (4 tables, 1 probe each) to see
    the storage/recall trade at a matched candidate budget."""
    exact = cosine_topk(spark, sf_dir).select("q_id", "c_id")
    approx = _mp_topk_frame(spark, sf_dir).select("q_id", "c_id")
    return _recall_frame(exact, approx)


# --------------------------------------------------------------------------
# Graph-based ANN SEARCH (round 11) — the build->serve leg the kNN-graph
# family lacked: round 10 constructs the NN-Descent graph, this section
# USES it as a query-time index (the HNSW/NSG serving pattern — Malkov &
# Yashunin 2018's greedy layer, flattened to the single-layer
# bounded-beam form that expresses as joins). The reference's keyed point
# lookup (main.c:56-61) generalized to the vector grain, served by graph
# traversal instead of a hash bucket.
#
# Per query (the KNN_EVAL_N eval nodes, matching the family's truth
# convention): ENTER at the query's LSH bucket members (the same seed
# index the graph build used — entry reuses index state, no new
# structure), then GS_ROUNDS times expand the current top-GS_BEAM beam by
# one hop through the symmetrized graph, score the new candidates, and
# keep-best over everything visited. Final answer = top-KNN_K of the
# visited set. The query's OWN adjacency list is never read directly —
# entry is bucket-only, so the exhibit is an honest search, not an
# adjacency lookup; traversal is what reaches the query's neighborhood.
#
# Everything is a bounded join: entry <= tables * bucket-cap rows/query,
# each hop <= GS_BEAM * max-undirected-degree rows/query. Undirected
# degree is K out-edges PLUS the node's in-degree — K + 2K in
# expectation, but hub-skewed in the in-degree tail (exactly what
# knn_graph_hubness_report measures), so the per-hop bound is
# data-dependent, not the structural 2K a first draft claimed. The
# frontier stays Q * GS_BEAM * max-degree per round and total scored
# candidates per query stay within a small multiple of the 4-table LSH
# leg's budget on any corpus whose hubness is sane. At 100 TB the graph and buckets are
# corpus-scale distributed state; the per-round work is query-batch x
# bounded fan-out — the serving shape a production tier wants (batch the
# query stream, one wave of joins per hop).
#
# Determinism: scores at the family's 6dp ranking precision, ties break
# on candidate id; every beam cut is a ROW_NUMBER both engines replay;
# visited-set dedup is exact set semantics (a pair's score is a pure
# function of the pair, so score-once vs rescore cannot diverge).
# --------------------------------------------------------------------------
GS_BEAM = 24    # beam width (candidates expanded per hop). Measured at
                # sf0.1 (N=2000, the hardest SF): beam is the recall
                # lever, rounds barely move it — (rounds, beam) ->
                # recall@12: (2,12) 0.525 / (4,12) 0.600 / (2,24) 0.715 /
                # (3,24) 0.777. A narrow keep-best beam re-expands the
                # same cluster; width buys the diversity extra hops
                # can't (the HNSW ef>k lesson).
GS_ROUNDS = 3   # graph hops after the LSH entry
# Serving-plan sizing (round 13 optimization; guide §2 "scale-adaptive
# partitioning", §3.1 "pick the join strategy deliberately"). Two facts
# the optimizer cannot know: (a) the traversal's visited/frontier frames
# are bounded by Q x per-query budget — corpus-INDEPENDENT — so spreading
# them over defaultParallelism partitions at a 50-query eval batch pays
# ~300 scheduled tasks per hop job to move ~32k thin rows (measured
# 8.8->5.7s for the full serve at sf0.1 from partition sizing alone);
# (b) whether the corpus-scale sides (vecs, the undirected adjacency)
# fit a broadcast is a property of the CORPUS, not the query — below the
# gate the hop joins go broadcast-hash (zero exchanges per score call,
# measured 8.8->5.6s alone); above it the shuffled-hash plan that
# survived the 30x probe is kept verbatim. Both decisions are derived
# from the data (batch size, corpus bytes); the constants below only set
# the gates.
GS_BCAST_MAX_BYTES = 64 << 20
GS_PARTS_ROWS = 10_000  # target visited rows per serving partition
# Round-14 (verdict items): the QUERY-side broadcasts are gated on the
# actual batch size, not assumed small. GS_QBCAST_MAX bounds the entry
# query-bucket broadcast (rows ~ Q x tables — ~10-20 MB framed at the
# default); GS_VIS_BCAST_ROWS bounds broadcasting the visited frame into
# the per-hop anti-join (rows ~ Q x GS_BEAM x 3K thin (node, nbr) pairs).
# A serving batch above either gate falls back to the shuffled plan.
GS_QBCAST_MAX = 100_000
GS_VIS_BCAST_ROWS = 1_000_000


def _gs_vis_bcast(n_queries: int) -> bool:
    """May the per-hop visited anti-join build side broadcast? Estimated
    from the same Q-budget bound _gs_parts uses."""
    return max(1, n_queries) * GS_BEAM * 3 * KNN_K <= GS_VIS_BCAST_ROWS


def _gs_small(sf_dir: str) -> bool:
    """True when the embedding corpus is small enough that the serving
    joins' corpus-scale sides (vecs, undirected adjacency) fit a
    broadcast: parquet bytes under GS_BCAST_MAX_BYTES (~64 MiB default
    covers both sides comfortably inside the executor/driver budget;
    the adjacency is 2*K thin rows per vector, always smaller than the
    vectors themselves)."""
    return table_bytes(sf_dir, "embeddings") <= GS_BCAST_MAX_BYTES


def _gs_parts(spark: SparkSession, n_queries: int) -> int:
    """Partition count for the traversal's query-bounded frames: the
    visited set tops out near Q * GS_BEAM * 3K rows, so size partitions
    to GS_PARTS_ROWS of those thin rows, clamped to [8, parallelism].
    A million-query serving batch scales back up to full parallelism."""
    est = max(1, n_queries) * GS_BEAM * 3 * KNN_K
    return max(
        8,
        min(
            spark.sparkContext.defaultParallelism,
            -(-est // GS_PARTS_ROWS),
        ),
    )
GS_FLOOR = 0.7  # pinned mean recall@KNN_K floor vs brute truth — the
                # verdict's "comparable to the 4-table LSH leg" bar.
                # Measured: 0.777 at sf0.1, ~0.8+ at sf0.01/sf0.001.
                # Budget note: entry + hops cost ~GS_BEAM * 2*KNN_K *
                # GS_ROUNDS + entry ~= 1.6k scored pairs per query
                # INDEPENDENT of corpus size — ~32% of N at the tiny
                # test corpus (vs the 4-table LSH leg's 25%), a
                # vanishing fraction at real scale (0.16% at N=1M),
                # which is the whole point of serving from a graph.


def _gs_und(graph: DataFrame, n_parts: int) -> DataFrame:
    """Persisted undirected adjacency (a, b) over a (node, nbr) edge frame
    — the hop-expansion side every traversal shares."""
    return bounded_persist(
        graph.select(F.col("node").alias("a"), F.col("nbr").alias("b"))
        .union(graph.select(F.col("nbr").alias("a"), F.col("node").alias("b")))
        .repartition(n_parts, "a")
        .dropDuplicates(["a", "b"])
    )


class _GsIndex(NamedTuple):
    """Graph-serving index state, built once per (snapshot, graph) by
    _gs_index and read by every _gs_search over it: the vectors, the
    persisted undirected adjacency, the uncapped bucket frame, the
    serving gates derived from the corpus bytes (``small``) and the
    nominal query batch (``n_queries`` / ``parts``), and the source
    directory the traversal's cuts gate on."""

    vecs: DataFrame
    bkts: DataFrame
    und: DataFrame
    small: bool
    n_queries: int
    parts: int
    sf_dir: str


def _gs_index(
    spark: SparkSession,
    sf_dir: str,
    variant: str = "full",
    vecs: DataFrame | None = None,
    graph: DataFrame | None = None,
    n_queries: int = KNN_EVAL_N,
) -> _GsIndex:
    """Index state over the MATERIALIZED snapshot ``variant`` (round 12:
    serving reads the build's parquet state, it does not rebuild).
    ``graph`` overrides the snapshot's final round (the pruned, compacted
    and eligible-subgraph exhibits serve alternative adjacencies);
    ``n_queries`` is the batch size the query-bounded frames are sized
    for. Round-13 optimization (guide §2/§3.1): the traversal frames are
    query-bounded, so they partition by the Q-derived count, and the hop
    joins pick their strategy from the corpus size — broadcast-hash below
    GS_BCAST_MAX_BYTES, the 30x-probe shuffled-hash plan above it."""
    if vecs is None:
        vecs = _knn_vecs(spark, sf_dir)
    d = _knn_index(spark, sf_dir, variant=variant)
    if graph is None:
        graph = spark.read.parquet(os.path.join(d, f"round{KNN_ITERS}"))
    small = _gs_small(sf_dir)
    parts = _gs_parts(spark, n_queries)
    und = _gs_und(graph, parts if small else partition_count(spark))
    bkts = spark.read.parquet(os.path.join(d, "buckets"))
    return _GsIndex(vecs, bkts, und, small, n_queries, parts, sf_dir)


def _gs_search(
    ix: _GsIndex,
    queries: DataFrame | None = None,
    n_queries: int | None = None,
    on: tuple = ("tbl", "bucket"),
    probe: tuple[DataFrame, Column] | None = None,
    cand_filter: tuple[DataFrame, str] | None = None,
    score=None,
    beam: int = GS_BEAM,
    beam_by: Column | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """(node, nbr, cos6): every (query, candidate) pair the beam search
    over ``ix`` scored after GS_ROUNDS hops — the one graph-serving
    search, and the only place the serving gates pick partition counts
    and broadcasts.

    ``queries`` is the query side: (vec_id, tbl, bucket) bucket rows
    (held-out queries bucketed with the index's planes), or a one-column
    ``vec_id`` frame of corpus ids whose rows are looked up in the index
    (the streaming micro-batch); default the eval nodes. ``n_queries`` is
    the ACTUAL batch size the query-side gates derive from (default: the
    index's nominal batch). Entry joins the query's bucket rows to the
    capped candidates on the ``on`` key expressions (evaluated on both
    sides: the bucket, or a sharded index's base bucket plus shard);
    ``probe`` = (a (node, key) frame, the candidate-side key expression)
    keeps only candidates in the query's probed cells. ``cand_filter`` =
    (a ``vec_id`` frame, "left_semi" | "left_anti") restricts entry
    candidates BEFORE the per-bucket cap (filter-then-cap, the
    within-batch ingest leg's discipline — capping first and filtering
    after starves buckets whose cap survivors happen to be ineligible).
    ``score`` ((pairs, bcast) -> (node, nbr, cos6); default exact cosine
    via _knn_score) swaps the pair scorer (held-out queries, int8);
    ``beam``/``beam_by``/``exclude_self`` go to _gs_traverse.

    Gates: the query-bounded sides (query bucket rows, the id lookup,
    the cell probe) broadcast at n_queries <= GS_QBCAST_MAX; the
    corpus-bounded sides (vectors, adjacency, the candidate filter) only
    below the corpus gate. A batch above either gate falls back to the
    shuffled plan."""
    spark = ix.bkts.sparkSession
    nq = ix.n_queries if n_queries is None else n_queries
    sp = _gs_parts(spark, nq)

    def q_bcast(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if nq <= GS_QBCAST_MAX else df

    cands = ix.bkts
    if cand_filter is not None:
        ids, how = cand_filter
        ids = ids.select("vec_id")
        cands = cands.join(F.broadcast(ids) if ix.small else ids, "vec_id", how)
    cands = _knn_capped_buckets(cands, skip_salt=ix.small)
    if queries is None:
        queries = ix.bkts.where(F.col("vec_id") < KNN_EVAL_N)
    elif "tbl" not in queries.columns:
        queries = ix.bkts.join(
            q_bcast(queries.select("vec_id")), "vec_id", "left_semi"
        )
    q_side = queries.select(F.col("vec_id").alias("node"), *on)
    extra = () if probe is None else (probe[1],)
    # Entry dedup keyed by node only: hash(node) clusters (node, nbr), so
    # the aggregate shares this one exchange AND everything downstream on
    # the broadcast path (scoring, the hop-1 frontier window) inherits the
    # partitioning the traversal wants (see _gs_traverse).
    entry = q_bcast(q_side).join(
        cands.select(F.col("vec_id").alias("nbr"), *on, *extra),
        q_side.columns[1:],
    )
    if probe is not None:
        entry = entry.join(q_bcast(probe[0]), probe[0].columns, "left_semi")
    if exclude_self:
        entry = entry.where(F.col("node") != F.col("nbr"))
    entry = (
        entry.select("node", "nbr")
        .repartition(sp, "node")
        .dropDuplicates(["node", "nbr"])
    )
    if score is None:
        def score(p, bcast):
            return _knn_score(p, ix.vecs, bcast=bcast)
    return _gs_traverse(
        score(entry, ix.small),
        ix.und,
        lambda p: score(p, ix.small),
        beam,
        ix.sf_dir,
        exclude_self=exclude_self,
        beam_by=beam_by,
        parts=sp,
        bcast_und=ix.small,
        bcast_visited=ix.small and _gs_vis_bcast(nq),
    )


def _gs_visited(
    spark: SparkSession,
    sf_dir: str,
    beam: int = GS_BEAM,
    vecs: DataFrame | None = None,
    graph: DataFrame | None = None,
    cand_filter: tuple[DataFrame, str] | None = None,
) -> DataFrame:
    """The plain serving shape: eval-node queries over the full snapshot
    (or an alternative ``graph``), the frame every cut of the committed
    serving config reads."""
    ix = _gs_index(spark, sf_dir, vecs=vecs, graph=graph)
    return _gs_search(ix, cand_filter=cand_filter, beam=beam)


def _gs_traverse(
    entry_scored: DataFrame,
    und: DataFrame,
    score,
    beam: int,
    sf_dir: str,
    exclude_self: bool = True,
    beam_by: Column | None = None,
    parts: int | None = None,
    bcast_und: bool = False,
    bcast_visited: bool = False,
) -> DataFrame:
    """The shared beam loop every traversal exhibit runs: keep-best
    top-``beam`` frontier, one-hop expand through ``und``, score only
    NEW pairs (the anti-join; the oracle instead rescores and
    set-UNIONs — equivalent because cos6 is a pure function of the
    pair), checkpoint per hop (round t references round t-1 three times
    — the _knn_rounds 5^t lineage lesson at 3^t; the visited frame is
    query-bounded, so the write is tiny). ``exclude_self`` drops
    b == node expansions; OOV queries keep them because their id space
    is disjoint from the corpus's and a numeric collision is not a
    self-pair. ``beam_by`` adds a partition column to the FRONTIER
    window — the sharded-serving shape, where each shard runs its own
    top-``beam`` frontier per query (partition (node, shard-of-nbr))
    and the cross-shard merge happens only at the final cut.

    ``parts`` sizes the exchanges of the query-bounded frames (default:
    full parallelism — callers that know their query count pass
    _gs_parts); ``bcast_und`` broadcasts the adjacency into the hop
    join (small-corpus serving; guide §3.1). Round-13 optimization: the
    entry and per-hop materializations are eager ``sources.cut`` calls
    gated on the bytes of the embeddings table in ``sf_dir``. Below the
    gate the cut is a localCheckpoint: it truncates the 3^t lineage
    exactly like a reliable checkpoint, without writing and re-reading
    parquet per hop, and a serving request is re-runnable, so the
    intermediate needs no fault tolerance (the build keeps its durable
    checkpoints). Above the gate it is the durable cut.

    Round-14 optimization (guide §2.4 "remove shuffles outright"): on the
    broadcast path the hop now pays ONE exchange (the frontier window's
    repartition) instead of three. The expansion keeps the frontier's
    hash(node) partitioning through the broadcast adjacency join, and
    hash(node) clusters (node, nbr), so the expansion dedup aggregates in
    place — no second exchange. ``bcast_visited`` (gated on the
    query-batch bound, _gs_vis_bcast) broadcasts the visited keys into
    the anti-join — the build side is Q-bounded — removing the third;
    above the gate the shuffled anti-join keeps the explicit (node, nbr)
    repartition it needs for co-partitioning. (A bare window over the
    checkpointed union was measured and rejected: localCheckpoint yields
    UnknownPartitioning in Spark 4.1, so EnsureRequirements would insert
    an uncontrolled exchange at session shuffle partitions — the
    AQE-funnel hazard _knn_topk's explicit repartition exists to avoid.)"""
    spark = entry_scored.sparkSession
    n_parts = parts or partition_count(spark)
    visited = cut(entry_scored, sf_dir, "embeddings", eager=True)
    for _ in range(GS_ROUNDS):
        if beam_by is None:
            front = _knn_topk(visited, k=beam, parts=n_parts)
        else:
            front = top_k(
                visited.repartition(n_parts, "node"),
                [F.col("node"), beam_by],
                [F.desc("cos6"), "nbr"],
                beam,
            ).select("node", "nbr", "cos6")
        expand = front.select("node", F.col("nbr").alias("a")).join(
            F.broadcast(und) if bcast_und else und, "a"
        )
        if exclude_self:
            expand = expand.where(F.col("b") != F.col("node"))
        expand = expand.select("node", F.col("b").alias("nbr"))
        if not (bcast_und and bcast_visited):
            expand = expand.repartition(n_parts, "node", "nbr")
        expand = expand.dropDuplicates(["node", "nbr"])
        vis_keys = visited.select("node", "nbr")
        expand = expand.join(
            F.broadcast(vis_keys) if bcast_visited else vis_keys,
            ["node", "nbr"],
            "left_anti",
        )
        visited = visited.unionAll(score(expand))
        visited = cut(visited, sf_dir, "embeddings", eager=True)
    return visited


_GS_COS_SQL = "ROUND(list_cosine_similarity(a.e, c.e), 6)"


def _gs_oracle_ctes(
    beam: int = None,
    tag: str = "gs",
    edges: str = None,
    cand: str = "knnlshc",
    und: str = None,
    vtab: str = "knnv",
    score: str = _GS_COS_SQL,
    beam_part: str = "node",
    entry_where: str = "",
) -> str:
    """Appended after _knn_oracle_ctes(): unrolled entry + GS_ROUNDS beam
    hops. {tag}v{t} is the visited set after hop t (set-UNION dedup).
    ``edges`` overrides the adjacency source (default: the final
    NN-Descent round b{KNN_ITERS}); ``tag`` namespaces the CTEs so one
    oracle can carry several traversals; ``cand`` overrides the capped
    entry-candidate bucket CTE (a restricted variant must filter BEFORE
    its cap — the engine's filter-then-cap discipline). ``und`` names an
    ALREADY-EMITTED undirected-adjacency CTE to reference instead of
    materializing a per-tag copy (round-11 advice: a multi-traversal
    oracle over one edge source was materializing identical undirected
    adjacency once per tag — hoist one shared CTE via _gs_und_cte and
    pass its name). ``vtab``/``score`` parameterize the vector relation
    and the pair-score expression (over aliases a = node side, c =
    candidate side) — the quantized-serving leg scores with the int8
    dot, everything else with exact cosine. ``beam_part`` extends the
    frontier window's partition (sharded serving: 'node, nbr % S' = a
    per-shard beam per query). ``entry_where`` appends an extra entry
    predicate over aliases q (query bucket row) / c (candidate row) —
    the ROUTED-serving shape, where a query enters only its own home
    shard's bucket members."""
    if beam is None:
        beam = GS_BEAM
    if edges is None:
        edges = f"b{KNN_ITERS}"
    ctes = ""
    if und is None:
        und = f"{tag}und"
        ctes += f""",
    {und} AS MATERIALIZED (
{_gs_und_sql(edges)}
    )"""
    ctes += f""",
    {tag}e0 AS (
      SELECT DISTINCT q.vec_id AS node, c.vec_id AS nbr
      FROM knnlshb q
      JOIN {cand} c ON q.tbl = c.tbl AND q.bucket = c.bucket
      WHERE q.vec_id < {KNN_EVAL_N} AND c.vec_id <> q.vec_id{entry_where}
    ),
    {tag}v0 AS MATERIALIZED (
      SELECT {tag}e0.node, {tag}e0.nbr,
             {score} AS cos6
      FROM {tag}e0 JOIN {vtab} a ON a.vec_id = {tag}e0.node
                JOIN {vtab} c ON c.vec_id = {tag}e0.nbr
    )"""
    for t in range(1, GS_ROUNDS + 1):
        p = t - 1
        ctes += f""",
    {tag}beam{t} AS (
      SELECT node, nbr FROM (
        SELECT node, nbr,
               ROW_NUMBER() OVER (PARTITION BY {beam_part}
                                  ORDER BY cos6 DESC, nbr) AS rk
        FROM {tag}v{p}
      ) WHERE rk <= {beam}
    ),
    {tag}cand{t} AS (
      SELECT DISTINCT gb.node, u.b AS nbr
      FROM {tag}beam{t} gb JOIN {und} u ON gb.nbr = u.a
      WHERE u.b <> gb.node
    ),
    {tag}v{t} AS MATERIALIZED (
      SELECT node, nbr, cos6 FROM {tag}v{p}
      UNION
      SELECT {tag}cand{t}.node, {tag}cand{t}.nbr,
             {score} AS cos6
      FROM {tag}cand{t} JOIN {vtab} a ON a.vec_id = {tag}cand{t}.node
                     JOIN {vtab} c ON c.vec_id = {tag}cand{t}.nbr
    )"""
    return ctes


def _gs_und_sql(edges: str) -> str:
    """Body of an undirected-adjacency CTE over ``edges`` — emitted once
    per distinct edge source and shared across traversal tags."""
    return f"""      SELECT node AS a, nbr AS b FROM {edges}
      UNION
      SELECT nbr AS a, node AS b FROM {edges}"""


@query(
    "ann_graph_search_topk",
    headline=True,
    oracle=f"""
    WITH {_knn_oracle_ctes()}{_gs_oracle_ctes()}
    SELECT node AS q_id, CAST(rk AS BIGINT) AS rk, nbr AS c_id,
           cos6 + 0.0 AS cosine
    FROM (
      SELECT node, nbr, cos6,
             ROW_NUMBER() OVER (PARTITION BY node
                                ORDER BY cos6 DESC, nbr) AS rk
      FROM gsv{GS_ROUNDS}
    )
    WHERE rk <= {KNN_K}
    """,
)
def ann_graph_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, rk, c_id, cosine): top-K per eval query served by LSH-entry
    + GS_ROUNDS-hop beam search over the NN-Descent graph — the
    query-time leg of the kNN-graph index."""
    visited = _gs_visited(spark, sf_dir)
    return _gs_serve(visited)


@query(
    "ann_graph_search_recall_at_k",
    oracle=f"""
    WITH {_knn_oracle_ctes()}{_gs_oracle_ctes()},
    gstruth AS ({_KNN_TRUTH_SQL}),
    gsapprox AS (
      SELECT node, nbr FROM (
        SELECT node, nbr,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY cos6 DESC, nbr) AS rk
        FROM gsv{GS_ROUNDS}
      ) WHERE rk <= {KNN_K}
    ),
    gsvis AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_scored
              FROM gsv{GS_ROUNDS})
    SELECT CAST({KNN_K} AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(SUM(hit) AS BIGINT) AS n_hit,
           ROUND(SUM(hit) * 1.0 / COUNT(*), 4) AS recall,
           (SELECT n_scored FROM gsvis) AS n_scored,
           CAST({GS_FLOOR!r} AS DOUBLE) AS floor_recall,
           SUM(hit) * 1.0 / COUNT(*) >= CAST({GS_FLOOR!r} AS DOUBLE)
             AS beats_floor
    FROM (
      SELECT t.node, t.nbr,
             CASE WHEN a.nbr IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM gstruth t
      LEFT JOIN gsapprox a ON t.node = a.node AND t.nbr = a.nbr
    )
    """,
)
def ann_graph_search_recall_at_k(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(k, n_true, n_hit, recall, n_scored, floor_recall, beats_floor):
    mean recall@KNN_K of the beam search vs brute-force truth on the
    eval nodes, with the total scored-candidate count (the search's
    actual budget) crossing the driver hash beside it, and the GS_FLOOR
    quality gate value-checked like the clustered IVF-PQ floor."""
    visited = _gs_visited(spark, sf_dir)
    truth = _knn_truth(spark, sf_dir)
    approx = _node_topk(visited).select("node", "nbr")
    n_scored = visited.agg(
        F.count("*").cast("long").alias("n_scored")
    )
    return (
        _truth_recall_agg(
            truth, approx, lead=(F.lit(KNN_K).cast("long").alias("k"),)
        )
        .crossJoin(F.broadcast(n_scored))
        .select(
            "k",
            "n_true",
            "n_hit",
            "recall",
            "n_scored",
            F.lit(float(GS_FLOOR)).alias("floor_recall"),
            (
                F.col("n_hit") * 1.0 / F.col("n_true")
                >= F.lit(float(GS_FLOOR))
            ).alias("beats_floor"),
        )
    )


# --------------------------------------------------------------------------
# Beam-budget recall curve (round 11) — the serving-tuning table for the
# graph index, the graph twin of ann_pq_shortlist_recall_curve's
# overfetch lever: recall@KNN_K and total scored candidates at beam
# widths 6/12/24/48, all four traversals over ONE shared graph build.
# This is the committed form of the measurement that picked GS_BEAM=24
# (beam = HNSW's ef: width buys the diversity extra hops can't).
# --------------------------------------------------------------------------
GS_BEAM_CURVE = (6, 12, 24, 48)


def _gs_curve_oracle() -> str:
    # One shared undirected-adjacency CTE for all four beam traversals
    # (round-11 advice: per-tag copies materialized identical adjacency
    # 4x — oracle-side cost only, values unchanged).
    chains = f""",
    gbund AS MATERIALIZED (
{_gs_und_sql(f"b{KNN_ITERS}")}
    )""" + "".join(
        _gs_oracle_ctes(beam=b, tag=f"gb{b}", und="gbund")
        for b in GS_BEAM_CURVE
    )
    legs = []
    for b in GS_BEAM_CURVE:
        legs.append(
            f"""SELECT CAST({b} AS BIGINT) AS beam,
           CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(SUM(hit) AS BIGINT) AS n_hit,
           ROUND(SUM(hit) * 1.0 / COUNT(*), 4) AS recall,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM gb{b}v{GS_ROUNDS})
             AS n_scored
    FROM (
      SELECT CASE WHEN a.nbr IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM gstruth t
      LEFT JOIN (
        SELECT node, nbr FROM (
          SELECT node, nbr,
                 ROW_NUMBER() OVER (PARTITION BY node
                                    ORDER BY cos6 DESC, nbr) AS rk
          FROM gb{b}v{GS_ROUNDS}
        ) WHERE rk <= {KNN_K}
      ) a ON t.node = a.node AND t.nbr = a.nbr
    )"""
        )
    return f"""
    WITH {_knn_oracle_ctes()}{chains},
    gstruth AS ({_KNN_TRUTH_SQL})
    {" UNION ALL ".join(legs)}
    """


@query("ann_graph_search_beam_curve", oracle=_gs_curve_oracle())
def ann_graph_search_beam_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(beam, n_true, n_hit, recall, n_scored): the graph index's
    quality/budget frontier — what a serving tier reads to pick its ef.
    One index state (snapshot scan, persisted adjacency) feeds all four
    traversals."""
    ix = _gs_index(spark, sf_dir)
    truth = bounded_persist(_knn_truth(spark, sf_dir))
    legs = []
    for b in GS_BEAM_CURVE:
        visited = _gs_search(ix, beam=b)
        approx = _node_topk(visited).select("node", "nbr")
        ns = visited.agg(F.count("*").cast("long").alias("n_scored"))
        legs.append(
            _truth_recall_agg(
                truth, approx, lead=(F.lit(b).cast("long").alias("beam"),)
            ).crossJoin(F.broadcast(ns))
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out


# --------------------------------------------------------------------------
# RNG-rule graph pruning (round 11) — the edge-DIVERSIFICATION step
# between build and serve (the Vamana/NSG "robust prune" idea in its
# non-iterative relative-neighborhood form): drop neighbor j from node
# n's list when some better-ranked neighbor i is closer to j than n is
# (cos(i, j) > cos(n, j)) — i already routes to j, so the (n, j) edge
# spends degree on a direction the graph covers. The rule is a pure
# join predicate over ranked neighbor pairs (no per-node sequential
# state), so both engines replay it exactly: cost is <= N * K(K-1)/2
# scored neighbor-neighbor pairs, one bounded pass.
#
# ann_graph_search_pruned_recall then serves the SAME beam search over
# full vs pruned adjacency and commits the trade: edges dropped vs
# recall kept — the measured case that diversity, not raw degree, is
# what navigation needs.
# --------------------------------------------------------------------------
def _rng_prune_ctes() -> str:
    """rgadj: the pruned adjacency over b{KNN_ITERS}."""
    return f""",
    rgrk AS (
      SELECT node, nbr, cos6,
             ROW_NUMBER() OVER (PARTITION BY node
                                ORDER BY cos6 DESC, nbr) AS rk
      FROM b{KNN_ITERS}
    ),
    rgviol AS (
      SELECT DISTINCT p.node, p.j FROM (
        SELECT a.node, a.nbr AS i, b.nbr AS j, b.cos6 AS cnj
        FROM rgrk a JOIN rgrk b ON a.node = b.node AND a.rk < b.rk
      ) p
      JOIN knnv x ON x.vec_id = p.i
      JOIN knnv y ON y.vec_id = p.j
      WHERE ROUND(list_cosine_similarity(x.e, y.e), 6) > p.cnj
    ),
    rgadj AS MATERIALIZED (
      SELECT r.node, r.nbr, r.cos6
      FROM rgrk r
      LEFT JOIN rgviol v ON v.node = r.node AND v.j = r.nbr
      WHERE v.node IS NULL
    )"""


def _rng_pruned_graph(graph: DataFrame, vecs: DataFrame) -> DataFrame:
    """(node, nbr, cos6): the RNG-pruned adjacency, engine side."""
    w = W.partitionBy("node").orderBy(F.desc("cos6"), "nbr")
    ranked = graph.withColumn("rk", F.row_number().over(w))
    a = ranked.select("node", F.col("nbr").alias("i"), F.col("rk").alias("ri"))
    b = ranked.select(
        "node",
        F.col("nbr").alias("j"),
        F.col("cos6").alias("cnj"),
        F.col("rk").alias("rj"),
    )
    pairs = a.join(b, "node").where(F.col("ri") < F.col("rj"))
    # Score each UNORDERED neighbor pair once (cosine is symmetric; the
    # ordered frame would otherwise score both orientations whenever x
    # ranks above y under one node and below under another — up to 2x
    # the dominant cost), then serve both orientations from the one
    # scored frame.
    half = bounded_persist(
        _knn_score(
            pairs.select(
                F.least("i", "j").alias("node"),
                F.greatest("i", "j").alias("nbr"),
            ).dropDuplicates(["node", "nbr"]),
            vecs,
        )
    )
    ij = half.select(
        F.col("node").alias("i"),
        F.col("nbr").alias("j"),
        F.col("cos6").alias("cij"),
    ).unionAll(
        half.select(
            F.col("nbr").alias("i"),
            F.col("node").alias("j"),
            F.col("cos6").alias("cij"),
        )
    )
    viol = (
        pairs.join(ij, ["i", "j"])
        .where(F.col("cij") > F.col("cnj"))
        .select("node", "j")
        .distinct()
    )
    return ranked.join(
        viol.withColumnRenamed("j", "nbr"), ["node", "nbr"], "left_anti"
    ).select("node", "nbr", "cos6")


@query(
    "knn_graph_rng_prune",
    oracle=f"""
    WITH {_knn_oracle_ctes()}{_rng_prune_ctes()}
    SELECT node, CAST(rk AS BIGINT) AS rk, nbr, cos6 + 0.0 AS cosine
    FROM (
      SELECT node, nbr, cos6,
             ROW_NUMBER() OVER (PARTITION BY node
                                ORDER BY cos6 DESC, nbr) AS rk
      FROM rgadj WHERE node < {KNN_EVAL_N}
    )
    """,
)
def knn_graph_rng_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, rk, nbr, cosine): eval-node slice of the RNG-pruned
    adjacency — each node's surviving (diverse) neighbor list,
    re-ranked."""
    vecs = _knn_vecs(spark, sf_dir)
    graph = _knn_graph_snap(spark, sf_dir)
    pruned = _rng_pruned_graph(graph, vecs).where(F.col("node") < KNN_EVAL_N)
    w = W.partitionBy("node").orderBy(F.desc("cos6"), "nbr")
    return pruned.select(
        "node",
        F.row_number().over(w).cast("long").alias("rk"),
        "nbr",
        (F.col("cos6") + F.lit(0.0)).alias("cosine"),
    )


def _gs_pruned_oracle() -> str:
    legs = []
    for kind, tag, edges_cte in (
        ("full", "gpf", f"b{KNN_ITERS}"),
        ("rng_pruned", "gpp", "rgadj"),
    ):
        legs.append(
            f"""SELECT '{kind}' AS graph_kind,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {edges_cte}) AS n_edges,
           CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(SUM(hit) AS BIGINT) AS n_hit,
           ROUND(SUM(hit) * 1.0 / COUNT(*), 4) AS recall,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {tag}v{GS_ROUNDS})
             AS n_scored
    FROM (
      SELECT CASE WHEN a.nbr IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM gstruth t
      LEFT JOIN (
        SELECT node, nbr FROM (
          SELECT node, nbr,
                 ROW_NUMBER() OVER (PARTITION BY node
                                    ORDER BY cos6 DESC, nbr) AS rk
          FROM {tag}v{GS_ROUNDS}
        ) WHERE rk <= {KNN_K}
      ) a ON t.node = a.node AND t.nbr = a.nbr
    )"""
        )
    return f"""
    WITH {_knn_oracle_ctes()}{_rng_prune_ctes()}{
        _gs_oracle_ctes(tag="gpf")}{
        _gs_oracle_ctes(tag="gpp", edges="rgadj")},
    gstruth AS ({_KNN_TRUTH_SQL})
    {" UNION ALL ".join(legs)}
    """


@query("ann_graph_search_pruned_recall", oracle=_gs_pruned_oracle())
def ann_graph_search_pruned_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(graph_kind, n_edges, n_true, n_hit, recall, n_scored): the same
    GS_BEAM traversal over the full vs RNG-pruned graph — the committed
    edges-dropped / recall-kept trade."""
    vecs = _knn_vecs(spark, sf_dir)
    graph = _knn_graph_snap(spark, sf_dir)
    truth = bounded_persist(_knn_truth(spark, sf_dir))
    pruned = bounded_persist(_rng_pruned_graph(graph, vecs))
    legs = []
    for kind, g in (("full", graph), ("rng_pruned", pruned)):
        visited = _gs_visited(spark, sf_dir, vecs=vecs, graph=g)
        approx = _node_topk(visited).select("node", "nbr")
        ne = g.agg(F.count("*").cast("long").alias("n_edges"))
        ns = visited.agg(F.count("*").cast("long").alias("n_scored"))
        legs.append(
            _truth_recall_agg(
                truth, approx, lead=(F.lit(kind).alias("graph_kind"),)
            )
            .crossJoin(F.broadcast(ne))
            .crossJoin(F.broadcast(ns))
            .select(
                "graph_kind",
                "n_edges",
                "n_true",
                "n_hit",
                "recall",
                "n_scored",
            )
        )
    return legs[0].unionAll(legs[1])


# --------------------------------------------------------------------------
# FILTERED vector search (round 11) — ANN top-k under a metadata
# predicate, the production RAG query shape ("nearest chunks FROM these
# sources"). Composes the existing IVF machinery (probes + scored
# candidates); no new index. The fixture predicate is a source
# restriction over the aligned documents table (vec_id IS doc_id in the
# testdata), FLT_SOURCES = 4 of 20 sources => ~20% selectivity.
#
# The decision this section COMMITS: serve PRE-FILTER. In an inverted
# -file index the predicate can be applied to the postings themselves
# (metadata rides beside each posting entry, or the filter semi-joins
# the candidate stream before scoring at scale), so the ranked set is
# exactly the predicate-satisfying candidates and every query returns a
# full k whenever its probed cells hold k eligible vectors. POST-filter
# (rank first, filter after) silently starves: at overfetch 1 a query
# keeps only the eligible fraction of its top-k (~selectivity * k
# results), and even at overfetch FLT_OVERFETCH the eligible survivors
# of the unfiltered ranking are a biased, truncated sample.
# ann_filtered_recall_at_k commits all three numbers side by side —
# the measured case for the pre-filter default.
#
# Scale: the predicate frame is dimension-sized here (broadcast semi
# join); at 100 TB the same plan holds with the metadata column stored
# in the index (the posting-list layout every production engine uses) or
# a bloom-pruned shuffle join against the candidate stream.
# --------------------------------------------------------------------------
FLT_SOURCES = ("src0", "src1", "src2", "src3")
FLT_OVERFETCH = 4  # post-filter overfetch factor priced by the recall row

_FLT_IN = ", ".join(f"'{s}'" for s in FLT_SOURCES)


def _flt_allowed_sql() -> str:
    return f"""allowed AS (
      SELECT doc_id AS c_id, source FROM documents
      WHERE source IN ({_FLT_IN})
    )"""


@query(
    "ann_filtered_topk",
    headline=True,
    oracle=f"""
    WITH {_ivf_scored_ctes()},
    {_flt_allowed_sql()}
    SELECT q_id, CAST(rk AS BIGINT) AS rk, c_id, source,
           sim6 + 0.0 AS cosine
    FROM (
      SELECT s.q_id, s.c_id, allowed.source, s.sim6,
             ROW_NUMBER() OVER (PARTITION BY s.q_id
                                ORDER BY s.sim6 DESC, s.c_id) AS rk
      FROM s JOIN allowed ON allowed.c_id = s.c_id
    )
    WHERE rk <= {TOP_K}
    """,
)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, rk, c_id, source, cosine): IVF top-k restricted to
    candidates whose document source passes the predicate — PRE-filter
    semantics (the committed serving default): the predicate semi-joins
    the candidate stream BEFORE ranking, so ranks are over eligible
    vectors only."""
    sims = _ivf_scored_frame(spark, sf_dir)
    allowed = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("source").isin(*FLT_SOURCES))
        .select(F.col("doc_id").alias("c_id"), "source")
    )
    flt = sims.join(F.broadcast(allowed), "c_id")
    order = [F.col("sim6").desc(), F.col("c_id")]
    return (
        top_k(flt, "q_id", order, TOP_K)
        .select(
            "q_id",
            F.col("rk").cast("long").alias("rk"),
            "c_id",
            "source",
            (F.col("sim6") + F.lit(0.0)).alias("cosine"),
        )
    )


def _flt_recall_oracle() -> str:
    ranked = """SELECT q_id, c_id, sim6,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY sim6 DESC, c_id) AS rk
      FROM s"""
    legs = []
    for name, sel in (
        ("prefilter", f"""
      SELECT q_id, c_id FROM (
        SELECT s.q_id, s.c_id,
               ROW_NUMBER() OVER (PARTITION BY s.q_id
                                  ORDER BY s.sim6 DESC, s.c_id) AS rk
        FROM s JOIN allowed ON allowed.c_id = s.c_id
      ) WHERE rk <= {TOP_K}"""),
        ("postfilter_of1", f"""
      SELECT r.q_id, r.c_id
      FROM ({ranked}) r JOIN allowed ON allowed.c_id = r.c_id
      WHERE r.rk <= {TOP_K}"""),
        (f"postfilter_of{FLT_OVERFETCH}", f"""
      SELECT q_id, c_id FROM (
        SELECT r.q_id, r.c_id,
               ROW_NUMBER() OVER (PARTITION BY r.q_id
                                  ORDER BY r.sim6 DESC, r.c_id) AS rk2
        FROM ({ranked}) r JOIN allowed ON allowed.c_id = r.c_id
        WHERE r.rk <= {FLT_OVERFETCH * TOP_K}
      ) WHERE rk2 <= {TOP_K}"""),
    ):
        legs.append(
            f"""SELECT '{name}' AS variant,
           CAST((SELECT COUNT(*) FROM ftruth) AS BIGINT) AS n_true,
           CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_hit,
           ROUND(COALESCE(SUM(hit), 0) * 1.0
                 / (SELECT COUNT(*) FROM ftruth), 4) AS recall,
           CAST(COUNT(a.c_id) AS BIGINT) AS n_results
    FROM (
      SELECT a.c_id,
             CASE WHEN t.c_id IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM ({sel}) a
      LEFT JOIN ftruth t ON t.q_id = a.q_id AND t.c_id = a.c_id
    ) a"""
        )
    return f"""
    WITH {_ivf_scored_ctes()},
    {_flt_allowed_sql()},
    ftruth AS (
      SELECT q_id, c_id FROM (
        SELECT a.vec_id AS q_id, allowed.c_id,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY ROUND(list_cosine_similarity(a.e, b.e), 6) DESC,
                          allowed.c_id) AS rk
        FROM v a
        JOIN allowed ON allowed.c_id <> a.vec_id
        JOIN v b ON b.vec_id = allowed.c_id
        WHERE a.vec_id < {N_QUERY_VECS}
      ) WHERE rk <= {TOP_K}
    )
    {" UNION ALL ".join(legs)}
    """


@query("ann_filtered_recall_at_k", oracle=_flt_recall_oracle())
def ann_filtered_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(variant, n_true, n_hit, recall, n_results): the filtered-search
    strategy table vs exact filtered brute force — prefilter (the
    committed default), postfilter at overfetch 1 (the starvation case:
    n_results ~ selectivity * k per query), and postfilter at the fixed
    FLT_OVERFETCH budget (the committed post-filter price)."""
    emb = load_table(spark, sf_dir, "embeddings")
    n_parts = partition_count(spark)
    vecs = emb.repartition(n_parts).select(
        "vec_id",
        as_double("embedding").alias("v"),
        l2_norm(as_double("embedding")).alias("nrm"),
    )
    allowed = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("source").isin(*FLT_SOURCES))
        .select(F.col("doc_id").alias("c_id"), "source")
    )
    # exact filtered truth: queries x eligible candidates, never N^2
    q = vecs.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    c = vecs.join(F.broadcast(allowed.select("c_id")), vecs.vec_id == F.col("c_id")).select(
        "c_id", F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )
    order = [F.col("sim6").desc(), F.col("c_id")]
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", cosine6("qv", "cv", "qn", "cn").alias("sim6"))
    )
    truth = bounded_persist(
        top_k(scored, "q_id", order, TOP_K).select("q_id", "c_id")
    )
    sims = bounded_persist(_ivf_scored_frame(spark, sf_dir))
    ok = F.broadcast(allowed.select("c_id"))
    pre = top_k(sims.join(ok, "c_id"), "q_id", order, TOP_K).select(
        "q_id", "c_id"
    )
    p1 = top_k(sims, "q_id", order, TOP_K).join(ok, "c_id").select(
        "q_id", "c_id"
    )
    p4 = top_k(
        top_k(sims, "q_id", order, FLT_OVERFETCH * TOP_K).join(ok, "c_id"),
        "q_id",
        order,
        TOP_K,
        rank="rk2",
    ).select("q_id", "c_id")
    n_true = truth.count()
    legs = []
    for name, approx in (
        ("prefilter", pre),
        ("postfilter_of1", p1),
        (f"postfilter_of{FLT_OVERFETCH}", p4),
    ):
        j = approx.join(
            truth.withColumn("hit", F.lit(1)), ["q_id", "c_id"], "left"
        )
        hit = F.coalesce(F.col("hit"), F.lit(0))
        legs.append(
            j.agg(
                F.lit(name).alias("variant"),
                F.lit(n_true).cast("long").alias("n_true"),
                F.coalesce(F.sum(hit), F.lit(0)).cast("long").alias("n_hit"),
                F.round(
                    F.coalesce(F.sum(hit), F.lit(0)) * 1.0 / F.lit(n_true), 4
                ).alias("recall"),
                F.count("c_id").cast("long").alias("n_results"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out


# --------------------------------------------------------------------------
# OUT-OF-CORPUS graph serving (round 11) — every other ANN query in this
# module serves corpus members as queries (the recall-harness shape);
# production serves vectors the index has NEVER seen. This section
# closes that asterisk: 10 held-out queries, each a corpus vector
# (vec_id GS_OOV_BASE..+9) plus an md5-derived per-dimension
# perturbation in [-0.05, 0.05) — computed IN BOTH ENGINES from the
# same expression (the _rag_emb md5->int convention), so the queries
# are deterministic, replayable, and genuinely absent from the index.
# Serving path: bucket the query with the SAME hyperplanes the index
# used (query-side state is just p sign bits — nothing about the query
# was ever indexed), then the standard GS_BEAM beam traversal.
#
# The recall row carries src_top1_hits beside recall: a query's source
# vector should be its rank-1 result under a small perturbation, so the
# count of queries whose top-1 IS vec GS_OOV_BASE + q_id is a sharp
# end-to-end serving check the hash pins (10/10 measured at every SF).
# --------------------------------------------------------------------------
GS_OOV_N = 10
GS_OOV_BASE = 100  # perturb corpus vectors 100..109 (disjoint from the
                   # eval nodes and the IVF seed range)


def _gs_oov_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, qe, qn): the held-out query vectors, engine side."""
    emb = load_table(spark, sf_dir, "embeddings").where(
        (F.col("vec_id") >= GS_OOV_BASE)
        & (F.col("vec_id") < GS_OOV_BASE + GS_OOV_N)
    )
    qid = F.col("vec_id") - GS_OOV_BASE

    def delta(i):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.lit("oov"),
                            qid.cast("string"),
                            i.cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % 100
        ) / F.lit(1000.0) - F.lit(0.05)

    e = F.transform(as_double(F.col("embedding")), lambda x, i: x + delta(i))
    return emb.select(
        qid.alias("node"), e.alias("qe"), l2_norm(e).alias("qn")
    )


_OOV_Q_SQL = f"""knnq AS (
      SELECT vec_id - {GS_OOV_BASE} AS vec_id,
             list_transform(range(0, {EMB_DIM}), i ->
               CAST(embedding[i + 1] AS DOUBLE)
               + (('0x' || substr(md5('oov:' || (vec_id - {GS_OOV_BASE})
                                       || ':' || i), 1, 15))::BIGINT
                  % 100) / 1000.0 - 0.05) AS e
      FROM embeddings
      WHERE vec_id >= {GS_OOV_BASE} AND vec_id < {GS_OOV_BASE + GS_OOV_N}
    )"""


def _gs_score_oov(
    pairs: DataFrame, qvecs: DataFrame, vecs: DataFrame, bcast: bool = False
) -> DataFrame:
    """Score (node, nbr) where the node side is a HELD-OUT query: query
    vectors broadcast (query-batch-sized), candidate side streams with
    the family's shuffled-hash discipline — or broadcasts too when the
    corpus is below GS_BCAST_MAX_BYTES (``bcast``; guide §3.1)."""
    n_parts = partition_count(pairs.sparkSession)
    c = vecs.select(
        F.col("vec_id").alias("nbr"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cos6 = cosine6("qe", "eb", "qn", "nb").alias("cos6")
    if bcast:
        return (
            pairs.join(F.broadcast(qvecs), "node")
            .join(F.broadcast(c), "nbr")
            .select("node", "nbr", cos6)
        )
    return (
        pairs.repartition(n_parts, "node", "nbr")
        .join(F.broadcast(qvecs), "node")
        .join(c.hint("shuffle_hash"), "nbr")
        .select("node", "nbr", cos6)
    )


def _gs_oov_visited(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, nbr, cos6): the OOV beam search's scored set after
    GS_ROUNDS hops (node = held-out q_id, disjoint id space)."""
    ix = _gs_index(spark, sf_dir, n_queries=GS_OOV_N)
    prow = _knn_prow_snap(spark, sf_dir)
    qvecs = bounded_persist(_gs_oov_queries(spark, sf_dir))
    qb = _knn_buckets(
        qvecs.select(F.col("node").alias("vec_id"), F.col("qe").alias("e")),
        prow,
    )
    return _gs_search(
        ix,
        qb,
        score=lambda p, bcast: _gs_score_oov(p, qvecs, ix.vecs, bcast=bcast),
        exclude_self=False,
    )


def _gs_oov_oracle_ctes() -> str:
    """knnq + query buckets + the unrolled OOV traversal chain (tag
    go); gov{t} = visited after hop t. No self-exclusion: query ids are
    a disjoint space and the query's source vector is a legitimate
    candidate."""
    ctes = f""",
    {_OOV_Q_SQL},
    goqb AS MATERIALIZED (
{_knn_buckets_cte(src="knnq")}
    ),
    gound AS MATERIALIZED (
      SELECT node AS a, nbr AS b FROM b{KNN_ITERS}
      UNION
      SELECT nbr AS a, node AS b FROM b{KNN_ITERS}
    ),
    goe0 AS (
      SELECT DISTINCT q.vec_id AS node, c.vec_id AS nbr
      FROM goqb q
      JOIN knnlshc c ON q.tbl = c.tbl AND q.bucket = c.bucket
    ),
    gov0 AS MATERIALIZED (
      SELECT goe0.node, goe0.nbr,
             ROUND(list_cosine_similarity(a.e, c.e), 6) AS cos6
      FROM goe0 JOIN knnq a ON a.vec_id = goe0.node
                JOIN knnv c ON c.vec_id = goe0.nbr
    )"""
    for t in range(1, GS_ROUNDS + 1):
        p = t - 1
        ctes += f""",
    gobeam{t} AS (
      SELECT node, nbr FROM (
        SELECT node, nbr,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY cos6 DESC, nbr) AS rk
        FROM gov{p}
      ) WHERE rk <= {GS_BEAM}
    ),
    gocand{t} AS (
      SELECT DISTINCT gb.node, u.b AS nbr
      FROM gobeam{t} gb JOIN gound u ON gb.nbr = u.a
    ),
    gov{t} AS MATERIALIZED (
      SELECT node, nbr, cos6 FROM gov{p}
      UNION
      SELECT gocand{t}.node, gocand{t}.nbr,
             ROUND(list_cosine_similarity(a.e, c.e), 6) AS cos6
      FROM gocand{t} JOIN knnq a ON a.vec_id = gocand{t}.node
                     JOIN knnv c ON c.vec_id = gocand{t}.nbr
    )"""
    return ctes


@query(
    "ann_graph_search_oov_topk",
    oracle=f"""
    WITH {_knn_oracle_ctes()}{_gs_oov_oracle_ctes()}
    SELECT node AS q_id, CAST(rk AS BIGINT) AS rk, nbr AS c_id,
           cos6 + 0.0 AS cosine
    FROM (
      SELECT node, nbr, cos6,
             ROW_NUMBER() OVER (PARTITION BY node
                                ORDER BY cos6 DESC, nbr) AS rk
      FROM gov{GS_ROUNDS}
    )
    WHERE rk <= {KNN_K}
    """,
)
def ann_graph_search_oov_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(q_id, rk, c_id, cosine): graph serving for HELD-OUT queries —
    vectors the index never saw, entered via their own LSH buckets."""
    visited = _gs_oov_visited(spark, sf_dir)
    return _gs_serve(visited)


@query(
    "ann_graph_search_oov_recall",
    oracle=f"""
    WITH {_knn_oracle_ctes()}{_gs_oov_oracle_ctes()},
    gotruth AS (
      SELECT node, nbr FROM (
        SELECT q.vec_id AS node, c.vec_id AS nbr,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY ROUND(list_cosine_similarity(q.e, c.e), 6) DESC,
                          c.vec_id) AS rk
        FROM knnq q CROSS JOIN knnv c
      ) WHERE rk <= {KNN_K}
    ),
    goapprox AS (
      SELECT node, nbr, rk FROM (
        SELECT node, nbr, cos6,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY cos6 DESC, nbr) AS rk
        FROM gov{GS_ROUNDS}
      ) WHERE rk <= {KNN_K}
    )
    SELECT CAST({KNN_K} AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(SUM(hit) AS BIGINT) AS n_hit,
           ROUND(SUM(hit) * 1.0 / COUNT(*), 4) AS recall,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM gov{GS_ROUNDS})
             AS n_scored,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM goapprox
            WHERE rk = 1 AND nbr = node + {GS_OOV_BASE})
             AS src_top1_hits
    FROM (
      SELECT CASE WHEN a.nbr IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM gotruth t
      LEFT JOIN goapprox a ON t.node = a.node AND t.nbr = a.nbr
    )
    """,
)
def ann_graph_search_oov_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(k, n_true, n_hit, recall, n_scored, src_top1_hits): OOV serving
    quality vs brute truth, plus the sharp end-to-end check — each
    query's rank-1 result should be its (perturbed-from) source
    vector."""
    visited = _gs_oov_visited(spark, sf_dir)
    # OOV truth: re-rank over the materialized oov_scored frame (round 13)
    truth = _node_topk(_knn_oov_scored(spark, sf_dir)).select("node", "nbr")
    approx = _node_topk(visited).select("node", "nbr", "rk")
    approx = bounded_persist(approx)
    src_hits = approx.where(
        (F.col("rk") == 1) & (F.col("nbr") == F.col("node") + GS_OOV_BASE)
    ).agg(F.count("*").cast("long").alias("src_top1_hits"))
    ns = visited.agg(F.count("*").cast("long").alias("n_scored"))
    return (
        _truth_recall_agg(
            truth, approx, lead=(F.lit(KNN_K).cast("long").alias("k"),)
        )
        .crossJoin(F.broadcast(ns))
        .crossJoin(F.broadcast(src_hits))
        .select("k", "n_true", "n_hit", "recall", "n_scored", "src_top1_hits")
    )


# --------------------------------------------------------------------------
# FILTERED graph search (round 11) — the capstone composing the two
# round-11 families: serve the FLT_SOURCES predicate from the GRAPH
# index (the ACORN question, Patel et al. 2024: what does a navigating
# index do with a filter?). Two strategies, both committed:
#
# - traverse_all: walk the FULL graph (ineligible nodes remain routing
#   waypoints), apply the predicate only to the result cut — the
#   ACORN-style answer; costs the unfiltered traversal budget.
# - subgraph_only: restrict entry candidates AND edges to the eligible
#   subgraph — the naive answer; at 20% selectivity the eligible
#   subgraph keeps only ~selectivity^2 of the edges (both endpoints
#   must pass), fragmenting the navigable structure.
#
# The recall rows price the decision vs exact filtered truth; the
# committed claim is that routing THROUGH ineligible nodes is what
# keeps a filtered graph search navigable.
# --------------------------------------------------------------------------
def _gs_filtered_oracle() -> str:
    legs = []
    for kind, cut in (
        (
            "traverse_all",
            f"""
      SELECT node, nbr FROM (
        SELECT v.node, v.nbr,
               ROW_NUMBER() OVER (PARTITION BY v.node
                                  ORDER BY v.cos6 DESC, v.nbr) AS rk
        FROM gfav{GS_ROUNDS} v JOIN gfal ON gfal.vec_id = v.nbr
      ) WHERE rk <= {KNN_K}""",
        ),
        (
            "subgraph_only",
            f"""
      SELECT node, nbr FROM (
        SELECT node, nbr,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY cos6 DESC, nbr) AS rk
        FROM gfbv{GS_ROUNDS}
      ) WHERE rk <= {KNN_K}""",
        ),
    ):
        legs.append(
            f"""SELECT '{kind}' AS variant,
           CAST((SELECT COUNT(*) FROM gftruth) AS BIGINT) AS n_true,
           CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_hit,
           ROUND(COALESCE(SUM(hit), 0) * 1.0
                 / (SELECT COUNT(*) FROM gftruth), 4) AS recall,
           CAST(COUNT(a.nbr) AS BIGINT) AS n_results
    FROM (
      SELECT a.nbr,
             CASE WHEN t.nbr IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM ({cut}) a
      LEFT JOIN gftruth t ON t.node = a.node AND t.nbr = a.nbr
    ) a"""
        )
    return f"""
    WITH {_knn_oracle_ctes()},
    gfal AS (
      SELECT doc_id AS vec_id FROM documents
      WHERE source IN ({_FLT_IN})
    ),
    gfedges AS MATERIALIZED (
      SELECT g.node, g.nbr, g.cos6 FROM b{KNN_ITERS} g
      JOIN gfal x ON x.vec_id = g.node
      JOIN gfal y ON y.vec_id = g.nbr
    ),
    gfblshc AS MATERIALIZED (
      SELECT vec_id, tbl, bucket FROM (
        SELECT vec_id, tbl, bucket,
               ROW_NUMBER() OVER (
                 PARTITION BY tbl, bucket
                 ORDER BY (vec_id * {KNN_CAP_MIX}) % {KNN_CAP_MOD}, vec_id
               ) AS rn
        FROM knnlshb
        WHERE vec_id IN (SELECT vec_id FROM gfal)
      ) WHERE rn <= {KNN_BUCKET_CAP}
    ){_gs_oracle_ctes(tag="gfa")}{
        _gs_oracle_ctes(tag="gfb", edges="gfedges", cand="gfblshc")},
    gftruth AS (
      SELECT node, nbr FROM (
        SELECT q.vec_id AS node, c.vec_id AS nbr,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY ROUND(list_cosine_similarity(q.e, c.e), 6) DESC,
                          c.vec_id) AS rk
        FROM knnv q
        JOIN gfal ON gfal.vec_id <> q.vec_id
        JOIN knnv c ON c.vec_id = gfal.vec_id
        WHERE q.vec_id < {KNN_EVAL_N}
      ) WHERE rk <= {KNN_K}
    )
    {" UNION ALL ".join(legs)}
    """


@query("ann_graph_search_filtered_recall", oracle=_gs_filtered_oracle())
def ann_graph_search_filtered_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(variant, n_true, n_hit, recall, n_results): predicate-filtered
    graph serving, traverse-the-full-graph vs eligible-subgraph-only,
    against exact filtered truth — the committed case for routing
    through ineligible nodes."""
    vecs = _knn_vecs(spark, sf_dir)
    graph = _knn_graph_snap(spark, sf_dir)
    allowed = bounded_persist(
        load_table(spark, sf_dir, "documents")
        .where(F.col("source").isin(*FLT_SOURCES))
        .select(F.col("doc_id").alias("vec_id"))
    )
    # exact filtered truth for the eval queries: an eligibility filter +
    # re-rank over the materialized truth snapshot (round 13)
    truth = bounded_persist(_knn_truth(spark, sf_dir, nbr_semi=allowed))
    n_true = truth.count()
    g_f = graph.join(allowed.select(F.col("vec_id").alias("node")), "node", "left_semi").join(
        allowed.select(F.col("vec_id").alias("nbr")), "nbr", "left_semi"
    ).select("node", "nbr", "cos6")
    legs = []
    for kind, visited, post_filter in (
        ("traverse_all", _gs_visited(spark, sf_dir, vecs=vecs, graph=graph), True),
        (
            "subgraph_only",
            _gs_visited(
                spark,
                sf_dir,
                vecs=vecs,
                graph=g_f,
                cand_filter=(allowed, "left_semi"),
            ),
            False,
        ),
    ):
        cut = visited
        if post_filter:
            cut = cut.join(
                F.broadcast(allowed.select(F.col("vec_id").alias("nbr"))),
                "nbr",
                "left_semi",
            )
        approx = _node_topk(cut).select("node", "nbr")
        j = approx.join(
            truth.withColumn("hit", F.lit(1)), ["node", "nbr"], "left"
        )
        hit = F.coalesce(F.col("hit"), F.lit(0))
        legs.append(
            j.agg(
                F.lit(kind).alias("variant"),
                F.lit(n_true).cast("long").alias("n_true"),
                F.coalesce(F.sum(hit), F.lit(0)).cast("long").alias("n_hit"),
                F.round(
                    F.coalesce(F.sum(hit), F.lit(0)) * 1.0 / F.lit(n_true), 4
                ).alias("recall"),
                F.count("nbr").cast("long").alias("n_results"),
            )
        )
    return legs[0].unionAll(legs[1])


# --------------------------------------------------------------------------
# Vector DELETION serving (round 12) — the erasure twin of
# user_erasure_audit at the vector grain, and the maintenance shape a
# production corpus hits monthly (GDPR deletions): a deterministic ~10%
# of vec_ids are TOMBSTONED. Two serving strategies, both committed:
#
# - tombstone_waypoints: traverse the UNCHANGED graph — tombstoned nodes
#   still ROUTE (their adjacency entries are navigation state, exactly
#   the filtered-search traverse_all machinery) — and apply the
#   tombstone filter only to the result cut, so a deleted vector can
#   never be RETURNED but still carries the beam through its
#   neighborhood. This is what a serving tier does between compactions:
#   zero index mutation per delete.
# - compacted: the periodic rebuild-on-threshold step — drop tombstoned
#   nodes' lists, drop edges INTO tombstones, and RE-HOME each lost edge
#   through the tombstone's own neighbor list (node -> t -> m becomes a
#   node -> m candidate), then re-rank every surviving node's list to
#   top-K. One bounded pass: candidates <= surviving edges + (edges into
#   tombstones) x K, all degree-bounded; no rebuild from vectors.
#
# The recall rows price both against exact truth over SURVIVORS. The
# committed claim mirrors the filtered-search one: routing through
# tombstones keeps serving quality intact at zero maintenance cost,
# and compaction recovers the degree budget tombstones waste.
#
# The tombstone set is hash-mixed (the KNN_CAP_MIX discipline), not an
# id-range slice, so it is uncorrelated with insertion order; both
# engines compute it from the same integer arithmetic. At 100 TB the
# tombstone frame is the SMALL side (deletes are a fraction of the
# corpus): the result cut is a broadcast/bloom anti-join, and
# compaction's re-home join touches only tombstone-adjacent edges.
# --------------------------------------------------------------------------
GS_DEL_MOD = 10  # tombstone ~1/10 of vec_ids (hash-mixed, order-free)
GS_DEL_RES = 0

_GS_DEL_TOMB_SQL = (
    f"(vec_id * {KNN_CAP_MIX}) % {KNN_CAP_MOD} % {GS_DEL_MOD} = {GS_DEL_RES}"
)


def _gs_del_is_tomb(col: Column) -> Column:
    """True for tombstoned ids — the same Knuth mix both engines replay."""
    return (
        F.pmod(col * F.lit(KNN_CAP_MIX), F.lit(KNN_CAP_MOD)) % GS_DEL_MOD
        == GS_DEL_RES
    )


def _gs_del_frames(vecs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(tombstones, survivors) as one-column vec_id frames."""
    tomb = vecs.select("vec_id").where(_gs_del_is_tomb(F.col("vec_id")))
    surv = vecs.select("vec_id").where(~_gs_del_is_tomb(F.col("vec_id")))
    return tomb, surv


def _gs_compacted_graph(
    graph: DataFrame, vecs: DataFrame, tomb: DataFrame, bcast: bool = False
) -> DataFrame:
    """(node, nbr, cos6): the post-compaction adjacency — tombstoned
    nodes dropped, edges into tombstones re-homed through the
    tombstone's own out-list, surviving lists re-ranked to top-K.
    Every join is against the tombstone frame (the small side) or
    degree-bounded (<= K out-edges per tombstone). ``bcast`` routes the
    re-rank scoring through the broadcast path (small corpus)."""
    n_parts = partition_count(graph.sparkSession)
    t_node = tomb.select(F.col("vec_id").alias("node"))
    t_nbr = tomb.select(F.col("vec_id").alias("nbr"))
    live_src = graph.join(F.broadcast(t_node), "node", "left_anti")
    keep = live_src.join(F.broadcast(t_nbr), "nbr", "left_anti").select(
        "node", "nbr"
    )
    rehome = (
        live_src.join(F.broadcast(t_nbr), "nbr", "left_semi")
        .select("node", F.col("nbr").alias("t"))
        .join(
            graph.select(F.col("node").alias("t"), F.col("nbr").alias("m")),
            "t",
        )
        .join(
            F.broadcast(tomb.select(F.col("vec_id").alias("m"))),
            "m",
            "left_anti",
        )
        .where(F.col("m") != F.col("node"))
        .select("node", F.col("m").alias("nbr"))
    )
    cand = (
        keep.union(rehome)
        .repartition(n_parts, "node", "nbr")
        .dropDuplicates(["node", "nbr"])
    )
    return _knn_topk(_knn_score(cand, vecs, bcast=bcast))


def _gs_del_oracle_ctes() -> str:
    """gdts/gdsv (tombstones/survivors), gdlshc (survivor-filtered
    capped entry buckets — filter BEFORE cap), gdcadj (the compacted
    adjacency)."""
    return f""",
    gdts AS (SELECT vec_id FROM knnv WHERE {_GS_DEL_TOMB_SQL}),
    gdsv AS (SELECT vec_id FROM knnv WHERE NOT ({_GS_DEL_TOMB_SQL})),
    gdlshc AS MATERIALIZED (
      SELECT vec_id, tbl, bucket FROM (
        SELECT vec_id, tbl, bucket,
               ROW_NUMBER() OVER (
                 PARTITION BY tbl, bucket
                 ORDER BY (vec_id * {KNN_CAP_MIX}) % {KNN_CAP_MOD}, vec_id
               ) AS rn
        FROM knnlshb
        WHERE NOT ({_GS_DEL_TOMB_SQL})
      ) WHERE rn <= {KNN_BUCKET_CAP}
    ),
    gdcnd AS (
      SELECT g.node, g.nbr FROM b{KNN_ITERS} g
      JOIN gdsv x ON x.vec_id = g.node
      JOIN gdsv y ON y.vec_id = g.nbr
      UNION
      SELECT g.node, h.nbr FROM b{KNN_ITERS} g
      JOIN b{KNN_ITERS} h ON h.node = g.nbr
      JOIN gdsv x ON x.vec_id = g.node
      JOIN gdts t ON t.vec_id = g.nbr
      JOIN gdsv y ON y.vec_id = h.nbr
      WHERE h.nbr <> g.node
    ),
    gdcadj AS MATERIALIZED (
      SELECT node, nbr, cos6 FROM (
        SELECT s.node, s.nbr, s.cos6,
               ROW_NUMBER() OVER (PARTITION BY s.node
                                  ORDER BY s.cos6 DESC, s.nbr) AS rk
        FROM (
          SELECT gdcnd.node, gdcnd.nbr,
                 ROUND(list_cosine_similarity(a.e, c.e), 6) AS cos6
          FROM gdcnd JOIN knnv a ON a.vec_id = gdcnd.node
                     JOIN knnv c ON c.vec_id = gdcnd.nbr
        ) s
      ) WHERE rk <= {KNN_K}
    )"""


@query(
    "ann_graph_delete_serve",
    headline=True,
    oracle=f"""
    WITH {_knn_oracle_ctes()}{_gs_del_oracle_ctes()}{
        _gs_oracle_ctes(tag="gda")}
    SELECT node AS q_id, CAST(rk AS BIGINT) AS rk, nbr AS c_id,
           cos6 + 0.0 AS cosine
    FROM (
      SELECT v.node, v.nbr, v.cos6,
             ROW_NUMBER() OVER (PARTITION BY v.node
                                ORDER BY v.cos6 DESC, v.nbr) AS rk
      FROM gdav{GS_ROUNDS} v JOIN gdsv s ON s.vec_id = v.nbr
    )
    WHERE rk <= {KNN_K}
    """,
)
def ann_graph_delete_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, rk, c_id, cosine): top-K over SURVIVORS served from the
    unchanged graph — tombstones route the beam but are filtered from
    the result cut (ranks are over eligible vectors only, the
    pre-filter discipline at the cut)."""
    vecs = _knn_vecs(spark, sf_dir)
    tomb, _ = _gs_del_frames(vecs)
    visited = _gs_visited(spark, sf_dir, vecs=vecs)
    cut = visited.join(
        F.broadcast(tomb.select(F.col("vec_id").alias("nbr"))),
        "nbr",
        "left_anti",
    )
    return _gs_serve(cut)


def _gs_del_recall_oracle() -> str:
    legs = []
    for kind, visited, cut_filter in (
        ("tombstone_waypoints", f"gdav{GS_ROUNDS}", True),
        ("compacted", f"gdbv{GS_ROUNDS}", False),
    ):
        join = (
            "JOIN gdsv s ON s.vec_id = v.nbr" if cut_filter else ""
        )
        legs.append(
            f"""SELECT '{kind}' AS variant,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM gdts) AS n_tombstones,
           CAST((SELECT COUNT(*) FROM gdtruth) AS BIGINT) AS n_true,
           CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_hit,
           ROUND(COALESCE(SUM(hit), 0) * 1.0
                 / (SELECT COUNT(*) FROM gdtruth), 4) AS recall,
           CAST(COUNT(a.nbr) AS BIGINT) AS n_results
    FROM (
      SELECT a.nbr,
             CASE WHEN t.nbr IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM (
        SELECT node, nbr FROM (
          SELECT v.node, v.nbr,
                 ROW_NUMBER() OVER (PARTITION BY v.node
                                    ORDER BY v.cos6 DESC, v.nbr) AS rk
          FROM {visited} v {join}
        ) WHERE rk <= {KNN_K}
      ) a
      LEFT JOIN gdtruth t ON t.node = a.node AND t.nbr = a.nbr
    ) a"""
        )
    return f"""
    WITH {_knn_oracle_ctes()}{_gs_del_oracle_ctes()}{
        _gs_oracle_ctes(tag="gda")}{
        _gs_oracle_ctes(tag="gdb", edges="gdcadj", cand="gdlshc")},
    gdtruth AS (
      SELECT node, nbr FROM (
        SELECT q.vec_id AS node, c.vec_id AS nbr,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY ROUND(list_cosine_similarity(q.e, c.e), 6) DESC,
                          c.vec_id) AS rk
        FROM knnv q
        JOIN gdsv s ON s.vec_id <> q.vec_id
        JOIN knnv c ON c.vec_id = s.vec_id
        WHERE q.vec_id < {KNN_EVAL_N}
      ) WHERE rk <= {KNN_K}
    )
    {" UNION ALL ".join(legs)}
    """


@query("ann_graph_delete_recall", oracle=_gs_del_recall_oracle())
def ann_graph_delete_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(variant, n_tombstones, n_true, n_hit, recall, n_results):
    tombstone-waypoint serving vs post-compaction serving, both against
    exact truth over survivors — the committed maintenance trade for
    vector deletion (route-through-tombstones now, compact on
    threshold)."""
    vecs = _knn_vecs(spark, sf_dir)
    graph = _knn_graph_snap(spark, sf_dir)
    tomb, _ = _gs_del_frames(vecs)
    tomb = bounded_persist(tomb)
    # exact truth over survivors for the eval queries: a survivor filter +
    # re-rank over the materialized truth snapshot (round 13)
    truth = bounded_persist(_knn_truth(spark, sf_dir, nbr_anti=tomb))
    nt = tomb.agg(F.count("*").cast("long").alias("n_tombstones"))
    ix = _gs_index(spark, sf_dir, vecs=vecs)
    compacted = _gs_compacted_graph(graph, vecs, tomb, bcast=ix.small)
    legs = []
    for kind, visited, cut_tomb in (
        ("tombstone_waypoints", _gs_search(ix), True),
        (
            "compacted",
            _gs_visited(
                spark,
                sf_dir,
                vecs=vecs,
                graph=compacted,
                cand_filter=(tomb, "left_anti"),
            ),
            False,
        ),
    ):
        cut = visited
        if cut_tomb:
            cut = cut.join(
                F.broadcast(tomb.select(F.col("vec_id").alias("nbr"))),
                "nbr",
                "left_anti",
            )
        approx = bounded_persist(_node_topk(cut).select("node", "nbr"))
        nr = approx.agg(F.count("*").cast("long").alias("n_results"))
        legs.append(
            _truth_recall_agg(
                truth, approx, lead=(F.lit(kind).alias("variant"),)
            )
            .crossJoin(F.broadcast(nt))
            .crossJoin(F.broadcast(nr))
            .select(
                "variant",
                "n_tombstones",
                "n_true",
                "n_hit",
                "recall",
                "n_results",
            )
        )
    return legs[0].unionAll(legs[1])


# --------------------------------------------------------------------------
# Deletion-fraction curve (round 12) — the COMPACTION-THRESHOLD table,
# the deletion twin of the beam-budget curve: serve-through-tombstones
# recall as the deleted fraction grows (nested hash-mixed sets at
# 10/20/40%), all cuts from ONE shared traversal. A serving tier reads
# this to decide when routing-through-tombstones has degraded enough to
# pay for a compaction; the n_results column shows result starvation
# (queries whose visited survivors run short of K) arriving before
# recall collapse.
# --------------------------------------------------------------------------
GS_DEL_CURVE_PCTS = (10, 20, 40)


def _gs_del_mix100_sql() -> str:
    return f"(vec_id * {KNN_CAP_MIX}) % {KNN_CAP_MOD} % 100"


def _gs_del_curve_oracle() -> str:
    mix = _gs_del_mix100_sql()
    ctes = ""
    legs = []
    for pct in GS_DEL_CURVE_PCTS:
        ctes += f""",
    gdcsv{pct} AS (SELECT vec_id FROM knnv WHERE {mix} >= {pct}),
    gdctruth{pct} AS (
      SELECT node, nbr FROM (
        SELECT q.vec_id AS node, c.vec_id AS nbr,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY ROUND(list_cosine_similarity(q.e, c.e), 6) DESC,
                          c.vec_id) AS rk
        FROM knnv q
        JOIN gdcsv{pct} s ON s.vec_id <> q.vec_id
        JOIN knnv c ON c.vec_id = s.vec_id
        WHERE q.vec_id < {KNN_EVAL_N}
      ) WHERE rk <= {KNN_K}
    )"""
        legs.append(
            f"""SELECT CAST({pct} AS BIGINT) AS frac_pct,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM knnv
            WHERE {mix} < {pct}) AS n_tombstones,
           CAST((SELECT COUNT(*) FROM gdctruth{pct}) AS BIGINT) AS n_true,
           CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_hit,
           ROUND(COALESCE(SUM(hit), 0) * 1.0
                 / (SELECT COUNT(*) FROM gdctruth{pct}), 4) AS recall,
           CAST(COUNT(a.nbr) AS BIGINT) AS n_results
    FROM (
      SELECT a.nbr,
             CASE WHEN t.nbr IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM (
        SELECT node, nbr FROM (
          SELECT v.node, v.nbr,
                 ROW_NUMBER() OVER (PARTITION BY v.node
                                    ORDER BY v.cos6 DESC, v.nbr) AS rk
          FROM gdcv{GS_ROUNDS} v
          JOIN gdcsv{pct} s ON s.vec_id = v.nbr
        ) WHERE rk <= {KNN_K}
      ) a
      LEFT JOIN gdctruth{pct} t ON t.node = a.node AND t.nbr = a.nbr
    ) a"""
        )
    return f"""
    WITH {_knn_oracle_ctes()}{_gs_oracle_ctes(tag="gdc")}{ctes}
    {" UNION ALL ".join(legs)}
    """


@query("ann_graph_delete_fraction_curve", oracle=_gs_del_curve_oracle())
def ann_graph_delete_fraction_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(frac_pct, n_tombstones, n_true, n_hit, recall, n_results):
    tombstone-waypoint serving quality at 10/20/40% deleted (nested
    hash-mixed sets), every cut from one shared traversal — the table
    that picks the compaction threshold.

    NOTE (round-12 advisor): the curve's tombstone tiers are
    ``mix % 100 < pct`` (nested by construction, so the three rows are
    mutually comparable), which at 10% is a DIFFERENT hash-mixed set
    from ann_graph_delete_serve/_recall's ``mix % GS_DEL_MOD ==
    GS_DEL_RES`` — the curve prices the recall-vs-fraction SLOPE, the
    headline pair prices one committed operating point; their absolute
    recalls are not directly comparable row-to-row."""
    vecs = _knn_vecs(spark, sf_dir)
    visited = _gs_visited(spark, sf_dir, vecs=vecs)
    mix100 = (
        F.pmod(F.col("vec_id") * F.lit(KNN_CAP_MIX), F.lit(KNN_CAP_MOD))
        % 100
    )
    # ONE scored eval x corpus frame feeds all three truths (the nested
    # sets differ only in the survivor filter, applied to the scored
    # frame before each top-K window) — and since round 13 that frame is
    # the materialized truth snapshot, so the cosine pass isn't re-paid
    # at all: each truth is a filter + re-rank over the scan.
    scored = bounded_persist(
        _knn_truth_scored(spark, sf_dir)
        .where(F.col("node") < KNN_EVAL_N)
        .withColumn(
            "m100",
            F.pmod(F.col("nbr") * F.lit(KNN_CAP_MIX), F.lit(KNN_CAP_MOD))
            % 100,
        )
    )
    legs = []
    for pct in GS_DEL_CURVE_PCTS:
        tomb = bounded_persist(
            vecs.select("vec_id").where(mix100 < pct)
        )
        truth = _node_topk(scored.where(F.col("m100") >= pct)).select(
            "node", "nbr"
        )
        live = visited.join(
            F.broadcast(tomb.select(F.col("vec_id").alias("nbr"))),
            "nbr",
            "left_anti",
        )
        approx = bounded_persist(_node_topk(live).select("node", "nbr"))
        nt = tomb.agg(F.count("*").cast("long").alias("n_tombstones"))
        nr = approx.agg(F.count("*").cast("long").alias("n_results"))
        legs.append(
            _truth_recall_agg(
                truth,
                approx,
                lead=(F.lit(pct).cast("long").alias("frac_pct"),),
            )
            .crossJoin(F.broadcast(nt))
            .crossJoin(F.broadcast(nr))
            .select(
                "frac_pct",
                "n_tombstones",
                "n_true",
                "n_hit",
                "recall",
                "n_results",
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out


# --------------------------------------------------------------------------
# QUANTIZED traversal (round 12) — SQ-int8 scoring inside the beam loop
# with exact rerank of the final shortlist: the memory-bandwidth serving
# trade every production graph index ships (FAISS/HNSW-SQ shape — hop
# scoring reads 1/4 the vector bytes and runs integer SIMD; only the
# top-GS_RERANK survivors per query pay a full-precision cosine).
# Composes the existing pieces: the ann_sq_topk quantization (_quant /
# _int_dot, proven portable), the graph snapshot, and _gs_traverse with
# a swapped score callable. The recall row commits the quantized-vs-
# float gap at the SAME beam — what a serving tier reads before turning
# the trade on.
#
# Determinism: the int8 dot is exact int64 arithmetic; the rescale to
# quantized cosine is the same double expression both engines compute;
# ranking stays (score6 DESC, nbr). The BEAM therefore steers by
# quantized scores identically in both engines, and the exact rerank is
# the standard _knn_score/_knn_topk cut.
# --------------------------------------------------------------------------
GS_RERANK = 2 * KNN_K  # exact-rerank shortlist per query (overfetch 2x)

_GS_Q_SCORE_SQL = (
    "ROUND(CAST(list_sum(list_transform(range(1, len(a.qq) + 1),"
    " i -> a.qq[i] * c.qq[i])) AS DOUBLE)"
    " * a.qs * c.qs / (a.qn * c.qn), 6)"
)

_GS_Q_VECS_SQL = """knnvq AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(x * 127.0 / scale + 0.5) AS BIGINT)) AS qq,
             CAST(scale AS DOUBLE) AS qs,
             nrm AS qn
      FROM (
        SELECT vec_id, embedding,
               greatest(list_max(list_transform(embedding, x -> abs(x))),
                        1e-30) AS scale,
               greatest(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 1e-30)
                 AS nrm
        FROM embeddings
      )
    )"""


def _knn_vecs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, qq, qs, qn): the int8-range quantized corpus — the same
    per-vector max-abs quantization as ann_sq_topk (scale/norm guarded
    against all-zero vectors), keyed like _knn_vecs."""
    emb = load_table(spark, sf_dir, "embeddings")
    n_parts = partition_count(spark)
    scale = F.greatest(
        F.array_max(F.transform("embedding", lambda x: F.abs(x))),
        F.lit(1e-30),
    )
    nrm = F.greatest(l2_norm(as_double("embedding")), F.lit(1e-30))
    return bounded_persist(
        emb.repartition(n_parts, "vec_id").select(
            "vec_id",
            _quant(F.col("embedding"), scale).alias("qq"),
            scale.cast("double").alias("qs"),
            nrm.alias("qn"),
        )
    )


def _gs_q_score(
    pairs: DataFrame, vq: DataFrame, bcast: bool = False
) -> DataFrame:
    """(node, nbr) -> (node, nbr, cos6): QUANTIZED pair scoring — the
    int8 dot rescaled to approximate cosine, same join discipline as
    _knn_score (explicit repartition, shuffled-hash both sides; the
    quantized rows are 1/4 the float width, which is the point —
    ``bcast`` picks broadcast-hash below the corpus gate, guide §3.1)."""
    n_parts = partition_count(pairs.sparkSession)
    a = vq.select(
        F.col("vec_id").alias("node"),
        F.col("qq").alias("qa"),
        F.col("qs").alias("sa"),
        F.col("qn").alias("na"),
    )
    b = vq.select(
        F.col("vec_id").alias("nbr"),
        F.col("qq").alias("qb"),
        F.col("qs").alias("sb"),
        F.col("qn").alias("nb"),
    )
    cos6 = F.round(
        _int_dot(F.col("qa"), F.col("qb")).cast("double")
        * F.col("sa")
        * F.col("sb")
        / (F.col("na") * F.col("nb")),
        6,
    ).alias("cos6")
    if bcast:
        return (
            pairs.join(F.broadcast(a), "node")
            .join(F.broadcast(b), "nbr")
            .select("node", "nbr", cos6)
        )
    return (
        pairs.repartition(n_parts, "node", "nbr")
        .join(a.hint("shuffle_hash"), "node")
        .join(b.hint("shuffle_hash"), "nbr")
        .select("node", "nbr", cos6)
    )


def _gs_quantized_oracle() -> str:
    legs = []
    for kind, approx_cte, vis_cte in (
        ("float_exact", "gqftop", f"gsv{GS_ROUNDS}"),
        ("sq_int8_rerank", "gqqtop", f"gqv{GS_ROUNDS}"),
    ):
        legs.append(
            f"""SELECT '{kind}' AS variant,
           CAST({KNN_K} AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(SUM(hit) AS BIGINT) AS n_hit,
           ROUND(SUM(hit) * 1.0 / COUNT(*), 4) AS recall,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {vis_cte}) AS n_scored
    FROM (
      SELECT CASE WHEN a.nbr IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM gstruth t
      LEFT JOIN {approx_cte} a ON t.node = a.node AND t.nbr = a.nbr
    )"""
        )
    return f"""
    WITH {_knn_oracle_ctes()},
    {_GS_Q_VECS_SQL},
    gqund AS MATERIALIZED (
{_gs_und_sql(f"b{KNN_ITERS}")}
    ){_gs_oracle_ctes(tag="gs", und="gqund")}{
        _gs_oracle_ctes(
            tag="gq", und="gqund", vtab="knnvq", score=_GS_Q_SCORE_SQL
        )},
    gstruth AS ({_KNN_TRUTH_SQL}),
    gqftop AS (
      SELECT node, nbr FROM (
        SELECT node, nbr,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY cos6 DESC, nbr) AS rk
        FROM gsv{GS_ROUNDS}
      ) WHERE rk <= {KNN_K}
    ),
    gqshort AS (
      SELECT node, nbr FROM (
        SELECT node, nbr,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY cos6 DESC, nbr) AS rk
        FROM gqv{GS_ROUNDS}
      ) WHERE rk <= {GS_RERANK}
    ),
    gqqtop AS (
      SELECT node, nbr FROM (
        SELECT s.node, s.nbr,
               ROW_NUMBER() OVER (
                 PARTITION BY s.node
                 ORDER BY ROUND(list_cosine_similarity(a.e, c.e), 6) DESC,
                          s.nbr) AS rk
        FROM gqshort s JOIN knnv a ON a.vec_id = s.node
                       JOIN knnv c ON c.vec_id = s.nbr
      ) WHERE rk <= {KNN_K}
    )
    {" UNION ALL ".join(legs)}
    """


@query("ann_graph_search_quantized_recall", oracle=_gs_quantized_oracle())
def ann_graph_search_quantized_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(variant, k, n_true, n_hit, recall, n_scored): the same GS_BEAM
    traversal steered by exact-float vs SQ-int8 scores (int8 leg exact-
    reranks its top-GS_RERANK before the cut) — the committed memory-
    bandwidth trade for graph serving."""
    vq = _knn_vecs_q(spark, sf_dir)
    ix = _gs_index(spark, sf_dir)
    truth = bounded_persist(_knn_truth(spark, sf_dir))
    vis_f = _gs_search(ix)
    vis_q = _gs_search(
        ix, score=lambda p, bcast: _gs_q_score(p, vq, bcast=bcast)
    )
    short = _knn_topk(vis_q, k=GS_RERANK, parts=ix.parts).select("node", "nbr")
    approx_q = _knn_topk(
        _knn_score(short, ix.vecs, bcast=ix.small), parts=ix.parts
    ).select("node", "nbr")
    approx_f = _knn_topk(vis_f, parts=ix.parts).select("node", "nbr")
    legs = []
    for kind, approx, vis in (
        ("float_exact", approx_f, vis_f),
        ("sq_int8_rerank", approx_q, vis_q),
    ):
        ns = vis.agg(F.count("*").cast("long").alias("n_scored"))
        legs.append(
            _truth_recall_agg(
                truth,
                approx,
                lead=(
                    F.lit(kind).alias("variant"),
                    F.lit(KNN_K).cast("long").alias("k"),
                ),
            ).crossJoin(F.broadcast(ns))
        )
    return legs[0].unionAll(legs[1])


# --------------------------------------------------------------------------
# SHARDED index serving (round 13) — the distribution design for the index
# itself, committed as code instead of prose: at 100 TB the index shards
# (the reference's own execution model is a PARTITIONED KV store with
# per-partition reducers, mapreduce.h:35-36, mapreduce.c:259-285), queries
# fan out to every shard, each shard runs its own bounded beam over its
# own graph, and a cross-shard top-K merge produces the answer.
#
# Shard function: vec_id % S (deterministic, SQL-replayable). Build: ONE
# standard NN-Descent pass with the COMPOSITE bucket id (bucket * S +
# shard) — composite buckets confine seeding within a shard, and the
# neighbor-of-neighbor closure preserves the shard of every edge, so the
# one pass yields S independent per-shard graphs (pinned by
# tests/test_knn_graph.py::test_sharded_build_equals_independent_shard_build,
# which rebuilds one shard standalone and gets identical edges). LSH
# config (plane count) stays GLOBAL so one query bucketing serves every
# shard. Serving: entry joins the query's BASE bucket against candidates
# capped PER SHARD (the fan-out: ~S x entry candidates), the frontier
# window partitions by (node, shard-of-nbr) — a per-shard beam per query
# — and the final KNN_K cut merges across shards. S=1 is the unsharded
# path by construction (composite == base, per-shard beam == global
# beam), which is the sharded/unsharded value check.
#
# The recall/cost table (recall + n_scored vs S) is what a deployment
# reads to pick its shard count: per-shard graphs lose cross-shard edges
# (recall pressure) but buy per-shard entry redundancy (n_scored cost).
# --------------------------------------------------------------------------
GS_SHARD_COUNTS = (1, 2, 4)


def _gs_sharded_visited(
    spark: SparkSession, sf_dir: str, s_count: int
) -> DataFrame:
    """(node, nbr, cos6): every pair any shard's beam scored, after
    GS_ROUNDS hops with a per-(query, shard) frontier. ``s_count == 1``
    IS the committed unsharded serving path. Entry fan-out: the query's
    BASE bucket matches every shard's capped members of that bucket (the
    composite id carries the shard, so the cap is per-shard by
    construction — each shard admits its own KNN_BUCKET_CAP members per
    bucket)."""
    if s_count == 1:
        return _gs_visited(spark, sf_dir)
    ix = _gs_index(
        spark,
        sf_dir,
        variant=f"sharded{s_count}",
        n_queries=KNN_EVAL_N * s_count,
    )
    return _gs_search(
        ix,
        on=("tbl", F.floor(F.col("bucket") / s_count).alias("base")),
        beam_by=F.pmod(F.col("nbr"), F.lit(s_count)),
    )


def _gs_sharded_oracle() -> str:
    parts = ""
    legs = []
    for s in GS_SHARD_COUNTS:
        tag = f"s{s}t"
        if s == 1:
            parts += _gs_oracle_ctes(tag=tag)
        else:
            parts += (
                ",\n    "
                + _knn_oracle_ctes_ns(f"s{s}", shard_mod=s).lstrip()
            )
            parts += _gs_oracle_ctes(
                tag=tag,
                edges=f"s{s}b{KNN_ITERS}",
                cand=f"s{s}knnlshc",
                beam_part=f"node, nbr % {s}",
            )
        legs.append(
            f"""SELECT CAST({s} AS BIGINT) AS n_shards,
           CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(SUM(hit) AS BIGINT) AS n_hit,
           ROUND(SUM(hit) * 1.0 / COUNT(*), 4) AS recall,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {tag}v{GS_ROUNDS})
             AS n_scored
    FROM (
      SELECT CASE WHEN a.nbr IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM gstruth t
      LEFT JOIN (
        SELECT node, nbr FROM (
          SELECT node, nbr,
                 ROW_NUMBER() OVER (PARTITION BY node
                                    ORDER BY cos6 DESC, nbr) AS rk
          FROM {tag}v{GS_ROUNDS}
        ) WHERE rk <= {KNN_K}
      ) a ON t.node = a.node AND t.nbr = a.nbr
    )"""
        )
    return f"""
    WITH {_knn_oracle_ctes()}{parts},
    gstruth AS ({_KNN_TRUTH_SQL})
    {" UNION ALL ".join(legs)}
    """


GS_SHARD_SERVE = 4  # the committed shard count for the serving exhibit


def _gs_sharded_topk_oracle() -> str:
    s = GS_SHARD_SERVE
    return f"""
    WITH {_knn_oracle_ctes()},
    {_knn_oracle_ctes_ns(f"s{s}", shard_mod=s).lstrip()}{_gs_oracle_ctes(
        tag=f"s{s}t",
        edges=f"s{s}b{KNN_ITERS}",
        cand=f"s{s}knnlshc",
        beam_part=f"node, nbr % {s}",
    )}
    SELECT node AS q_id, CAST(rk AS BIGINT) AS rk, nbr AS c_id,
           cos6 + 0.0 AS cosine
    FROM (
      SELECT node, nbr, cos6,
             ROW_NUMBER() OVER (PARTITION BY node
                                ORDER BY cos6 DESC, nbr) AS rk
      FROM s{s}tv{GS_ROUNDS}
    )
    WHERE rk <= {KNN_K}
    """


@query("ann_graph_search_sharded_topk", oracle=_gs_sharded_topk_oracle())
def ann_graph_search_sharded_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(q_id, rk, c_id, cosine): top-K per eval query served by the
    GS_SHARD_SERVE-way sharded index — entry fan-out to every shard's
    capped bucket members, a per-(query, shard) beam, and the
    cross-shard merge at the final cut. The EXACT merged ranking crosses
    the driver hash (the recall table checks membership; this pins the
    merge order and scores row-by-row)."""
    visited = _gs_sharded_visited(spark, sf_dir, GS_SHARD_SERVE)
    return _gs_serve(visited)


@query("ann_graph_search_sharded_recall", oracle=_gs_sharded_oracle())
def ann_graph_search_sharded_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(n_shards, n_true, n_hit, recall, n_scored): serving quality and
    scored-candidate cost of per-shard-graph serving at each shard
    count, against the same brute truth — the table a deployment reads
    to pick S. The S=1 row is the committed unsharded path (the
    sharded/unsharded value check); S>1 rows pay entry fan-out
    (n_scored grows) and lose cross-shard edges (recall pressure)."""
    truth = bounded_persist(_knn_truth(spark, sf_dir))
    legs = []
    for s in GS_SHARD_COUNTS:
        visited = _gs_sharded_visited(spark, sf_dir, s)
        approx = _knn_topk(visited).select("node", "nbr")
        ns = visited.agg(F.count("*").cast("long").alias("n_scored"))
        legs.append(
            _truth_recall_agg(
                truth,
                approx,
                lead=(F.lit(s).cast("long").alias("n_shards"),),
            ).crossJoin(F.broadcast(ns))
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out


def _gs_routed_visited(
    spark: SparkSession, sf_dir: str, s_count: int
) -> DataFrame:
    """(node, nbr, cos6): every pair scored when a query is ROUTED to its
    home shard only (`vec_id % s_count`) — entry joins the query's base
    bucket against that ONE shard's capped members (no fan-out), and the
    traversal stays in-shard automatically because every graph edge is
    in-shard, so a single per-query beam IS a home-shard beam. The cheap
    end of the sharded-serving cost spectrum: ~1/S the entry candidates
    and 1/S the beam budget of the fan-out path."""
    ix = _gs_index(spark, sf_dir, variant=f"sharded{s_count}")
    return _gs_search(
        ix,
        on=(
            "tbl",
            F.floor(F.col("bucket") / s_count).alias("base"),
            F.pmod(F.col("vec_id"), F.lit(s_count)).alias("shard"),
        ),
    )


def _gs_routed_oracle() -> str:
    s = GS_SHARD_SERVE
    parts = (
        ",\n    " + _knn_oracle_ctes_ns(f"s{s}", shard_mod=s).lstrip()
    )
    parts += _gs_oracle_ctes(
        tag=f"rf{s}t",
        edges=f"s{s}b{KNN_ITERS}",
        cand=f"s{s}knnlshc",
        beam_part=f"node, nbr % {s}",
    )
    parts += _gs_oracle_ctes(
        tag=f"rt{s}t",
        edges=f"s{s}b{KNN_ITERS}",
        cand=f"s{s}knnlshc",
        und=f"rf{s}tund",
        entry_where=f" AND c.vec_id % {s} = q.vec_id % {s}",
    )
    legs = []
    for mode, tag in (("fanout", f"rf{s}t"), ("routed", f"rt{s}t")):
        legs.append(
            f"""SELECT '{mode}' AS serve_mode,
           CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(SUM(hit) AS BIGINT) AS n_hit,
           ROUND(SUM(hit) * 1.0 / COUNT(*), 4) AS recall,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {tag}v{GS_ROUNDS})
             AS n_scored
    FROM (
      SELECT CASE WHEN a.nbr IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM gstruth t
      LEFT JOIN (
        SELECT node, nbr FROM (
          SELECT node, nbr,
                 ROW_NUMBER() OVER (PARTITION BY node
                                    ORDER BY cos6 DESC, nbr) AS rk
          FROM {tag}v{GS_ROUNDS}
        ) WHERE rk <= {KNN_K}
      ) a ON t.node = a.node AND t.nbr = a.nbr
    )"""
        )
    return f"""
    WITH {_knn_oracle_ctes()}{parts},
    gstruth AS ({_KNN_TRUTH_SQL})
    {" UNION ALL ".join(legs)}
    """


@query("ann_graph_search_routed_recall", oracle=_gs_routed_oracle())
def ann_graph_search_routed_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(serve_mode, n_true, n_hit, recall, n_scored): routing a query to
    its HOME shard only (vec_id % S — ~1/S the scored candidates and 1/S
    the beam budget) vs the committed all-shard fan-out, against the same
    brute truth. The committed finding: under a HASH shard key the true
    neighbors of a query are spread uniformly across shards, so routed
    recall collapses toward the in-shard fraction of the truth while
    fan-out holds — the table that says routing requires a SEMANTIC
    shard key (locality), and hash-sharded indexes must fan out."""
    truth = bounded_persist(_knn_truth(spark, sf_dir))
    legs = []
    for mode, visited in (
        ("fanout", _gs_sharded_visited(spark, sf_dir, GS_SHARD_SERVE)),
        ("routed", _gs_routed_visited(spark, sf_dir, GS_SHARD_SERVE)),
    ):
        approx = _knn_topk(visited).select("node", "nbr")
        ns = visited.agg(F.count("*").cast("long").alias("n_scored"))
        legs.append(
            _truth_recall_agg(
                truth,
                approx,
                lead=(F.lit(mode).alias("serve_mode"),),
            ).crossJoin(F.broadcast(ns))
        )
    return legs[0].unionAll(legs[1])


# --------------------------------------------------------------------------
# SEMANTIC (cell-) sharded serving — the positive counterpart to the
# hash-routed collapse above: shard by kmeans cell (locality!) and route
# each query to its P nearest cells by centroid distance, IVF-style. One
# standard build pass over composite (bucket * KMEANS_K + cell) ids
# yields per-CELL graphs (the same in-shard closure); the routing
# geometry (cell map + centroids) ships inside the snapshot. P is the
# nprobe knob: the recall-vs-P table is what a deployment reads to pick
# how many shards a query touches — the 100 TB answer to "must every
# query hit every node?" is NO, if the shard key is semantic.
# --------------------------------------------------------------------------
GS_CELL_PROBES = (1, 2, 4)


def _gs_cell_probe(
    spark: SparkSession, sf_dir: str, p: int, vecs: DataFrame
) -> DataFrame:
    """(node, cell): each eval query's ``p`` nearest cells by squared L2
    to the snapshot's stored centroids — EXACTLY the assignment
    geometry (`_knn_cells`' 6dp rounding, d-then-cid tie-break), so
    p=1 is the query's own cell. ``vecs`` are the index state's vectors."""
    d = _knn_index(spark, sf_dir, variant="cellrouted")
    cents_long = spark.read.parquet(os.path.join(d, "cents"))
    q = vecs.where(F.col("vec_id") < KNN_EVAL_N).select(
        F.col("vec_id").alias("node"), "e"
    )
    cb = codebook_row(cents_long, ["cid"], "cval", "c", "cb")
    dc = (
        q.crossJoin(F.broadcast(cb))
        .select(
            "node",
            F.explode(centroid_dists(F.col("e"), F.col("cb"), "cid")).alias("dc"),
        )
        .select("node", F.col("dc.d").alias("d"), F.col("dc.cid").alias("cid"))
    )
    return top_k(dc, "node", ["d", "cid"], p, rank="pr").select(
        "node", F.col("cid").alias("cell")
    )


def _gs_cell_routed_visited(
    spark: SparkSession, sf_dir: str, p: int, ix: _GsIndex
) -> DataFrame:
    """(node, nbr, cos6): every pair scored when each query probes its
    ``p`` nearest CELLS — entry joins the query's base bucket against
    the probed cells' capped members only; hops stay inside probed
    cells because every edge is in-cell. ONE per-query beam regardless
    of ``p`` (the legs differ only in entry coverage, so the recall-vs-P
    table isolates the routing decision from the beam budget). ``ix``
    is the `cellrouted` index state, built once per exhibit."""
    return _gs_search(
        ix,
        on=("tbl", F.floor(F.col("bucket") / KMEANS_K).alias("base")),
        probe=(
            _gs_cell_probe(spark, sf_dir, p, ix.vecs),
            F.pmod(F.col("bucket"), F.lit(KMEANS_K)).alias("cell"),
        ),
    )


def _gs_cell_routed_oracle() -> str:
    cm = f"""
    cmv AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    ), cmc0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, vec_id
      FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {KMEANS_K})
    ), cmc0v AS (
      SELECT cmc0.cid, cmv.pos, cmv.val AS cval
      FROM cmc0 JOIN cmv USING (vec_id)
    ), cmd1 AS (
      SELECT v.vec_id, c.cid, ROUND(SUM((v.val - c.cval) ^ 2), 6) AS d
      FROM cmv v JOIN cmc0v c USING (pos) GROUP BY v.vec_id, c.cid
    ), cma1 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM cmd1) WHERE rn = 1
    ), cmc1 AS (
      SELECT cma1.cid, v.pos, ROUND(AVG(v.val), 6) AS cval
      FROM cma1 JOIN cmv v USING (vec_id) GROUP BY cma1.cid, v.pos
    ), cmd2 AS (
      SELECT v.vec_id, c.cid, ROUND(SUM((v.val - c.cval) ^ 2), 6) AS d
      FROM cmv v JOIN cmc1 c USING (pos) GROUP BY v.vec_id, c.cid
    ), cellmap AS MATERIALIZED (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM cmd2) WHERE rn = 1
    ), cmqp AS MATERIALIZED (
      SELECT vec_id AS node, cid AS cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS pr
      FROM cmd2 WHERE vec_id < {KNN_EVAL_N}
    )"""
    parts = cm + ",\n    " + _knn_oracle_ctes_ns(
        "cr", shard_map="cellmap"
    ).lstrip()
    legs = []
    for i, p in enumerate(GS_CELL_PROBES):
        tag = f"cp{p}t"
        parts += _gs_oracle_ctes(
            tag=tag,
            edges=f"crb{KNN_ITERS}",
            cand="crknnlshc",
            und=None if i == 0 else f"cp{GS_CELL_PROBES[0]}tund",
            entry_where=(
                f" AND EXISTS (SELECT 1 FROM cmqp pp"
                f" WHERE pp.node = q.vec_id AND pp.cell = c.shard"
                f" AND pp.pr <= {p})"
            ),
        )
        legs.append(
            f"""SELECT CAST({p} AS BIGINT) AS probes,
           CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(SUM(hit) AS BIGINT) AS n_hit,
           ROUND(SUM(hit) * 1.0 / COUNT(*), 4) AS recall,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {tag}v{GS_ROUNDS})
             AS n_scored
    FROM (
      SELECT CASE WHEN a.nbr IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM gstruth t
      LEFT JOIN (
        SELECT node, nbr FROM (
          SELECT node, nbr,
                 ROW_NUMBER() OVER (PARTITION BY node
                                    ORDER BY cos6 DESC, nbr) AS rk
          FROM {tag}v{GS_ROUNDS}
        ) WHERE rk <= {KNN_K}
      ) a ON t.node = a.node AND t.nbr = a.nbr
    )"""
        )
    return f"""
    WITH {_knn_oracle_ctes()},{parts},
    gstruth AS ({_KNN_TRUTH_SQL})
    {" UNION ALL ".join(legs)}
    """


@query("ann_graph_search_cell_routed_recall", oracle=_gs_cell_routed_oracle())
def ann_graph_search_cell_routed_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(probes, n_true, n_hit, recall, n_scored): serving quality when
    each query probes only its P nearest SEMANTIC shards (kmeans cells,
    P = 1/2/{KMEANS_K}), one fixed beam, against the same brute truth —
    the IVF-style nprobe table for graph serving. Read beside
    ann_graph_search_routed_recall: a HASH shard key collapses routed
    recall to ~1/S, a SEMANTIC key keeps most of it at P=1 because near
    neighbors co-locate in cells — the pair is the committed case that
    at 100 TB a query need not touch every index shard, provided the
    shard key carries locality."""
    ix = _gs_index(spark, sf_dir, variant="cellrouted")
    truth = bounded_persist(_knn_truth(spark, sf_dir))
    legs = []
    for p in GS_CELL_PROBES:
        visited = _gs_cell_routed_visited(spark, sf_dir, p, ix)
        approx = _knn_topk(visited).select("node", "nbr")
        ns = visited.agg(F.count("*").cast("long").alias("n_scored"))
        legs.append(
            _truth_recall_agg(
                truth,
                approx,
                lead=(F.lit(p).cast("long").alias("probes"),),
            ).crossJoin(F.broadcast(ns))
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out


# --------------------------------------------------------------------------
# Index MANIFEST (round 12) — the observability read of the physical
# snapshot: row counts of every persisted artifact plus the plane count
# the index was built at, value-checked against a from-scratch oracle
# rebuild. This is the first thing an operator checks after a build
# cadence runs (did every artifact land, at the expected sizes?) and a
# standing proof that the snapshot's contents equal a fresh build.
# --------------------------------------------------------------------------
def _knn_manifest_oracle() -> str:
    base_where = f"WHERE vec_id % {KNN_BATCH_MOD} <> {KNN_BATCH_RES}"
    full_rounds = "".join(
        f"""UNION ALL
    SELECT 'full/round{r}', CAST(COUNT(*) AS BIGINT) FROM b{r}
    """
        for r in range(KNN_ITERS + 1)
    )
    ib_rounds = "".join(
        f"""UNION ALL
    SELECT 'ingest_base/round{r}', CAST(COUNT(*) AS BIGINT) FROM ibb{r}
    """
        for r in range(KNN_ITERS + 1)
    )
    return f"""
    WITH {_knn_oracle_ctes()},
    {_knn_oracle_ctes_ns("ib", where=base_where).lstrip().lstrip(",")}
    SELECT 'full/vectors' AS artifact, CAST(COUNT(*) AS BIGINT) AS n
    FROM knnv
    UNION ALL
    SELECT 'full/planes', CAST(p AS BIGINT) FROM knnp
    UNION ALL
    SELECT 'full/buckets', CAST(COUNT(*) AS BIGINT) FROM knnlshb
    {full_rounds}
    UNION ALL
    SELECT 'ingest_base/vectors', CAST(COUNT(*) AS BIGINT) FROM ibknnv
    UNION ALL
    SELECT 'ingest_base/planes', CAST(p AS BIGINT) FROM ibknnp
    UNION ALL
    -- the variant's bucket frame covers the FULL corpus at the base
    -- plane count: one row per (vector, table) regardless of p
    SELECT 'ingest_base/buckets',
           CAST((SELECT COUNT(*) FROM embeddings) * {N_TABLES} AS BIGINT)
    {ib_rounds}
    UNION ALL
    -- truth snapshot (round 13): every eval node pairs with the whole
    -- corpus minus itself; every OOV query pairs with the whole corpus
    SELECT 'truth/eval_scored',
           CAST((SELECT COUNT(*) FROM knnv
                 WHERE vec_id < {KNN_EVAL_N}
                    OR (vec_id % {KNN_BATCH_MOD} = {KNN_BATCH_RES}
                        AND vec_id < {KNN_INGEST_EVAL_MAX}))
                * ((SELECT COUNT(*) FROM knnv) - 1) AS BIGINT)
    UNION ALL
    SELECT 'truth/oov_scored',
           CAST({GS_OOV_N} * (SELECT COUNT(*) FROM knnv) AS BIGINT)
    """


@query("knn_index_manifest", oracle=_knn_manifest_oracle())
def knn_index_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(artifact, n): sizes of BOTH snapshot variants' parquet artifacts
    (bucket rows, per-round edge counts) plus corpus vector counts, the
    adaptive plane count each variant was built at, and (round 13) the
    truth snapshot's two scored frames — every value read from the
    SNAPSHOTS while the oracle recomputes them from scratch, so a stale
    or truncated snapshot of any artifact fails the value hash. (The
    truth frames' VALUES are independently value-checked by every recall
    query's oracle, which recomputes its truth from scratch — the
    manifest pins existence and size.)"""
    vecs = _knn_vecs(spark, sf_dir)
    base_n = vecs.where(
        F.col("vec_id") % KNN_BATCH_MOD != KNN_BATCH_RES
    )
    legs = []
    for variant, vec_frame in (("full", vecs), ("ingest_base", base_n)):
        d = _knn_index(spark, sf_dir, variant=variant)
        legs.append(
            vec_frame.agg(
                F.lit(f"{variant}/vectors").alias("artifact"),
                F.count("*").cast("long").alias("n"),
            )
        )
        legs.append(
            spark.read.parquet(os.path.join(d, "prow")).select(
                F.lit(f"{variant}/planes").alias("artifact"),
                F.col("p").cast("long").alias("n"),
            )
        )
        legs.append(
            spark.read.parquet(os.path.join(d, "buckets")).agg(
                F.lit(f"{variant}/buckets").alias("artifact"),
                F.count("*").cast("long").alias("n"),
            )
        )
        for r in range(KNN_ITERS + 1):
            legs.append(
                spark.read.parquet(os.path.join(d, f"round{r}")).agg(
                    F.lit(f"{variant}/round{r}").alias("artifact"),
                    F.count("*").cast("long").alias("n"),
                )
            )
    for name, frame in (
        ("truth/eval_scored", _knn_truth_scored(spark, sf_dir)),
        ("truth/oov_scored", _knn_oov_scored(spark, sf_dir)),
    ):
        legs.append(
            frame.agg(
                F.lit(name).alias("artifact"),
                F.count("*").cast("long").alias("n"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out


# --------------------------------------------------------------------------
# kNN-graph ANALYTICS (round 11) — two reads of the built graph that a
# pipeline owner wants before trusting it:
#
# - HUBNESS (Radovanovic et al. JMLR 2010): in high dimensions some
#   points appear in MANY kNN lists (hubs) while others appear in none
#   (antihubs) — a skewed in-degree histogram degrades both search
#   quality and any graph-derived dedup. The report is the full
#   in-degree histogram, antihubs included via the corpus left join;
#   out-degree is K by construction, so in-degree is the whole story.
#
# - SEMANTIC DEDUP FROM THE INDEX: edges above the embedding-dedup
#   cosine threshold ARE near-dup candidate pairs — the serving index
#   yields dedup candidates at zero extra build cost (the kNN-graph
#   route to SemDeDup-style semantic dedup). Clusters = connected
#   components over the thresholded edges (the dedup.py CC machinery,
#   min-label propagation, recursive-CTE oracle); the recall leg prices
#   what the K-bounded graph catches of the exact >= threshold pair set
#   on the bounded slice emb_neardup_pairs already oracles.
# --------------------------------------------------------------------------
@query(
    "knn_graph_hubness_report",
    oracle=f"""
    WITH {_knn_oracle_ctes()},
    indeg AS (
      SELECT v.vec_id,
             COALESCE(g.n, 0) AS in_degree
      FROM knnv v
      LEFT JOIN (
        SELECT nbr, CAST(COUNT(*) AS BIGINT) AS n
        FROM b{KNN_ITERS} GROUP BY nbr
      ) g ON g.nbr = v.vec_id
    )
    SELECT CAST(in_degree AS BIGINT) AS in_degree,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM indeg GROUP BY in_degree
    """,
)
def knn_graph_hubness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(in_degree, n_nodes): the kNN graph's in-degree histogram —
    antihubs are the in_degree=0 row, hubs the long tail. Out-degree is
    K everywhere, so this is the graph's full degree story."""
    vecs = _knn_vecs(spark, sf_dir)
    graph = _knn_graph_snap(spark, sf_dir)
    indeg = vecs.select("vec_id").join(
        graph.groupBy(F.col("nbr").alias("vec_id")).agg(
            F.count("*").cast("long").alias("in_degree")
        ),
        "vec_id",
        "left",
    ).select(F.coalesce(F.col("in_degree"), F.lit(0)).alias("in_degree"))
    return indeg.groupBy("in_degree").agg(
        F.count("*").cast("long").alias("n_nodes")
    )


@query(
    "knn_graph_semantic_clusters",
    # The kNN CTE chain must live in its OWN nested WITH scope inside a
    # derived table: putting it directly in a WITH RECURSIVE list
    # changes its results in DuckDB (measured: 6 of 62 thresholded
    # edges silently vanish at sf0.001 — the RECURSIVE modifier alters
    # how the windowed/MATERIALIZED chain is evaluated). The nested
    # scope evaluates the chain under plain WITH semantics and hands
    # the recursion a clean materialized edge list.
    oracle=f"""
    WITH RECURSIVE sedges AS MATERIALIZED (
      SELECT * FROM (
        WITH {_knn_oracle_ctes()}
        SELECT LEAST(node, nbr) AS doc_a, GREATEST(node, nbr) AS doc_b
        FROM b{KNN_ITERS}
        WHERE cos6 >= {EMB_DEDUP_THRESHOLD}
        GROUP BY 1, 2
      )
    ),
    snodes AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM sedges
        UNION ALL SELECT doc_b FROM sedges
      )
    ),
    bedges AS (
      SELECT doc_a AS src, doc_b AS dst FROM sedges
      UNION ALL SELECT doc_b, doc_a FROM sedges
    ),
    reach(doc_id, label) AS (
      SELECT doc_id, doc_id FROM snodes
      UNION
      SELECT e.dst, r.label FROM reach r JOIN bedges e ON e.src = r.doc_id
    )
    SELECT doc_id, MIN(label) AS cluster_id
    FROM reach GROUP BY doc_id
    """,
)
def knn_graph_semantic_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(doc_id, cluster_id): connected components over the graph's
    >= EMB_DEDUP_THRESHOLD edges — semantic near-dup clusters read
    straight off the serving index, no extra candidate generation."""
    from parallel_mapreduce_spark.functions.dedup import (
        connected_components,
    )

    graph = _knn_graph_snap(spark, sf_dir)
    pairs = (
        graph.where(F.col("cos6") >= EMB_DEDUP_THRESHOLD)
        .select(
            F.least("node", "nbr").alias("doc_a"),
            F.greatest("node", "nbr").alias("doc_b"),
        )
        .distinct()
    )
    return connected_components(pairs)


@query(
    "knn_graph_neardup_recall",
    oracle=f"""
    WITH {_knn_oracle_ctes()},
    exactp AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM knnv a JOIN knnv b
        ON a.vec_id < b.vec_id AND b.vec_id < {EMB_DEDUP_MAX_ID}
      WHERE ROUND(list_cosine_similarity(a.e, b.e), 6)
              >= {EMB_DEDUP_THRESHOLD}
    ),
    graphp AS (
      SELECT LEAST(node, nbr) AS id_a, GREATEST(node, nbr) AS id_b
      FROM b{KNN_ITERS}
      WHERE cos6 >= {EMB_DEDUP_THRESHOLD}
      GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(SUM(CASE WHEN g.id_a IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_caught,
           ROUND(SUM(CASE WHEN g.id_a IS NOT NULL THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 4) AS recall
    FROM exactp
    LEFT JOIN graphp g ON g.id_a = exactp.id_a AND g.id_b = exactp.id_b
    """,
)
def knn_graph_neardup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_true, n_caught, recall): how much of the EXACT >= threshold
    pair set (on the emb_neardup_pairs id slice) the K-bounded graph
    carries as edges — the committed price of reading dedup candidates
    off the serving index instead of running a dedicated pair join."""
    vecs = _knn_vecs(spark, sf_dir)
    graph = _knn_graph_snap(spark, sf_dir)
    # exact leg: bounded slice, a < b, b < MAX_ID — the emb_neardup grain
    a = vecs.select(
        F.col("vec_id").alias("id_a"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = vecs.where(F.col("vec_id") < EMB_DEDUP_MAX_ID).select(
        F.col("vec_id").alias("id_b"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    exact = (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            cosine6("ea", "eb", "na", "nb").alias("cos6"),
        )
        .where(F.col("cos6") >= EMB_DEDUP_THRESHOLD)
        .select("id_a", "id_b")
    )
    gp = (
        graph.where(F.col("cos6") >= EMB_DEDUP_THRESHOLD)
        .select(
            F.least("node", "nbr").alias("id_a"),
            F.greatest("node", "nbr").alias("id_b"),
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    j = exact.join(gp, ["id_a", "id_b"], "left")
    hit = F.coalesce(F.col("hit"), F.lit(0))
    return j.agg(
        F.count("*").cast("long").alias("n_true"),
        F.sum(hit).cast("long").alias("n_caught"),
        F.round(F.sum(hit) * 1.0 / F.count("*"), 4).alias("recall"),
    )
