"""Diversity-based data SELECTION over the `embeddings` table.

LLM-pipeline operator family (SURVEY.md §2.3 extension surface): the
training-data sampling queries in trainprep.py pick rows by SOURCE
(stratified / weighted / temperature) — none of them look at the vectors.
This module adds the geometry-aware selection grain: k-center greedy
(farthest-point traversal), the classic 2-approximation to the k-center
objective (Gonzalez 1985, "Clustering to minimize the maximum intercluster
distance") and the standard coreset picker for diversity-maximizing
training-subset selection (used by active-learning and data-pruning
pipelines).

Algorithm: start from a fixed seed (the minimum vec_id); k-1 times, add the point
FARTHEST from the already-selected set (max over points of min squared-L2
distance to any selected center), then report the covering radius after
every pick — the k-center objective value, non-increasing in rank.

Spark-first shape and why it scales:
- the running state is ONE distributed frame (vec_id, e, md) holding each
  point's min distance to the selected set — updated per pick with
  ``least(md, dist(e, new_center))``, a NARROW map over the corpus
  (no shuffle, no N x k distance matrix ever materializes);
- each pick is one ``ORDER BY md DESC, vec_id LIMIT 1`` — Spark plans a
  distributed TakeOrdered (per-partition top-1 then a k-way driver merge),
  so the corpus never concentrates anywhere;
- the only driver-side data is the k picked rows themselves (one 64-dim
  vector each) — the same bounded per-iteration scalar hop the k-means /
  PageRank loops use; the hop is inherent to the algorithm (pick i+1
  depends on pick i — Gonzalez is sequential in k by definition);
- the corpus frame is persisted once; per-pick lineage is rebuilt from a
  LITERAL center array, so plans stay flat (no 5^k lineage nesting — see
  the NN-Descent checkpoint note in similarity.py for the failure mode).

Determinism (module convention, registry.py rules): squared-L2 distances
rounded to 6 dp before min/argmax, ties broken toward the lower vec_id;
the DuckDB oracle replays every pick with an unrolled CTE chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parallel_mapreduce_spark.functions.similarity import (
    as_double,
    corpus_parts,
)
from parallel_mapreduce_spark.registry import query
from parallel_mapreduce_spark.session import bounded_persist
from parallel_mapreduce_spark.sources import cut, load_table, register_views

KC_K = 12  # selected coreset size (k centers, seed included)


def _kc_oracle() -> str:
    """Unrolled k-step replay: md{i} = running min-distance frame after
    centers 0..i; p{i} = the argmax pick that becomes center i."""
    sql = """
    WITH v AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    ), seed AS (SELECT MIN(vec_id) AS sid FROM v),
    c0 AS (SELECT v.pos, v.val AS cval FROM v JOIN seed ON v.vec_id = seed.sid),
    md0 AS MATERIALIZED (
      SELECT v.vec_id, ROUND(SUM((v.val - c0.cval) ^ 2), 6) AS md
      FROM v JOIN c0 USING (pos) GROUP BY v.vec_id
    )"""
    for i in range(1, KC_K):
        p = i - 1
        sql += f""",
    p{i} AS (SELECT vec_id FROM md{p} ORDER BY md DESC, vec_id LIMIT 1),
    c{i} AS (SELECT v.pos, v.val AS cval FROM v JOIN p{i} USING (vec_id)),
    d{i} AS (SELECT v.vec_id, ROUND(SUM((v.val - c{i}.cval) ^ 2), 6) AS d
             FROM v JOIN c{i} USING (pos) GROUP BY v.vec_id),
    md{i} AS MATERIALIZED (
      SELECT md{p}.vec_id, LEAST(md{p}.md, d{i}.d) AS md
      FROM md{p} JOIN d{i} USING (vec_id))"""
    legs = [
        "SELECT CAST(0 AS BIGINT) AS sel_rank,"
        " CAST((SELECT sid FROM seed) AS BIGINT) AS center_id,"
        " (SELECT MAX(md) FROM md0) + 0.0 AS radius"
    ]
    for i in range(1, KC_K):
        legs.append(
            f"SELECT CAST({i} AS BIGINT), CAST((SELECT vec_id FROM p{i}) AS"
            f" BIGINT), (SELECT MAX(md) FROM md{i}) + 0.0"
        )
    return sql + "\n    " + "\n    UNION ALL\n    ".join(legs)


def _dist6_to(center_vec: list[float]):
    c = F.array(*[F.lit(float(x)) for x in center_vec])
    return F.round(
        F.aggregate(
            F.zip_with(F.col("e"), c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        ),
        6,
    )


@query("kcenter_coreset_select", headline=True, oracle=_kc_oracle())
def kcenter_coreset_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(sel_rank, center_id, radius): the Gonzalez farthest-point
    trajectory over the embedding corpus — which vectors a
    diversity-maximizing k-subset selects, in pick order, plus the
    k-center covering radius after each pick. radius is the max over the
    corpus of each point's min 6dp-rounded squared-L2 distance to the
    selected set; it is non-increasing in sel_rank (pinned in
    tests/test_selection.py)."""
    register_views(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    # Scale-adaptive parts (guide §2): each of the K sequential picks is
    # a TakeOrdered job over this frame — at the test corpus 32-task
    # waves were pure scheduling overhead (measured ~2.9s -> ~1.6s for
    # the 12-pick trajectory at sf0.1); a big corpus still spreads.
    n_parts = corpus_parts(spark, sf_dir)
    vecs = bounded_persist(
        emb.repartition(n_parts, "vec_id").select(
            "vec_id", as_double(F.col("embedding")).alias("e")
        )
    )
    # Seed at the MINIMUM vec_id rather than assuming id 0 exists — a
    # corpus without vec_id 0 crashed with an opaque TypeError on the
    # unchecked head() (round-11 advice fix; pipeline_diverse_sample
    # already seeded this way). No vec_id == 0 fast path: it would
    # mis-seed any corpus where 0 exists but is not the minimum (the
    # oracle seeds at MIN(vec_id) unconditionally), and the TakeOrdered
    # over the persisted narrow frame is milliseconds at any corpus
    # this query's sequential-k design is sane for.
    seed = vecs.orderBy("vec_id").select("vec_id", "e").head()
    if seed is None:
        raise ValueError("kcenter_coreset_select: empty embedding corpus")
    md = vecs.select("vec_id", "e", _dist6_to(seed["e"]).alias("md"))
    rows: list[tuple[int, int, float]] = []
    center_id = int(seed["vec_id"])
    for rank in range(KC_K):
        # One bounded hop per pick: the argmax row carries BOTH this
        # rank's covering radius (its md IS max(md)) and the next pick.
        top = md.orderBy(F.desc("md"), "vec_id").head()
        rows.append((rank, center_id, float(top["md"])))
        if rank == KC_K - 1:
            break
        center_id = int(top["vec_id"])
        md = md.select(
            "vec_id", "e", F.least(F.col("md"), _dist6_to(top["e"])).alias("md")
        )
        # Per-pick lineage cut: each pick's frame nests the previous
        # one's, and without the cut analysis plus the TakeOrdered head
        # grew from ~0.17s to ~0.8s per pick by pick 10 (a persist keeps
        # the LOGICAL plan, so it does not stop that growth).
        md = cut(md, sf_dir, "embeddings", eager=False)
    # Everything above ran eagerly, so release the corpus frame's cache
    # before returning: its plan is byte-identical to kmeans_lloyd_2iter's
    # input subplan, and a lingering cache entry would substitute an
    # InMemoryRelation into THAT query's plan (observed: the exchange
    # census read 21 instead of 17 for kmeans whenever this query had
    # run first in the session — cross-query cache pollution changes
    # plan shapes, not just speed). The md chain's cut frames are
    # kcenter-specific and match nothing else.
    vecs.unpersist()
    return spark.createDataFrame(
        rows, "sel_rank long, center_id long, radius double"
    )


# --------------------------------------------------------------------------
# Capstone composition (round 10, session 3): quality gate -> k-center
# diversity sample — the "pick k spread-out GOOD documents" pipeline
# (eval-set construction, few-shot pool selection, annotation budgeting).
# Structure mirrors pipeline_clean_corpus: each stage is a registered
# grain reused as-is (token-count gate from the text family; the Gonzalez
# trajectory above), composed without materialization between stages.
# The seed generalizes from "vec_id 0" to "lowest SURVIVING vec_id", and
# every pick is restricted to gate survivors, so the whole trajectory
# changes when the gate does — the oracle replays gate + picks end to
# end.
# --------------------------------------------------------------------------
PDS_MIN_TOKS = 40  # survivors: docs with >= 40 whitespace tokens (p50=56)
PDS_K = 8

_SQL_TOKS = "list_filter(string_split(text, ' '), x -> x <> '')"


def _pds_oracle() -> str:
    sql = f"""
    WITH surv AS (
      SELECT doc_id, source,
             CAST(len({_SQL_TOKS}) AS BIGINT) AS n_toks
      FROM documents
      WHERE len({_SQL_TOKS}) >= {PDS_MIN_TOKS}
    ), v AS (
      SELECT e.vec_id, generate_subscripts(e.embedding, 1) - 1 AS pos,
             CAST(unnest(e.embedding) AS DOUBLE) AS val
      FROM embeddings e JOIN surv s ON s.doc_id = e.vec_id
    ), seed AS (SELECT MIN(vec_id) AS sid FROM v),
    c0 AS (SELECT v.pos, v.val AS cval FROM v JOIN seed ON v.vec_id = seed.sid),
    md0 AS MATERIALIZED (
      SELECT v.vec_id, ROUND(SUM((v.val - c0.cval) ^ 2), 6) AS md
      FROM v JOIN c0 USING (pos) GROUP BY v.vec_id
    )"""
    for i in range(1, PDS_K):
        p = i - 1
        sql += f""",
    p{i} AS (SELECT vec_id FROM md{p} ORDER BY md DESC, vec_id LIMIT 1),
    c{i} AS (SELECT v.pos, v.val AS cval FROM v JOIN p{i} USING (vec_id)),
    d{i} AS (SELECT v.vec_id, ROUND(SUM((v.val - c{i}.cval) ^ 2), 6) AS d
             FROM v JOIN c{i} USING (pos) GROUP BY v.vec_id),
    md{i} AS MATERIALIZED (
      SELECT md{p}.vec_id, LEAST(md{p}.md, d{i}.d) AS md
      FROM md{p} JOIN d{i} USING (vec_id))"""
    legs = [
        "SELECT CAST(0 AS BIGINT) AS sel_rank,"
        " CAST((SELECT sid FROM seed) AS BIGINT) AS doc_id,"
        " (SELECT MAX(md) FROM md0) + 0.0 AS radius"
    ]
    for i in range(1, PDS_K):
        legs.append(
            f"SELECT CAST({i} AS BIGINT), CAST((SELECT vec_id FROM p{i}) AS"
            f" BIGINT), (SELECT MAX(md) FROM md{i}) + 0.0"
        )
    picks = "\n    UNION ALL\n    ".join(legs)
    return (
        sql
        + f""",
    picks AS ({picks})
    SELECT picks.sel_rank, picks.doc_id, surv.source, surv.n_toks,
           picks.radius
    FROM picks JOIN surv ON surv.doc_id = picks.doc_id"""
    )


@query("pipeline_diverse_sample", oracle=_pds_oracle())
def pipeline_diverse_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(sel_rank, doc_id, source, n_toks, radius): Gonzalez k-center over
    the embeddings of token-count-gate survivors — the diversity-sampled
    eval/few-shot pool, with the gate replayed inside the oracle."""
    register_views(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != F.lit(""))
    surv = docs.select(
        "doc_id", "source", F.size(toks).cast("long").alias("n_toks")
    ).where(F.col("n_toks") >= PDS_MIN_TOKS)
    emb = load_table(spark, sf_dir, "embeddings")
    n_parts = corpus_parts(spark, sf_dir)
    vecs = bounded_persist(
        emb.join(
            surv.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
        )
        .repartition(n_parts, "vec_id")
        .select("vec_id", as_double(F.col("embedding")).alias("e"))
    )
    seed = vecs.orderBy("vec_id").select("vec_id", "e").head()
    md = vecs.select("vec_id", "e", _dist6_to(seed["e"]).alias("md"))
    rows: list[tuple[int, int, float]] = []
    center_id = int(seed["vec_id"])
    for rank in range(PDS_K):
        top = md.orderBy(F.desc("md"), "vec_id").head()
        rows.append((rank, center_id, float(top["md"])))
        if rank == PDS_K - 1:
            break
        center_id = int(top["vec_id"])
        md = md.select(
            "vec_id", "e", F.least(F.col("md"), _dist6_to(top["e"])).alias("md")
        )
        md = cut(md, sf_dir, "embeddings", eager=False)
    vecs.unpersist()
    picks = spark.createDataFrame(
        rows, "sel_rank long, doc_id long, radius double"
    )
    return picks.join(F.broadcast(surv), "doc_id").select(
        "sel_rank", "doc_id", "source", "n_toks", "radius"
    )
