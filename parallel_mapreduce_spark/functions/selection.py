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

Spark-first shape and why it scales (one kernel, ``_gonzalez``):
- the running state is ONE distributed frame (vec_id, e, md) holding each
  point's min distance to the selected set, updated per pick by a NARROW
  ``least(md, dist(e, center))`` map (no N x k matrix ever materializes);
- each pick is one job, a distributed ``ORDER BY md DESC, vec_id LIMIT
  1`` (per-partition top-1, driver merge), over a corpus frame persisted
  once and partitioned from its bytes (``session.parallelism``);
- the driver holds only the k picked vectors; each returns to the plan as
  ONE parsed literal (``similarity.vector_sql``), not 64 py4j calls. The
  hop is inherent: Gonzalez is sequential in k by definition;
- per-pick lineage is cut (``sources.cut``), so plans stay flat.

Determinism (module convention, registry.py rules): squared-L2 distances
rounded to 6 dp before min/argmax, ties broken toward the lower vec_id;
the DuckDB oracle replays every pick with an unrolled CTE chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parallel_mapreduce_spark.functions.similarity import as_double, vector_sql
from parallel_mapreduce_spark.registry import query
from parallel_mapreduce_spark.session import bounded_persist, parallelism
from parallel_mapreduce_spark.sources import cut, load_table, table_bytes

KC_K = 12  # selected coreset size (k centers, seed included)


def _gonzalez_sql(k: int, id_col: str) -> tuple[str, str]:
    """DuckDB replay of ``_gonzalez`` over a CTE ``v`` (vec_id, pos, val):
    the unrolled k-step CTE chain that follows ``v`` (md{i} = running
    min-distance frame after centers 0..i; p{i} = the argmax pick that
    becomes center i) and the picks union (sel_rank, <id_col>, radius)."""
    sql = """, seed AS (SELECT MIN(vec_id) AS sid FROM v),
    c0 AS (SELECT v.pos, v.val AS cval FROM v JOIN seed ON v.vec_id = seed.sid),
    md0 AS MATERIALIZED (
      SELECT v.vec_id, ROUND(SUM((v.val - c0.cval) ^ 2), 6) AS md
      FROM v JOIN c0 USING (pos) GROUP BY v.vec_id
    )"""
    for i in range(1, k):
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
        f" CAST((SELECT sid FROM seed) AS BIGINT) AS {id_col},"
        " (SELECT MAX(md) FROM md0) + 0.0 AS radius"
    ]
    for i in range(1, k):
        legs.append(
            f"SELECT CAST({i} AS BIGINT), CAST((SELECT vec_id FROM p{i}) AS"
            f" BIGINT), (SELECT MAX(md) FROM md{i}) + 0.0"
        )
    return sql, "\n    UNION ALL\n    ".join(legs)


def _kc_oracle() -> str:
    ctes, picks = _gonzalez_sql(KC_K, "center_id")
    return f"""
    WITH v AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    ){ctes}
    {picks}"""


def _dist6_sql(center_vec: list[float]) -> str:
    """6dp-rounded squared-L2 distance from column ``e`` to one center."""
    return (
        f"round(aggregate(zip_with(e, {vector_sql(center_vec)},"
        " (x, y) -> (x - y) * (x - y)), 0.0D, (acc, d) -> acc + d), 6)"
    )


def _gonzalez(
    sf_dir: str, emb: DataFrame, k: int
) -> list[tuple[int, int, float]]:
    """The Gonzalez trajectory over ``emb`` (vec_id, embedding):
    [(sel_rank, center_id, radius)] for k picks, seeded at the minimum
    vec_id. radius is the covering radius after the pick: the max over the
    corpus of each point's min distance to the selected set."""
    spark = emb.sparkSession
    n_parts = parallelism(spark, table_bytes(sf_dir, "embeddings"))
    vecs = bounded_persist(
        emb.repartition(n_parts, "vec_id").select(
            "vec_id", as_double(F.col("embedding")).alias("e")
        )
    )
    seed = vecs.orderBy("vec_id").head()  # the MINIMUM vec_id, not id 0
    if seed is None:
        raise ValueError("k-center selection over an empty embedding corpus")
    md = vecs.select("vec_id", "e", F.expr(_dist6_sql(seed["e"])).alias("md"))
    rows: list[tuple[int, int, float]] = []
    center_id = int(seed["vec_id"])
    for rank in range(k):
        # One bounded hop per pick: the argmax row carries BOTH this
        # rank's covering radius (its md IS max(md)) and the next pick.
        top = md.orderBy(F.desc("md"), "vec_id").head()
        rows.append((rank, center_id, float(top["md"])))
        if rank == k - 1:
            break
        center_id = int(top["vec_id"])
        md = md.select(
            "vec_id", "e", F.expr(f"least(md, {_dist6_sql(top['e'])})").alias("md")
        )
        # Per-pick cut: uncut, each frame nests the previous one's and a
        # pick's analysis plus head grew from ~0.17s to ~0.8s by pick 10.
        md = cut(md, sf_dir, "embeddings", eager=False)
    # Release the corpus cache: an entry matching another query's subplan
    # changes THAT plan's shape (kmeans_lloyd_2iter's exchange census read
    # 21 instead of 17 after this query ran).
    vecs.unpersist()
    return rows


@query("kcenter_coreset_select", headline=True, oracle=_kc_oracle())
def kcenter_coreset_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(sel_rank, center_id, radius): the Gonzalez farthest-point
    trajectory over the embedding corpus — which vectors a
    diversity-maximizing k-subset selects, in pick order, plus the
    k-center covering radius after each pick. radius is the max over the
    corpus of each point's min 6dp-rounded squared-L2 distance to the
    selected set; it is non-increasing in sel_rank (pinned in
    tests/test_selection.py)."""
    rows = _gonzalez(sf_dir, load_table(spark, sf_dir, "embeddings"), KC_K)
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
    ctes, picks = _gonzalez_sql(PDS_K, "doc_id")
    return f"""
    WITH surv AS (
      SELECT doc_id, source,
             CAST(len({_SQL_TOKS}) AS BIGINT) AS n_toks
      FROM documents
      WHERE len({_SQL_TOKS}) >= {PDS_MIN_TOKS}
    ), v AS (
      SELECT e.vec_id, generate_subscripts(e.embedding, 1) - 1 AS pos,
             CAST(unnest(e.embedding) AS DOUBLE) AS val
      FROM embeddings e JOIN surv s ON s.doc_id = e.vec_id
    ){ctes},
    picks AS ({picks})
    SELECT picks.sel_rank, picks.doc_id, surv.source, surv.n_toks,
           picks.radius
    FROM picks JOIN surv ON surv.doc_id = picks.doc_id"""


@query("pipeline_diverse_sample", oracle=_pds_oracle())
def pipeline_diverse_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(sel_rank, doc_id, source, n_toks, radius): Gonzalez k-center over
    the embeddings of token-count-gate survivors — the diversity-sampled
    eval/few-shot pool, with the gate replayed inside the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != F.lit(""))
    surv = docs.select(
        "doc_id", "source", F.size(toks).cast("long").alias("n_toks")
    ).where(F.col("n_toks") >= PDS_MIN_TOKS)
    emb = load_table(spark, sf_dir, "embeddings").join(
        surv.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
    )
    rows = _gonzalez(sf_dir, emb, PDS_K)
    picks = spark.createDataFrame(
        rows, "sel_rank long, doc_id long, radius double"
    )
    return picks.join(F.broadcast(surv), "doc_id").select(
        "sel_rank", "doc_id", "source", "n_toks", "radius"
    )
