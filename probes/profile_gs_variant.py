"""A/B probe: restructured _gs_visited vs committed one (guide §2.4/§3.1/§5).

Variant: per-hop localCheckpoint (serving is re-runnable; guide §5),
size-gated broadcast of vecs/und/q_src (guide §3.1 — pick the strategy
deliberately; the shuffle_hash path remains for corpus-scale inputs),
query-bounded partition counts for the visited-frame work (guide §2 —
scale-adaptive partitioning; the visited frame is Q-bounded, not
corpus-bounded), no redundant repartitions before broadcast joins.
Checks output equality against the committed path before timing."""
import os
import sys
import time

sys.path.insert(0, "/root/repo")
from pyspark.sql import functions as F, Window as W  # noqa: E402

from parallel_mapreduce_spark.session import (  # noqa: E402
    get_spark,
    bounded_persist,
)
from parallel_mapreduce_spark.functions import similarity as sim  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark("profile-gs-variant")
sc = spark.sparkContext


def variant_visited(beam=None):
    if beam is None:
        beam = sim.GS_BEAM
    vecs = sim._knn_vecs(spark, SF)
    graph = sim._knn_graph_snap(spark, SF)
    # serving frames are bounded by Q * per-query budget, not corpus size
    sp = 8

    und = bounded_persist(
        graph.select(F.col("node").alias("a"), F.col("nbr").alias("b"))
        .union(graph.select(F.col("nbr").alias("a"), F.col("node").alias("b")))
        .repartition(sp, "a")
        .dropDuplicates(["a", "b"])
    )

    bkts = sim._knn_buckets_snap(spark, SF)
    q_src = bkts.where(F.col("vec_id") < sim.KNN_EVAL_N)
    entry = (
        F.broadcast(q_src.select(F.col("vec_id").alias("node"), "tbl", "bucket"))
        .join(
            sim._knn_capped_buckets(bkts).select(
                F.col("vec_id").alias("nbr"), "tbl", "bucket"
            ),
            ["tbl", "bucket"],
        )
        .where(F.col("node") != F.col("nbr"))
        .select("node", "nbr")
        .repartition(sp, "node", "nbr")
        .dropDuplicates(["node", "nbr"])
    )

    def score(p):
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
        return (
            p.join(F.broadcast(a), "node")
            .join(F.broadcast(b), "nbr")
            .select(
                "node",
                "nbr",
                F.round(
                    sim.dot(F.col("ea"), F.col("eb"))
                    / (F.col("na") * F.col("nb")),
                    6,
                ).alias("cos6"),
            )
        )

    visited = score(entry).localCheckpoint(eager=True)
    for _ in range(sim.GS_ROUNDS):
        front = (
            visited.repartition(sp, "node")
            .withColumn(
                "rk",
                F.row_number().over(
                    W.partitionBy("node").orderBy(F.desc("cos6"), "nbr")
                ),
            )
            .where(F.col("rk") <= beam)
            .select("node", F.col("nbr").alias("a"))
        )
        expand = (
            front.join(F.broadcast(und), "a")
            .where(F.col("b") != F.col("node"))
            .select("node", F.col("b").alias("nbr"))
            .repartition(sp, "node", "nbr")
            .dropDuplicates(["node", "nbr"])
            .join(visited.select("node", "nbr"), ["node", "nbr"], "left_anti")
        )
        visited = visited.unionAll(score(expand)).localCheckpoint(eager=True)
    return visited


def cut(visited):
    w = W.partitionBy("node").orderBy(F.desc("cos6"), "nbr")
    return (
        visited.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= sim.KNN_K)
        .select("node", "rk", "nbr", "cos6")
    )


# ---- equality check vs committed path -------------------------------------
base = cut(sim._gs_visited(spark, SF))
var = cut(variant_visited())
diff = base.exceptAll(var).count() + var.exceptAll(base).count()
print(f"EQUALITY diff rows: {diff}", flush=True)
assert diff == 0, "variant diverges from committed path"

# ---- timing ----------------------------------------------------------------
for tag, fn in (
    ("committed", lambda: cut(sim._gs_visited(spark, SF))),
    ("variant", lambda: cut(variant_visited())),
    ("committed2", lambda: cut(sim._gs_visited(spark, SF))),
    ("variant2", lambda: cut(variant_visited())),
    ("variant3", lambda: cut(variant_visited())),
):
    t0 = time.perf_counter()
    fn().write.format("noop").mode("overwrite").save()
    print(f"{time.perf_counter() - t0:7.3f}s  {tag}", flush=True)
