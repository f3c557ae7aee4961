"""Decompose the traversal win: one tweak at a time over the committed path."""
import os
import sys
import time

sys.path.insert(0, "/root/repo")
from pyspark.sql import functions as F, Window as W  # noqa: E402

from parallel_mapreduce_spark.session import (  # noqa: E402
    get_spark,
    reliable_checkpoint,
    bounded_persist,
)
from parallel_mapreduce_spark.functions import similarity as sim  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark("profile-gs-decomp")
sc = spark.sparkContext


def build(local_ckpt=False, bcast_score=False, sp=None, bcast_und=False):
    if sp is None:
        sp = max(sc.defaultParallelism, 8)
    vecs = sim._knn_vecs(spark, SF)
    graph = sim._knn_graph_snap(spark, SF)
    und = bounded_persist(
        graph.select(F.col("node").alias("a"), F.col("nbr").alias("b"))
        .union(graph.select(F.col("nbr").alias("a"), F.col("node").alias("b")))
        .repartition(sp, "a")
        .dropDuplicates(["a", "b"])
    )
    bkts = sim._knn_buckets_snap(spark, SF)
    q_src = bkts.where(F.col("vec_id") < sim.KNN_EVAL_N)
    entry = (
        q_src.select(F.col("vec_id").alias("node"), "tbl", "bucket")
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

    if bcast_score:
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
    else:
        def score(p):
            return sim._knn_score(p, vecs)

    def ckpt(df):
        return (
            df.localCheckpoint(eager=True)
            if local_ckpt
            else reliable_checkpoint(df)
        )

    visited = ckpt(score(entry))
    for _ in range(sim.GS_ROUNDS):
        front = (
            visited.repartition(sp, "node")
            .withColumn(
                "rk",
                F.row_number().over(
                    W.partitionBy("node").orderBy(F.desc("cos6"), "nbr")
                ),
            )
            .where(F.col("rk") <= sim.GS_BEAM)
            .select("node", F.col("nbr").alias("a"))
        )
        u = F.broadcast(und) if bcast_und else und
        expand = (
            front.join(u, "a")
            .where(F.col("b") != F.col("node"))
            .select("node", F.col("b").alias("nbr"))
            .repartition(sp, "node", "nbr")
            .dropDuplicates(["node", "nbr"])
            .join(visited.select("node", "nbr"), ["node", "nbr"], "left_anti")
        )
        visited = ckpt(visited.unionAll(score(expand)))
    w = W.partitionBy("node").orderBy(F.desc("cos6"), "nbr")
    return (
        visited.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= sim.KNN_K)
        .select("node", "rk", "nbr", "cos6")
    )


CONFIGS = [
    ("baseline (as committed)", {}),
    ("+localCheckpoint", {"local_ckpt": True}),
    ("+bcast score", {"bcast_score": True}),
    ("+sp=8", {"sp": 8}),
    ("+bcast und", {"bcast_und": True}),
    ("all four", {"local_ckpt": True, "bcast_score": True, "sp": 8,
                  "bcast_und": True}),
]

# warm
build().write.format("noop").mode("overwrite").save()
for tag, kw in CONFIGS:
    ts = []
    for _ in range(2):
        t0 = time.perf_counter()
        build(**kw).write.format("noop").mode("overwrite").save()
        ts.append(time.perf_counter() - t0)
    print(f"{min(ts):7.3f}s (x{len(ts)} min)  {tag}", flush=True)
