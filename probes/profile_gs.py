"""Phase-level profile of the graph-serving traversal at sf0.1 (guide §1:
measure first). Times each stage of _gs_visited's work under the bench
session and prints a per-phase breakdown."""
import os
import sys
import time

sys.path.insert(0, "/root/repo")
from pyspark.sql import functions as F  # noqa: E402

from parallel_mapreduce_spark.session import (  # noqa: E402
    get_spark,
    reliable_checkpoint,
    bounded_persist,
)
from parallel_mapreduce_spark.functions import similarity as sim  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark("profile-gs")
sc = spark.sparkContext

t = time.perf_counter()


def lap(tag):
    global t
    now = time.perf_counter()
    print(f"{now - t:7.3f}s  {tag}", flush=True)
    t = now


# warm the snapshot + JVM at the target sf first (one full untimed run)
sim.ann_graph_search_topk(spark, SF).write.format("noop").mode(
    "overwrite"
).save()
lap("warm full run (untimed baseline incl. possible snapshot build)")

for rep in range(2):
    sc.setJobDescription("gs: snapshot ensure")
    d = sim._knn_index(spark, SF)
    lap(f"[{rep}] snapshot ensure (warm)")

    vecs = sim._knn_vecs(spark, SF)
    vecs.count()
    lap(f"[{rep}] vecs persist+count n_parts")

    graph = sim._knn_graph_snap(spark, SF)
    n_parts = max(sc.defaultParallelism, 8)
    und = bounded_persist(
        graph.select(F.col("node").alias("a"), F.col("nbr").alias("b"))
        .union(graph.select(F.col("nbr").alias("a"), F.col("node").alias("b")))
        .repartition(n_parts, "a")
        .dropDuplicates(["a", "b"])
    )
    sc.setJobDescription("gs: und materialize")
    und.count()
    lap(f"[{rep}] und materialize")

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
        .repartition(n_parts, "node", "nbr")
        .dropDuplicates(["node", "nbr"])
    )

    def score(p):
        return sim._knn_score(p, vecs)

    sc.setJobDescription("gs: entry scored checkpoint")
    visited = reliable_checkpoint(score(entry))
    lap(f"[{rep}] entry scored + checkpoint")

    for h in range(sim.GS_ROUNDS):
        sc.setJobDescription(f"gs: hop {h}")
        front = sim._knn_topk(visited, k=sim.GS_BEAM)
        expand = front.select("node", F.col("nbr").alias("a")).join(und, "a")
        expand = expand.where(F.col("b") != F.col("node"))
        expand = (
            expand.select("node", F.col("b").alias("nbr"))
            .repartition(n_parts, "node", "nbr")
            .dropDuplicates(["node", "nbr"])
            .join(
                visited.select("node", "nbr"), ["node", "nbr"], "left_anti"
            )
        )
        visited = reliable_checkpoint(visited.unionAll(score(expand)))
        lap(f"[{rep}] hop {h} (expand+score+checkpoint)")

    sc.setJobDescription("gs: final cut")
    from pyspark.sql import Window as W

    w = W.partitionBy("node").orderBy(F.desc("cos6"), "nbr")
    out = (
        visited.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= sim.KNN_K)
    )
    out.write.format("noop").mode("overwrite").save()
    lap(f"[{rep}] final cut + noop")
    print(f"[{rep}] visited rows: {visited.count()}")
    lap(f"[{rep}] (count)")
