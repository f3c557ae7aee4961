"""Capture ONE full traversal hop subplan (frontier window -> broadcast
expand -> dedup -> visited anti-join -> scoring) — the per-hop plan the
final-cut explain hides behind the localCheckpoint materializations.

Usage: PYTHONPATH=<tree> python capture_hop_plan_r14.py <tree> <out_file> [old|new]

"old" replays the round-13 hop shape (explicit (node, nbr) repartition in
the expansion + shuffled anti-join) over the same inputs, so the pair of
dumps isolates exactly the round-14 hop change.
"""
import contextlib
import io
import sys

tree, out = sys.argv[1], sys.argv[2]
mode = sys.argv[3] if len(sys.argv) > 3 else "new"
sys.path.insert(0, tree)

from pyspark.sql import functions as F  # noqa: E402

from parallel_mapreduce_spark.session import get_spark  # noqa: E402
from parallel_mapreduce_spark.functions import similarity as sim  # noqa: E402

SF = "/root/testdata/sf0.1"
spark = get_spark("capture-hop-plan-r14")
small = sim._gs_small(SF)
sp = sim._gs_parts(spark, sim.KNN_EVAL_N)
vecs = sim._knn_vecs(spark, SF)
graph = sim._knn_graph_snap(spark, SF)
und = sim._gs_und(graph, sp)
bkts = sim._knn_buckets_snap(spark, SF)
entry = (
    F.broadcast(
        bkts.where(F.col("vec_id") < sim.KNN_EVAL_N).select(
            F.col("vec_id").alias("node"), "tbl", "bucket"
        )
    )
    .join(
        sim._knn_capped_buckets(bkts, skip_salt=small).select(
            F.col("vec_id").alias("nbr"), "tbl", "bucket"
        ),
        ["tbl", "bucket"],
    )
    .where(F.col("node") != F.col("nbr"))
    .select("node", "nbr")
    .repartition(sp, "node")
    .dropDuplicates(["node", "nbr"])
)
visited = sim._knn_score(entry, vecs, bcast=small).localCheckpoint(eager=True)
front = sim._knn_topk(visited, k=sim.GS_BEAM, parts=sp)
expand = (
    front.select("node", F.col("nbr").alias("a"))
    .join(F.broadcast(und), "a")
    .where(F.col("b") != F.col("node"))
    .select("node", F.col("b").alias("nbr"))
)
if mode == "old":
    expand = (
        expand.repartition(sp, "node", "nbr")
        .dropDuplicates(["node", "nbr"])
        .join(visited.select("node", "nbr"), ["node", "nbr"], "left_anti")
    )
else:
    expand = expand.dropDuplicates(["node", "nbr"]).join(
        F.broadcast(visited.select("node", "nbr")), ["node", "nbr"], "left_anti"
    )
hop = sim._knn_score(expand, vecs, bcast=small)
buf = io.StringIO()
with contextlib.redirect_stdout(buf):
    hop.explain("formatted")
txt = buf.getvalue()
with open(out, "w") as fh:
    fh.write(
        f"-- one full hop subplan (mode={mode}, bcast={small}), tree={tree}\n"
        f"-- Exchange nodes: {txt.count('Exchange')}\n" + txt
    )
print(out, "exchanges:", txt.count("Exchange"))
