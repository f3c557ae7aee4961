"""Link-analysis over a data-derived graph: weighted PageRank in exact
integer arithmetic.

The engine already runs a float PageRank on the event-type transition
graph (`operators/events.py` pagerank_event_types, per-iteration 8-dp
rounding as its determinism contract). This module adds the variant
that closes the remaining PageRank semantics the float twin skips:
(a) EXACT INTEGER arithmetic — no rounding contract at all, the
iteration is bit-replayable on any engine; (b) DANGLING-MASS
redistribution — nodes with no out-edges teleport their rank uniformly
instead of leaking it (the event graph has no dangling nodes by
construction, so that code path was unexercised); (c) a corpus-scale
multi-join edge DERIVATION (lineitem |><| orders with both dimension
sides broadcast) rather than a single-table lag window. PageRank is the
canonical join-per-iteration distributed algorithm — each round is one
rank-to-edges equi-join plus one partial-aggregable SUM per
destination, the shape the reference's emit/shuffle/reduce loop
(src/mapreduce.c:110-238) runs one round of.

Determinism stance: ranks live in integer MICRO-UNITS (start 1_000_000
per node) and every step is bigint arithmetic — contribution =
``rank * w div out_w``, damping = ``85 * x div 100`` — so the
per-destination SUM is an exact integer sum (order-independent on both
engines) and the DuckDB oracle replays the iterations bit-for-bit. No
float rounding boundary exists anywhere (the map_higher_order_report /
clamped_balance_recursive lesson applied from the start).

Scale: the graph is the nation-to-nation trade network (customer nation
-> supplier nation, weighted by lineitem count), so the 100 TB cost is
the ONE corpus-scale edge aggregation. From it a ROUTING table is built
and cut once: each real edge with its source's out-weight, a zero-weight
self-edge per node (a node with no in-edges still gets its row) and an
edge from each dangling node to a null POOL key. A round then reads the
previous ranks once: a broadcast join with the routing table, one SUM
per destination, and one window over those |V|+1 rows for the pool's
dangling mass; the plan grows linearly in rounds. A billion-vertex graph
keeps the round with the routing table shuffled, the pool read by a
one-row aggregate, and a ``sources.cut`` per round; overflow headroom:
rank*w stays under 2^63 while max_rank * max_edge_weight < 9.2e18.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from parallel_mapreduce_spark.registry import query
from parallel_mapreduce_spark.session import reliable_checkpoint
from parallel_mapreduce_spark.sources.tables import cut, load_table

PR_ITERS = 3
PR_UNIT = 1_000_000  # one rank point, in micro-units
# damping 0.85 as an exact integer formula: new = 0.15*UNIT + 85*x div 100
PR_TELEPORT = 150_000


def _pagerank_oracle(iters: int = PR_ITERS) -> str:
    """Unrolled integer PageRank in DuckDB SQL (`//` = exact bigint div,
    same operator precedence as Spark's `div`: * and // left-assoc)."""
    parts = [
        f"""
    WITH e AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    ow AS (SELECT src, SUM(w) AS out_w FROM e GROUP BY src),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nation),
    r0 AS (SELECT n_nationkey AS nk, CAST({PR_UNIT} AS BIGINT) AS r
           FROM nation)"""
    ]
    for i in range(iters):
        parts.append(
            f""",
    d{i} AS (SELECT COALESCE(SUM(r), 0) AS d FROM r{i}
             LEFT JOIN ow ON nk = src WHERE out_w IS NULL),
    i{i} AS (SELECT dst, SUM(r * w // out_w) AS inc
             FROM r{i} JOIN ow ON nk = ow.src JOIN e ON nk = e.src
             GROUP BY dst),
    r{i + 1} AS (SELECT nk, CAST({PR_TELEPORT} + 85 * (COALESCE(inc, 0)
                   + (SELECT d FROM d{i}) // (SELECT n FROM nn)) // 100
                   AS BIGINT) AS r
                 FROM r{i} LEFT JOIN i{i} ON nk = dst)"""
        )
    parts.append(
        f"""
    SELECT n_name AS nation, r AS pr_micro
    FROM r{iters} JOIN nation ON nk = n_nationkey"""
    )
    return "".join(parts)


@query("pagerank_trade_graph", headline=True, oracle=_pagerank_oracle())
def pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the nation trade graph, {PR_ITERS} exact
    integer power-iteration rounds (damping 0.85, uniform dangling-mass
    redistribution). Returns (nation, pr_micro) — the stationary-ish
    importance of each nation as a trade DESTINATION, in micro-units."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )

    # The one corpus-scale pass: both dimension sides broadcast.
    edges = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count("*").alias("w"))
    )
    nodes = nation.select(F.col("n_nationkey").alias("nk"))
    n_nodes = nation.count()  # 25-row dimension; bounded driver count

    # The routing table (module docstring), read edges once: a node with
    # no out-edges keeps one left-join row with a null dst, its POOL edge
    # (w = out_w = 1: it contributes its whole rank); self-edges add 0.
    out_edges = nodes.join(edges, nodes.nk == edges.src, "left").select(
        F.col("nk").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        F.coalesce(F.col("w"), F.lit(1)).cast("long").alias("w"),
        F.coalesce(
            F.sum("w").over(W.partitionBy("nk")), F.lit(1)
        ).cast("long").alias("out_w"),
    )
    self_edges = nodes.select(
        F.col("nk").alias("src"),
        F.col("nk").cast("long").alias("dst"),
        F.lit(0).cast("long").alias("w"),
        F.lit(1).cast("long").alias("out_w"),
    )
    route = cut(out_edges.unionAll(self_edges), sf_dir, "nation", eager=False)
    # The pool window moves |V|+1 rows to one task: |V| is the AGGREGATED
    # graph's node count (25). d is the dangling mass.
    pool = W.partitionBy()
    ranks = nodes.select("nk", F.lit(PR_UNIT).cast("long").alias("r"))
    for _ in range(PR_ITERS):
        inc = (
            ranks.join(F.broadcast(route), ranks.nk == route.src)
            .groupBy("dst")
            .agg(F.sum(F.expr("r * w div out_w")).alias("inc"))
        )
        d = F.sum(F.when(F.col("dst").isNull(), F.col("inc"))).over(pool)
        ranks = (
            inc.select(
                F.col("dst").alias("nk"), "inc", F.coalesce(d, F.lit(0)).alias("d")
            )
            .where(F.col("nk").isNotNull())
            .select(
                "nk",
                (
                    F.lit(PR_TELEPORT)
                    + F.expr(f"85 * (inc + d div {n_nodes}) div 100")
                )
                .cast("long")
                .alias("r"),
            )
        )
    return ranks.join(
        F.broadcast(nation), ranks.nk == nation.n_nationkey
    ).select(F.col("n_name").alias("nation"), F.col("r").alias("pr_micro"))


# --------------------------------------------------------------------------
# k-core decomposition by iterative peeling (round 10, session 3) — the
# fourth graph analytic beside PageRank (this module), connected
# components (functions/dedup.py) and triangle counting
# (name_graph_triangles): the k-core is the maximal subgraph where every
# vertex keeps degree >= k (Seidman 1983). Run over the MinHash-LSH
# near-dup CANDIDATE graph it is the boilerplate-farm detector: an
# incidental pairwise match has degree 1 and falls out of the 2-core,
# while template farms (mutually-similar document families) survive as
# dense cores — exactly the triage near-dup canonicalization wants
# before picking survivors. (A first draft peeled the ed-1 supplier-name
# graph and the TPC-H name grid turned out to be one big clique — every
# vertex at degree N-1, zero peeling at any tested k; the exhibit moved
# to a graph whose degrees actually vary: 1..13 at sf0.1.)
#
# Peeling is the fixpoint of "drop vertices with current degree < k".
# Determinism needs no rounding contract (pure set arithmetic) and the
# fixpoint is IDEMPOTENT — the DuckDB oracle unrolls KCORE_ROUNDS rounds
# unconditionally (rounds past convergence are no-ops) while the engine
# stops at a DETECTED fixpoint (bounded scalar count per round, the CC
# convergence pattern) and raises if the budget is not enough.
#
# Scale: each round is one degree aggregate + two vertex-keyed semi
# joins — the CC label-propagation shuffle shape; rounds are
# checkpointed (round t references round t-1 three times -> the 5^t
# NN-Descent plan-growth lesson applies at 3^t).
# --------------------------------------------------------------------------
KCORE_KS = (2, 3)
KCORE_ROUNDS = 8


def _kcore_oracle() -> str:
    # Importing dedup registers minhash_lsh_candidates, so this module
    # imports on its own too, not only in the registry's load order.
    import parallel_mapreduce_spark.functions.dedup  # noqa: F401
    from parallel_mapreduce_spark.registry import QUERIES as _Q

    edge_sql = _Q["minhash_lsh_candidates"].oracle
    legs = []
    for k in KCORE_KS:
        ctes = f"""e{k}_0 AS MATERIALIZED (
      SELECT doc_a AS u, doc_b AS v FROM ({edge_sql})
      UNION ALL
      SELECT doc_b AS u, doc_a AS v FROM ({edge_sql})
    )"""
        for r in range(1, KCORE_ROUNDS + 1):
            p = r - 1
            ctes += f""",
    keep{k}_{r} AS (
      SELECT u FROM e{k}_{p} GROUP BY u HAVING COUNT(*) >= {k}
    ),
    e{k}_{r} AS MATERIALIZED (
      SELECT e.u, e.v FROM e{k}_{p} e
      JOIN keep{k}_{r} ku ON ku.u = e.u
      JOIN keep{k}_{r} kv ON kv.u = e.v
    )"""
        legs.append((k, ctes))
    all_ctes = ",\n    ".join(c for _, c in legs)
    sel = "\n    UNION ALL\n    ".join(
        f"SELECT CAST({k} AS BIGINT) AS k_core, u AS doc_id"
        f" FROM (SELECT DISTINCT u FROM e{k}_{KCORE_ROUNDS})"
        for k, _ in legs
    )
    return f"WITH {all_ctes}\n    {sel}"


@query("kcore_neardup_graph", oracle=_kcore_oracle())
def kcore_neardup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(k_core, doc_id): membership of the 2-core and 3-core of the
    MinHash-LSH near-dup candidate graph — incidental pairwise matches
    peel out, template families survive."""
    from parallel_mapreduce_spark.functions.dedup import (
        minhash_lsh_candidates,
    )
    pairs = minhash_lsh_candidates(spark, sf_dir)
    und = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionAll(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    out = None
    for k in KCORE_KS:
        e = reliable_checkpoint(und)
        n_prev = e.count()
        # KCORE_ROUNDS + 1: detection needs a trailing NO-OP round (the
        # loop only sees convergence when a peel leaves the edge count
        # unchanged), so a graph that peels productively in all
        # KCORE_ROUNDS rounds and lands exactly on the fixpoint is still
        # a success — the +1 budget row is the detection round, keeping
        # the constant equal to the number of PRODUCTIVE peels the
        # oracle unrolls (round-11 advice fix).
        for _ in range(KCORE_ROUNDS + 1):
            keep = (
                e.groupBy("u")
                .agg(F.count("*").alias("deg"))
                .filter(F.col("deg") >= k)
                .select("u")
            )
            e = reliable_checkpoint(
                e.join(keep, "u", "left_semi")
                .join(keep.select(F.col("u").alias("v")), "v", "left_semi")
                .select("u", "v")
            )
            n = e.count()
            if n == n_prev:
                break
            n_prev = n
        else:
            raise RuntimeError(
                f"kcore_neardup_graph: {k}-core not stable within "
                f"{KCORE_ROUNDS} productive peels (+1 detection round); "
                "raise KCORE_ROUNDS rather than returning a non-fixpoint"
            )
        members = e.select("u").distinct().select(
            F.lit(k).cast("long").alias("k_core"),
            F.col("u").alias("doc_id"),
        )
        out = members if out is None else out.unionAll(members)
    return out
