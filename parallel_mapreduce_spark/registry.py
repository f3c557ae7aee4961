"""Query registry: the single source of truth for the engine's query surface.

Every operator from SURVEY.md §2 is registered here as a named query —
a callable ``(spark, sf_dir) -> DataFrame`` — optionally paired with the
ANSI-SQL oracle string DuckDB runs on the same Parquet tables. The driver's
correctness gate (``__spark_entry__.py``) is generated from this registry.

Entry contract: the registry sets up the session, as the reference's
``MR_Run`` does before any Mapper or Reducer runs. The callable that
``@query`` registers (and leaves as the module attribute) first calls
``sources.register_views(spark, sf_dir)`` — runtime conf, the table temp
views, the deferred uncache of the previous query's cache — and then the
query body. A query body never calls ``register_views`` or
``apply_runtime_conf`` itself; it may read the temp views by name.

Rules enforced by convention (and by tests/test_oracle_parity.py):
- every computed column is aliased identically in the Spark plan and the SQL;
- float aggregates are rounded (ROUND(x, 4)) on BOTH sides so engine-order
  summation differences can't flip the value hash;
- counts are BIGINT on both sides (DuckDB's SUM(int)->HUGEINT is always cast);
- timestamps cross the comparison as epoch seconds or formatted strings,
  never raw timestamp objects.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from parallel_mapreduce_spark.sources.tables import register_views

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL twin; None -> driver does a rows-only check
    headline: bool = False  # included in bench.py's per-round benchmark


QUERIES: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, headline: bool = False):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` as a named
    query. Returns the registered entry: ``register_views`` once, then
    ``fn`` (the original stays reachable as ``__wrapped__``)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")

        @functools.wraps(fn)
        def entry(spark: SparkSession, sf_dir: str) -> DataFrame:
            register_views(spark, sf_dir)
            return fn(spark, sf_dir)

        QUERIES[name] = QuerySpec(name=name, fn=entry, oracle=oracle, headline=headline)
        return entry

    return deco


# The external verification driver value-checks the first ~50 entries of
# ``queries()`` per round (round 1's CORRECTNESS file covers exactly the
# first 50 registered names). This list front-loads the queries that do not
# yet have a driver correctness row — round 1's unchecked tail (relational/
# TPC-H analogues, windows, set ops, time-series, skew, streaming) plus the
# queries added since — so each round's checked window lands on fresh
# surface. Names not listed follow in registration order, so the full map
# always contains every query regardless of this list's contents.
#
# ROUND-5 WINDOW: r01–r04 rows cover 198 names, 196 green on their latest
# row. The first two entries are the only cumulative reds —
# approx_distinct_parts / price_percentiles_approx went red in r03 with
# ``err: no_oracle``; full DuckDB value oracles were added in round 4
# (relational.py, sketch asserted within an oracle-pinned error bound with
# the exact value crossing the hash) but never re-rowed. Next come ALL
# never-rowed queries in registration order (round-4 additions
# source_token_entropy…small_files_compaction_stats, the 9-query streaming
# tail, the tws skip marker, and the round-5 lakehouse pair), closing
# full-registry verification: after this round every registered query has
# a driver row. The remaining window slots (50 minus the needy names
# listed here) fill
# AUTOMATICALLY with the oldest-rowed green queries — see
# ``_ordered_names``, which also drops any listed name whose latest driver
# row is green, so this list going stale after a round closes costs
# nothing. The invariant (window prefers red + unrowed over green
# re-checks) is enforced by tests/test_registry.py.
DRIVER_PRIORITY: list[str] = [
    # ROUND-10 PRUNE: every name this list carried through round 9 is
    # green on its latest driver row (r07-r09 cumulative), so the whole
    # hand-ordered front was dropped — _ordered_names filters greens at
    # runtime anyway; the literal prune keeps the list inside the
    # 50-name window contract pinned by tests/test_registry.py. Names
    # whose OUTPUT VALUES changed while green are NOT re-listed here:
    # that is VALUE_CHANGED's job (below), which outranks the stale-
    # green rotation until a fresh row lands.
    # round-10 additions (never rowed): the FAISS-refine composition,
    # the normalize-before-hash dedup grain, and the tf-weighted source
    # Jaccard.
    "ann_ivfpq_rerank_topk",
    "ann_ivfpq_rerank_recall_at_k",
    "dedup_exact_normalized",
    "source_weighted_jaccard",
    "bloom_incremental_dedup",
    "minhash_lsh_pr_curve",
    "hybrid_rrf_retrieval",
    "aqe_skew_join_user_tiers",
    # round-10 second wave (never rowed): LSH-seeded NN-Descent kNN-graph
    # construction and the diversity-selection family.
    "knn_graph_nn_descent",
    "knn_graph_recall_curve",
    "kcenter_coreset_select",
    "knn_graph_incremental_ingest",
    "k_anonymity_generalization",
    "sorted_neighborhood_pairs",
    "sorted_neighborhood_recall",
    "jl_projection_distortion",
    "ann_multiprobe_lsh_topk",
    "ann_multiprobe_recall_at_k",
    "kcore_neardup_graph",
    "pipeline_diverse_sample",
    # round-11 additions (never rowed): the kNN-graph serving leg and
    # multi-pass sorted-neighborhood blocking.
    "ann_graph_search_topk",
    "ann_graph_search_recall_at_k",
    "sorted_neighborhood_multipass_pairs",
    "sorted_neighborhood_multipass_recall",
    "knn_graph_incremental_recall",
    "ann_filtered_topk",
    "ann_filtered_recall_at_k",
    "ann_graph_search_beam_curve",
    "knn_graph_rng_prune",
    "ann_graph_search_pruned_recall",
    "ann_graph_search_oov_topk",
    "ann_graph_search_oov_recall",
    "ann_graph_search_filtered_recall",
    "knn_graph_hubness_report",
    "knn_graph_semantic_clusters",
    "knn_graph_neardup_recall",
    # round-12 additions (never rowed): vector-deletion serving
    # (tombstone waypoints + compaction) and the quantized traversal.
    "ann_graph_delete_serve",
    "ann_graph_delete_recall",
    "ann_graph_search_quantized_recall",
    "ann_graph_delete_fraction_curve",
    "knn_index_manifest",
    "knn_index_refresh_recall",
    # round-13 additions (never rowed): sharded index serving and the
    # streaming ANN serve.
    "ann_graph_search_sharded_recall",
    "ann_graph_search_sharded_topk",
    "stream_ann_serve_topk",
    "ann_graph_search_routed_recall",
    "ann_graph_search_cell_routed_recall",
]

# Queries whose OUTPUT VALUES changed in a given round. A green driver row
# from an EARLIER round verified values the current code no longer
# produces, so it is stale evidence even though it is green — these names
# outrank the ordinary stalest-green rotation in _ordered_names until a
# row from `round >= changed_round` lands (driver rows for round N are
# produced against round N's final code, so an N-row IS fresh for an
# N-change). Entries clear themselves: once a fresh row exists the round
# comparison drops the name, so a stale entry here costs nothing. The
# round-9 verdict flagged exactly this hole — _ordered_names had no way to
# re-row a value-changed green ahead of 167+ staler greens.
VALUE_CHANGED: dict[str, int] = {
    # round 9: SemDeDup hierarchical two-level assignment rewrite changed
    # cluster membership / report values (latest row r07).
    "semdedup_cluster_report": 9,
    # round 9: SQ-int8 overfetch now ranks on quantized cosine, changing
    # recall values in every query that reports them (latest rows r08).
    "ann_sq_recall_at_k": 9,
    "ann_pq_shortlist_recall_curve": 9,
    # round 10: IVF-PQ moved to PER-CELL residual codebooks — every
    # query deriving values from the IVF-PQ ranking emits new values
    # (ann_recall_matrix was already stale from the round-9 SQ fix).
    "ann_ivfpq_topk": 10,
    "ann_ivfpq_recall_at_k": 10,
    "ann_recall_matrix": 10,
    "ann_recall_matrix_clustered": 10,
    # round 9: SimHash bucket means moved to integer-sum discipline
    # (latest row r08).
    "simhash_angle_fidelity": 9,
    # round 10: the substring-run pair universe gained the within-doc
    # self leg (same-doc pairs at pa < pb) plus the +66M repeated-span
    # fixture — all three substring reports emit new rows/values.
    "exact_substring_runs": 10,
    "longest_dup_span_per_doc": 10,
    "substring_run_removal": 10,
    # round 11: the whole ANN/RAG top-k family shipped its cosine/score
    # column at the 6dp RANKING precision instead of re-rounding to 4dp —
    # the decimal-HALF_UP-vs-double-half-away midpoint hazard documented
    # at knn_graph_nn_descent, removed family-wide per the round-10
    # advice. Values change in the reported column only; rankings (and
    # therefore every recall leg) are unchanged.
    "cosine_topk": 11,
    "ann_lsh_topk": 11,
    "ann_ivf_topk": 11,
    "ann_sq_topk": 11,
    "ann_multiprobe_lsh_topk": 11,
    "emb_neardup_pairs": 11,
    "emb_neardup_lsh_pairs": 11,
    "pipeline_chunk_index_search": 11,
    # round 11: incremental ingest gained the WITHIN-BATCH seed leg —
    # kind='new' lists can now carry same-batch neighbors, changing
    # output rows wherever a batch neighbor outranks a base one.
    "knn_graph_incremental_ingest": 11,
    # round 13: the manifest gained the truth snapshot's two artifact
    # rows (truth/eval_scored, truth/oov_scored).
    "knn_index_manifest": 13,
}


def _driver_latest_status() -> dict[str, tuple[int, bool]]:
    """name -> (round of the LATEST driver correctness row, was it green).
    A row is green when rows/schema match, the value hash matches (or was
    not computed — rows-only check), and no error is recorded. Later
    rounds override earlier ones. Drives the self-maintaining window
    ordering below and the rotation-invariant test in
    tests/test_registry.py."""
    import glob
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    status: dict[str, tuple[int, bool]] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        base = os.path.basename(path)
        try:
            rnd = int(base.split("_r")[1].split(".")[0])
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError, IndexError):
            continue
        for name, row in rows.items():
            # Later ROUND wins — compare the parsed round number, not file
            # order: the sorted() glob is lexicographic, so r100 would sort
            # before r11 and an old row could silently override a newer one.
            if name in status and status[name][0] > rnd:
                continue
            status[name] = (
                rnd,
                bool(row.get("rows_match"))
                and bool(row.get("schema_match"))
                and row.get("hash_match") in (True, None)
                and not row.get("err"),
            )
    return status


def _ordered_names() -> list[str]:
    """SELF-MAINTAINING window ordering — no round-close rotation duty:

    1. DRIVER_PRIORITY names that are still red-or-unrowed, in listed
       order (the hand-ordered front: reds before fresh surface). Names
       whose latest driver row is GREEN drop out automatically, so a
       priority list left over from a completed round cannot waste the
       next round's check window (the bug that shipped twice, r3->r4 and
       r4->r5).
    2. Every other red-or-unrowed query, registration order.
    3. VALUE_CHANGED names whose latest driver row PREDATES the change —
       a green row earned against the old output values is evidence for
       code that no longer exists, so these outrank every ordinary green
       re-check until a fresh row lands (then they drop out by the same
       round comparison, no hand edit needed).
    4. The green tail, OLDEST latest-row first (ties: registration
       order) — re-check slots rotate through the stalest verifications
       by themselves.
    """
    _load_all()
    status = _driver_latest_status()
    green = {n for n, (_, ok) in status.items() if ok}
    pri = [n for n in DRIVER_PRIORITY if n in QUERIES and n not in green]
    listed = set(pri)
    forced = [
        n
        for n in VALUE_CHANGED
        if n in QUERIES and n in green and n not in listed
        and status[n][0] < VALUE_CHANGED[n]
    ]
    forced_set = set(forced)
    reg_pos = {n: i for i, n in enumerate(QUERIES)}
    rest = [n for n in QUERIES if n not in listed and n not in forced_set]
    return (
        pri
        + [n for n in rest if n not in green]
        + forced
        + sorted(
            (n for n in rest if n in green),
            key=lambda n: (status[n][0], reg_pos[n]),
        )
    )


def query_map() -> dict[str, QueryFn]:
    return {name: QUERIES[name].fn for name in _ordered_names()}


def oracle_map() -> dict[str, str]:
    return {
        name: QUERIES[name].oracle
        for name in _ordered_names()
        if QUERIES[name].oracle
    }


def headline_names() -> list[str]:
    _load_all()
    return [name for name, spec in QUERIES.items() if spec.headline]


_LOADED = False


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    import parallel_mapreduce_spark.functions.dedup  # noqa: F401
    import parallel_mapreduce_spark.functions.multimodal  # noqa: F401
    import parallel_mapreduce_spark.functions.pipeline  # noqa: F401
    import parallel_mapreduce_spark.functions.python_slots  # noqa: F401
    import parallel_mapreduce_spark.functions.selection  # noqa: F401
    import parallel_mapreduce_spark.functions.similarity  # noqa: F401
    import parallel_mapreduce_spark.functions.text  # noqa: F401
    import parallel_mapreduce_spark.functions.trainprep  # noqa: F401
    import parallel_mapreduce_spark.mr  # noqa: F401
    import parallel_mapreduce_spark.operators.cbo  # noqa: F401
    import parallel_mapreduce_spark.operators.events  # noqa: F401
    import parallel_mapreduce_spark.operators.graph  # noqa: F401
    import parallel_mapreduce_spark.operators.pipelines_sdp  # noqa: F401
    import parallel_mapreduce_spark.operators.relational  # noqa: F401
    import parallel_mapreduce_spark.operators.skew  # noqa: F401
    import parallel_mapreduce_spark.operators.tpch_gaps  # noqa: F401
    import parallel_mapreduce_spark.operators.timeseries  # noqa: F401
    import parallel_mapreduce_spark.sources.pydatasource  # noqa: F401
    import parallel_mapreduce_spark.sources.roundtrip  # noqa: F401
    import parallel_mapreduce_spark.streaming.ann_serve_stream  # noqa: F401
    import parallel_mapreduce_spark.streaming.dedup_stream  # noqa: F401
    import parallel_mapreduce_spark.streaming.events_stream  # noqa: F401
    import parallel_mapreduce_spark.streaming.joins_stream  # noqa: F401
    import parallel_mapreduce_spark.streaming.state_reader  # noqa: F401
    import parallel_mapreduce_spark.streaming.stateful  # noqa: F401

    _LOADED = True
