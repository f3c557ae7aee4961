"""Global scale-posture audit: every registered query's physical plan is
swept for the red flags that would break a 100 TB run.

- CartesianProduct: an unhinted cross product shuffles |A| x |B| — every
  intentional cross is broadcast (BroadcastNestedLoopJoin) over a provably
  tiny side.
- BatchEvalPython / ArrowEvalPython in the plan means a per-row or per-batch
  Python stage; only the explicitly-Python surfaces (mapInPandas multimodal
  decode, the RDD veneer, stateful streaming) may have one.
"""

from __future__ import annotations

import pytest

from parallel_mapreduce_spark.registry import QUERIES, _load_all

_load_all()

# Queries whose plan is legitimately Python-backed (documented slow paths).
PYTHON_SURFACE = {
    "multimodal_features",
    "mr_wordcount",
    "stream_user_totals",
    "pandas_udf_vowel_ratio",
    "pandas_grouped_zscore",
    "multimodal_resize",
    "multimodal_frame_sample",
    "udtf_split_sentences",
    "udtf_poly_ngrams",
    "udtf_table_arg_lang_fold",
    "arrow_doc_lengths",
    "cogrouped_user_value_share",
    "applyinarrow_lang_summary",
    "pandas_grouped_agg_iqr",
    "scalar_iter_token_weights",
    # round-7 session 3: barrier-mode mapInPandas (gang-scheduled
    # allGather all-reduce — the training-step bridge)
    "barrier_allgather_stats",
}

# EVERY physical node that runs user Python — not just the scalar-UDF
# eval nodes. Round 6's applyInArrow query (FlatMapGroupsInArrow) slipped
# through a BatchEvalPython/ArrowEvalPython-only grep, so the audit now
# names the full family: scalar eval, grouped/cogrouped pandas, grouped
# arrow, whole-partition map (pandas + arrow), and stateful streaming.
PYTHON_STAGE_MARKERS = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",  # applyInPandas (+WithState prefix-matches)
    "FlatMapGroupsInArrow",  # applyInArrow
    "FlatMapCoGroupsInPandas",  # cogroup().applyInPandas
    "MapInPandas",  # mapInPandas
    "PythonMapInArrow",  # mapInArrow
    "MapInArrow",  # alt node name across Spark versions
    "AggregateInPandas",  # grouped-agg pandas_udf
    "PythonUDAF",  # grouped-agg pandas_udf inside hash aggregate
)
# Queries that execute eagerly on construction (stream run / iterative loop);
# their returned frame's plan is a result scan, still audited for the flags.
EAGER = {"stream_user_totals", "neardup_clusters", "pipeline_clean_corpus"}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# --- Unpartitioned-window audit (round-9 verdict item) -------------------
# A Window with an EMPTY partition spec moves ALL its input to one task —
# fatal at corpus scale, and invisible in the bench tail because the
# documented bounded-frame sites already emit the same WARN. This audit
# turns the convention into a failing test: the whitelist below is EXACT —
# a query gains a global window -> fails until whitelisted with a bounded-
# frame justification; a whitelisted query loses its last global window ->
# fails until the stale entry is removed.
#
# Every entry's global window rides a STRUCTURALLY BOUNDED frame:
#   - hierarchical prefix-sum SHARD BASES (operators/rank.py
#     global_prefix_sum: the outer ORDER BY _pid window sees one partial
#     row per shard — 8/16 rows however big the corpus): zipf_slope,
#     vocab_min_count, tokens_to_ids, detokenize_ids_roundtrip,
#     epoch_shuffle_order, stratified_split_assign,
#     price_weighted_median_by_flag (plus its per-flag totals frame),
#     sorted_neighborhood_pairs / sorted_neighborhood_recall (round 10
#     session 3: the name rank comes from global_row_number — same
#     shard-bases decomposition, global window over one row per shard),
#     sorted_neighborhood_multipass_pairs / _recall (round 11: one
#     global_row_number per rotation pass — len(SN_MP_ROTS) shard-base
#     windows of one row per shard each).
#   - K-seed / centroid frames (row_number over the K-row seed pick):
#     kmeans_lloyd_2iter, semdedup_cluster_report.
#   - |V|=25 aggregated trade graph (the per-round pool window over the
#     |V|+1 destination sums): pagerank_trade_graph.
#   - grain bounded by a low-cardinality domain: monthly_revenue_growth
#     (months), events_type_share (event types), bpe_pair_merge_step
#     (alphabet^2 pair census).
# WindowGroupLimit nodes are deliberately not audited: an empty-partition
# group-limit IS the distributed top-k pushdown (bounded by the limit).
GLOBAL_WINDOW_WHITELIST = {
    "bpe_pair_merge_step",
    "detokenize_ids_roundtrip",
    "epoch_shuffle_order",
    "events_type_share",
    "kmeans_lloyd_2iter",
    "monthly_revenue_growth",
    "pagerank_trade_graph",
    "price_weighted_median_by_flag",
    "semdedup_cluster_report",
    "sorted_neighborhood_multipass_pairs",
    "sorted_neighborhood_multipass_recall",
    "sorted_neighborhood_pairs",
    "sorted_neighborhood_recall",
    "stratified_split_assign",
    "tokens_to_ids",
    "vocab_min_count",
    "zipf_slope",
}


def _top_groups(arg: str) -> list[str]:
    """Top-level [...] groups of a plan node's argument string."""
    groups: list[str] = []
    depth, cur = 0, ""
    for ch in arg:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = ""
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(cur)
                continue
        if depth >= 1:
            cur += ch
    return groups


def _global_windows(plan: str) -> list[str]:
    """Window/WindowInPandas plan lines with an EMPTY partition spec.

    WindowExec prints `Window [funcs], [partSpec], [orderSpec]` with empty
    Seqs omitted, so the four shapes are: 3 groups = partitioned+ordered;
    2 groups whose second carries a sort spec (NULLS FIRST/LAST) = GLOBAL
    ordered; 2 groups otherwise = partitioned, no order; 1 group = GLOBAL,
    no order (both no-order shapes verified empirically on Spark 4.1)."""
    hits = []
    for line in plan.splitlines():
        s = line.strip().lstrip("+-: *")
        for node in ("Window ", "WindowInPandas "):
            if s.startswith(node):
                g = _top_groups(s[len(node):])
                if len(g) == 1 or (
                    len(g) == 2
                    and ("NULLS FIRST" in g[1] or "NULLS LAST" in g[1])
                ):
                    hits.append(s[:160])
    return hits


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_scale_red_flags(spark, sf_dir, name):
    df = QUERIES[name].fn(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, f"{name}: unbroadcast cross product"
    if name not in PYTHON_SURFACE:
        assert "BatchEvalPython" not in plan, f"{name}: row-wise Python UDF"
        if name not in EAGER:
            hits = [m for m in PYTHON_STAGE_MARKERS if m in plan]
            assert not hits, f"{name}: undocumented Python stage(s) {hits}"
    glb = _global_windows(plan)
    if name in GLOBAL_WINDOW_WHITELIST:
        assert glb, (
            f"{name}: whitelisted for a global window but its plan no "
            "longer has one — remove the stale whitelist entry"
        )
    else:
        assert not glb, (
            f"{name}: NEW unpartitioned Window (all rows to one task at "
            f"100 TB) — bound the frame or justify + whitelist: {glb}"
        )


# Shuffle-census regression pins: each headline query's physical plan may
# not grow NEW exchanges silently — at 100 TB an accidental extra shuffle
# is the single most expensive plan regression a refactor can introduce.
# Numbers are plan-text Exchange occurrences (initial AQE plan, includes
# reused subtrees, so iterative queries count each iteration's exchanges);
# they are structural constants of the query code, not of data size.
# A DROP below the pin is fine (tighten it); a rise fails until justified.
HEADLINE_EXCHANGE_CEILING = {
    "wordcount": 1,
    "top_terms": 1,
    "neardup_jaccard_pairs": 23,
    "neardup_jaccard_pairs_capped": 31,
    "minhash_lsh_candidates": 22,
    "fuzzy_name_pairs": 3,
    "pipeline_clean_corpus": 2,
    "pipeline_training_mix": 18,
    "pipeline_chunk_index_search": 5,
    "cosine_topk": 3,
    "ann_sq_topk": 3,
    "kmeans_lloyd_2iter": 17,
    # round-7 session 2: segment dedup is digest-agg + reassembly +
    # id-join; IVF-PQ's count is plan-TEXT occurrences across the
    # composed train/encode/score branches (each _nearest pass
    # re-prints the coarse-assignment and codebook broadcast subtrees —
    # the kmeans/bigram precedent for iterative/composed plans).
    "segment_dedup_reassemble": 6,
    # round 9: the codebook/coarse rows are persisted, so this count is
    # CACHE-STATE dependent like pagerank/bpe below (cold standalone: 76;
    # inside the full suite after other pq queries materialized the
    # cache the AQE printout reads 96). Slack per the persisted-plan
    # convention: the pin catches an added corpus-wide shuffle, not
    # cache-state printing drift.
    "ann_ivfpq_topk": 140,
    "boilerplate_shingle_coverage": 4,
    "chunk_documents": 1,
    "epoch_shuffle_order": 4,
    "strip_boilerplate_tokens": 5,
    "bigram_logprob_score": 34,
    "events_hourly": 1,
    "pagerank_event_types": 43,
    "q1_pricing_summary": 1,
    "q3_top_revenue": 3,
    "q5_region_revenue": 6,
    "window_top_orders_per_customer": 1,
    "q18_large_volume_customers": 3,
    "q21_waiting_suppliers_shape": 7,
    "asof_purchase_attribution": 2,
    # round 7: the LR classifier's 18 = 3 feature passes x (partial/final
    # gradient or summary agg) + broadcast weight rows; semdedup's 18 =
    # seed collect + assignment + cid repartition + pair/summary aggs —
    # both counts are singleton-row or cid-keyed exchanges, nothing
    # corpus-wide beyond the documented feature/assignment scans
    "quality_classifier_lr2": 18,
    # round 9: the hierarchical rewrite persists the tagged-seed row and
    # the assigned frame, so the count is cache-state dependent (cold
    # standalone passed at 18; in-suite printout 27) — slack per the
    # persisted-plan convention.
    "semdedup_cluster_report": 40,
    # round-7 session 3: both are composed/iterative plans whose counts
    # are plan-TEXT occurrences across re-printed subtrees (the
    # ivfpq/pagerank_event_types precedent). Integer PageRank re-prints
    # the edge-aggregation + out-weight subtrees per iteration x per
    # consumer (contribs, dangling, final join); the BPE loop re-prints
    # the vocab-bounded symbol frame per round x (pair census, merge,
    # stats). Every exchange beyond the one corpus pass is singleton-row
    # or vocab/|V|-bounded.
    # These two pins carry slack: both plans contain a .persist() whose
    # materialization STATE changes how AQE prints the cached subtree
    # (cold: full edge-derivation/symbol-frame subtrees re-printed per
    # consumer -> 264 / 100; after a prior run materialized the cache the
    # printout differs by a few dozen occurrences). The pin exists to
    # catch order-of-magnitude regressions (a corpus-wide shuffle added
    # per iteration), not cache-state printing drift.
    "pagerank_trade_graph": 400,
    "bpe_train_3merges": 160,
    # round 8/9: digest shuffle + the cap's count/semi-join pass +
    # pair/island/report aggs + the variant union's tokenize branch.
    # The digest stream is PERSISTED since round 9 (two consumers), so
    # the counts are cache-state dependent like the other persisted
    # plans (measured: 5 cold/warm standalone, 10 pre-persist) — slack
    # per the persisted-plan convention.
    "exact_substring_runs": 16,
    # round 9: detection (above) + the token-grain anti-join + per-doc
    # reassembly agg + the base join — measured 7; persisted-plan slack.
    "substring_run_removal": 16,
    # round 10 (non-headline ship plans, pinned for the same shuffle-
    # regression discipline; cold-session measurements with the usual
    # persisted/cache-state slack):
    # one digest agg + the variant-union branch — measured 2.
    "dedup_exact_normalized": 6,
    # token-count shuffle x2 legs + the |sources|^2 joins — measured 14.
    "source_weighted_jaccard": 24,
    # corpus digest distinct + two bit-set builds + two probe joins +
    # the audit join + final agg — measured 15.
    "bloom_incremental_dedup": 26,
    # both index legs (exact-Jaccard join + band join) + member
    # expansion on each + the threshold agg — measured 49.
    "minhash_lsh_pr_curve": 70,
    # the full IVF-PQ plan (persisted codebooks re-print per consumer,
    # the ann_ivfpq_topk precedent) + the shortlist-bounded exact leg —
    # measured 49 / 55 (recall adds the exact-L2 ground-truth leg).
    "ann_ivfpq_rerank_topk": 70,
    "ann_ivfpq_rerank_recall_at_k": 80,
    # both retrieval legs (cosine pairs + BM25 postings) + per-leg ranks
    # + the Q x 2L fusion — measured 19.
    "hybrid_rrf_retrieval": 30,
    # round 10 session 3: the returned plan is the LAST NN-Descent round
    # only (earlier rounds are eager reliable checkpoints, executed
    # during fn() and read back as scans): undirected-view dedup +
    # neighbor-of-neighbor self-join + candidate dedup + two
    # round 12: the query now IS the build->serve split — first touch
    # runs NN-Descent and writes the index snapshot (the round-10/11
    # build plan with its explicit-N repartitions executes inside
    # _knn_index); the RETURNED plan is a parquet scan of the snapshot's
    # final round + the eval window — measured 1.
    "knn_graph_nn_descent": 2,
    # Gonzalez runs eagerly (one distributed top-1 job per pick); the
    # returned frame is the assembled 12-row local table — 0 exchanges
    # by construction. The pin still catches a refactor that turns the
    # result into a lazy corpus-scale plan.
    "kcenter_coreset_select": 0,
    # round 11: beam search runs eagerly (entry + hops are checkpointed
    # per round); the returned plan is the final top-k window over the
    # visited-set checkpoint scan — measured 1.
    "ann_graph_search_topk": 2,
    # round 11: the shared IVF scored-candidate plan (centroid build +
    # assignment + probes) + the broadcast predicate semi-join + the
    # ranking window — measured 21; persisted/cache-state slack.
    "ann_filtered_topk": 30,
    # round 12: tombstone serving = the traversal's visited-checkpoint
    # scan + the broadcast tombstone anti-join + the ranking window (the
    # tombstone frame derivation prints its own small exchanges) —
    # measured 6.
    "ann_graph_delete_serve": 8,
    # round 13: the streaming serve answers each micro-batch INSIDE
    # foreachBatch during fn() (per-batch traversal + per-batch topk
    # window, all bounded by the batch's query count); the RETURNED plan
    # is a parquet scan of the drained sink — measured 0. The pin
    # catches a refactor that turns the result into a lazy corpus-scale
    # plan (the kcenter precedent).
    "stream_ann_serve_topk": 1,
}


def test_headline_exchange_census_is_complete():
    from parallel_mapreduce_spark.registry import headline_names

    missing = set(headline_names()) - set(HEADLINE_EXCHANGE_CEILING)
    assert not missing, f"new headline queries need an exchange pin: {missing}"


@pytest.mark.parametrize("name", sorted(HEADLINE_EXCHANGE_CEILING))
def test_headline_query_gains_no_new_exchanges(spark, sf_dir, name):
    df = QUERIES[name].fn(spark, sf_dir)
    n = _plan(df).count("Exchange")
    ceiling = HEADLINE_EXCHANGE_CEILING[name]
    assert n <= ceiling, (
        f"{name}: {n} exchanges vs pinned {ceiling} — a refactor added a "
        "shuffle; justify and re-pin, or fix the plan"
    )


# --- Materialization / tuning idiom guard --------------------------------
# One lineage cut (sources.cut, the only caller of localCheckpoint and,
# outside DURABLE_LOOPS, of session.reliable_checkpoint, the only
# .checkpoint() call), persists through the bounded ring
# (session.bounded_persist), no tuning env knobs,
# one per-group top-k kernel (operators/rank.top_k), one partition-count
# policy (session.partition_count), one graph-serving search
# (similarity._gs_search), one streaming run path (streaming.drain) and
# no literal shuffle-partition count (session.parallelism sizes them): a
# source scan of the package so the idiom count cannot grow back.
DEPLOYMENT_ENV = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_CHECKPOINT_DIR",
    "SPARK_GRAFT_INDEX_DIR",
    "SPARK_GRAFT_SF_DIR",
}
# Function-owned persist/unpersist pairs (the owner unpersists on exit),
# and the ring itself.
OWNED_PERSISTS = {
    ("functions/text.py", "frequent_tokens_cms"),
    ("functions/text.py", "approx_topk_tokens"),
    ("session.py", "bounded_persist"),
}
CUT = ("sources/tables.py", "cut")
RELIABLE = ("session.py", "reliable_checkpoint")
# Iterative builds that checkpoint durably at EVERY size: each round's
# checkpoint is their documented recovery point from executor loss, so
# they call reliable_checkpoint directly instead of the size-gated cut.
DURABLE_LOOPS = {
    ("operators/graph.py", "kcore_neardup_graph"),
    ("functions/dedup.py", "connected_components"),
    ("functions/similarity.py", "_knn_rounds"),
}
RETIRED_CUTS = {"corpus_cut", "_md_cut", "fits_local_cut", "ensure_checkpoint_dir"}


# row_number() used as a VALUE, not as a window-then-cut (those go through
# rank.top_k): cid numbering, the zipf rank, the island key, a rank written
# into a dimension table, ranks shipped with a whole neighbour list, and
# the epoch shuffle's per-shard local rank. One call per listed function.
RANK_AS_VALUE = {
    ("functions/dedup.py", "_substr_run_rows"),
    ("functions/text.py", "zipf_slope_by_source"),
    ("functions/trainprep.py", "epoch_shuffle_order"),
    ("sources/roundtrip.py", "dpp_join_parts"),
    ("functions/similarity.py", "_kmeans_2iter"),
    ("functions/similarity.py", "semdedup_cluster_report"),
    ("functions/similarity.py", "knn_graph_nn_descent"),
    ("functions/similarity.py", "knn_graph_incremental_ingest"),
    ("functions/similarity.py", "_rng_pruned_graph"),
    ("functions/similarity.py", "knn_graph_rng_prune"),
}
# The vector folds (F.aggregate over an F.zip_with): the dot product, its
# integer twin and the squared-L2 distance. Every other site calls them,
# so the fold order and the 6-dp / micro-unit rounding the oracles replay
# live in one place each.
VECTOR_FOLDS = {
    ("functions/similarity.py", "dot"),
    ("functions/similarity.py", "_int_dot"),
    ("functions/similarity.py", "sqdist"),
}
# The engine's partition policy and the traversal's query-bounded
# partition count (its own clamp) read the parallelism.
OWN_PARALLELISM = {
    ("session.py", "partition_count"),
    ("functions/similarity.py", "_gs_parts"),
}
# One graph-serving search path: the serving-gate helpers and the beam
# loop are called only by the index-state builder and the search, so a
# serving shape (or the stream) cannot re-derive gates or partition
# counts of its own.
GS_GATED = {"_gs_small", "_gs_parts", "_gs_vis_bcast", "_gs_und", "_gs_traverse"}
GS_SERVING = {
    ("functions/similarity.py", "_gs_index"),
    ("functions/similarity.py", "_gs_search"),
}
# One streaming run path: tables open as streams only in
# streaming/drain.table_stream and streams run to the end only in
# streaming/drain.drain. Allowed elsewhere: the two Python-source drains
# keep processAllAvailable() (an availableNow trigger plans ONE micro-batch
# over that source and returns different totals), and the batch
# binaryFile scan keeps its own file-name glob.
STREAM_IDIOMS = {
    "trigger",
    "awaitTermination",
    "queryName",
    "processAllAvailable",
    "pathGlobFilter",
}
STREAM_RUN = {
    ("streaming/drain.py", "table_stream"): {"pathGlobFilter"},
    ("streaming/drain.py", "drain"): {"trigger", "awaitTermination", "queryName"},
    ("sources/pydatasource.py", "stream_python_source_totals"): {
        "queryName",
        "processAllAvailable",
    },
    ("sources/pydatasource.py", "stream_python_sink_roundtrip"): {
        "processAllAvailable",
    },
    ("sources/roundtrip.py", "binaryfile_ingest_roundtrip"): {"pathGlobFilter"},
}
# One query entry: the registry's wrapper sets up the session before every
# query (register_views: runtime conf, temp views, deferred uncache), and
# get_spark applies the runtime conf to the session it builds. Nothing else
# calls either, so a query body or helper holds no session set-up.
SESSION_SETUP = {
    ("registry.py", "query"): {"register_views"},
    ("sources/tables.py", "register_views"): {"apply_runtime_conf"},
    ("session.py", "get_spark"): {"apply_runtime_conf"},
}


def _shuffle_counts(node) -> list:
    """The shuffle-partition count arguments of ``node``: the count given
    to (or defaulted by) ``state_sized_shuffle``, and the value given to
    ``scoped_conf(..., "spark.sql.shuffle.partitions", ...)``."""
    import ast

    if isinstance(node, ast.FunctionDef) and node.name == "state_sized_shuffle":
        return node.args.defaults
    if not isinstance(node, ast.Call):
        return []
    callee = getattr(node.func, "id", getattr(node.func, "attr", None))
    vals = [*node.args, *(k.value for k in node.keywords)]
    if callee == "state_sized_shuffle":
        return vals[1:]
    keys = {getattr(v, "value", None) for v in vals}
    if callee == "scoped_conf" and "spark.sql.shuffle.partitions" in keys:
        return vals[2:]
    return []


def _is_literal(node) -> bool:
    """An int or string constant, bare or inside ``str(...)``; None (an
    unknown size) is not a count."""
    import ast

    if isinstance(node, ast.Call) and getattr(node.func, "id", None) == "str":
        node = node.args[0] if node.args else node
    return isinstance(node, ast.Constant) and isinstance(node.value, (int, str))


def _idiom_violations(rel: str, src: str) -> list[str]:
    import ast
    import re

    bad = []
    ranked = set()
    for top in ast.parse(src).body:
        func = getattr(top, "name", None)  # owner of a function-owned persist
        for node in ast.walk(top):
            where = f"{rel}:{getattr(node, 'lineno', '?')}"
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                if node.func.attr == "checkpoint" and (rel, func) != RELIABLE:
                    bad.append(f"{where} .checkpoint(): use sources.cut")
                if node.func.attr == "localCheckpoint" and (rel, func) != CUT:
                    bad.append(f"{where} .localCheckpoint(): use sources.cut")
                if node.func.attr == "persist" and (rel, func) not in OWNED_PERSISTS:
                    bad.append(f"{where} .persist(): use session.bounded_persist")
                if node.func.attr == "row_number" and rel != "operators/rank.py":
                    if (rel, func) not in RANK_AS_VALUE or (rel, func) in ranked:
                        bad.append(f"{where} row_number() cut: use rank.top_k")
                    ranked.add((rel, func))
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "defaultParallelism"
                and (rel, func) not in OWN_PARALLELISM
            ):
                bad.append(f"{where} defaultParallelism: use partition_count")
            if isinstance(node, ast.Call):
                callee = getattr(node.func, "id", getattr(node.func, "attr", None))
                first = node.args[0] if node.args else None
                if (
                    callee == "aggregate"
                    and isinstance(first, ast.Call)
                    and getattr(first.func, "attr", getattr(first.func, "id", None))
                    == "zip_with"
                    and (rel, func) not in VECTOR_FOLDS
                ):
                    bad.append(f"{where} inline vector fold: use sqdist / dot")
                if callee in GS_GATED and (rel, func) not in GS_SERVING:
                    bad.append(f"{where} {callee}(): serve through _gs_search")
                if callee in (
                    "register_views",
                    "apply_runtime_conf",
                ) and callee not in SESSION_SETUP.get((rel, func), ()):
                    bad.append(f"{where} {callee}(): the registry sets up the session")
                if (
                    callee == "reliable_checkpoint"
                    and (rel, func) != CUT
                    and (rel, func) not in DURABLE_LOOPS
                ):
                    bad.append(f"{where} reliable_checkpoint(): use sources.cut")
            if any(_is_literal(c) for c in _shuffle_counts(node)):
                bad.append(f"{where} literal shuffle-partition count: use parallelism")
            idiom = None
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                idiom = node.func.attr
            elif isinstance(node, ast.Constant) and node.value == "pathGlobFilter":
                idiom = node.value
            if idiom in STREAM_IDIOMS and idiom not in STREAM_RUN.get((rel, func), ()):
                bad.append(f"{where} {idiom}: stream through streaming.drain")
            names = {getattr(node, k, None) for k in ("id", "attr", "name")}
            for name in names & RETIRED_CUTS:
                bad.append(f"{where} {name}: use sources.cut")
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and re.fullmatch(r"SPARK_GRAFT_\w+", node.value)
                and node.value not in DEPLOYMENT_ENV
            ):
                bad.append(f"{where} tuning env knob {node.value}")
    return bad


def test_one_checkpoint_path_bounded_persists_no_env_knobs():
    import os

    import parallel_mapreduce_spark as pkg

    root = os.path.dirname(pkg.__file__)
    bad = []
    for dirpath, _, files in os.walk(root):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, root)
            with open(path) as fh:
                bad += _idiom_violations(rel, fh.read())
    assert not bad, "\n".join(bad)



def test_guard_fails_on_literal_shuffle_partition_count():
    """The idiom guard's shuffle-count rule: a literal count passed to
    state_sized_shuffle (or defaulted in its signature) or scoped as
    spark.sql.shuffle.partitions fails; a sized or unknown count passes."""
    literal = (
        "state_sized_shuffle(spark, 8)",
        "state_sized_shuffle(spark, nbytes=8)",
        "def state_sized_shuffle(spark, n=8): pass",
        'scoped_conf(spark, "spark.sql.shuffle.partitions", "8")',
        'scoped_conf(spark, "spark.sql.shuffle.partitions", str(8))',
    )
    sized = (
        'state_sized_shuffle(spark, table_bytes(sf_dir, "events"))',
        "state_sized_shuffle(spark, None)",
        'scoped_conf(spark, "spark.sql.shuffle.partitions", str(parallelism(spark, n)))',
        'scoped_conf(spark, "spark.sql.session.timeZone", "UTC")',
    )
    for src in literal:
        assert _idiom_violations("x.py", src), src
    for src in sized:
        assert not _idiom_violations("x.py", src), src


def test_guard_fails_on_inline_vector_fold():
    """The idiom guard's fold rule: an F.aggregate over an F.zip_with
    outside dot / _int_dot / sqdist fails; calling the kernels, or an
    aggregate over a plain array, passes."""
    fold = (
        "def f(a, b):\n"
        "    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),"
        " F.lit(0.0), lambda acc, v: acc + v)"
    )
    assert _idiom_violations("functions/similarity.py", fold)
    assert not _idiom_violations(
        "functions/similarity.py", fold.replace("def f(", "def sqdist(")
    )
    for ok in (
        "def f(a, b):\n    return F.round(sqdist(a, b), 6)",
        "def f(v):\n    return F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x)",
    ):
        assert not _idiom_violations("functions/similarity.py", ok), ok


def test_guard_fails_on_session_setup_outside_the_entry():
    """The idiom guard's session rule: register_views or apply_runtime_conf
    called from a query body or helper fails; the registry's entry
    wrapper, register_views itself and get_spark pass."""
    body = (
        "def q(spark, sf_dir):\n"
        "    {call}\n"
        "    return load_table(spark, sf_dir, 'orders')"
    )
    for call in (
        "register_views(spark, sf_dir)",
        "sources.register_views(spark, sf_dir)",
        "apply_runtime_conf(spark)",
    ):
        assert _idiom_violations("operators/relational.py", body.format(call=call))
    allowed = (
        (
            "registry.py",
            "def query(name):\n"
            "    def deco(fn):\n"
            "        def entry(spark, sf_dir):\n"
            "            register_views(spark, sf_dir)\n"
            "            return fn(spark, sf_dir)\n"
            "        return entry\n"
            "    return deco",
        ),
        (
            "sources/tables.py",
            "def register_views(spark, sf_dir):\n    apply_runtime_conf(spark)",
        ),
        ("session.py", "def get_spark():\n    apply_runtime_conf(spark)"),
    )
    for rel, src in allowed:
        assert not _idiom_violations(rel, src), rel
    # Allowed only where listed: the loader in tables.py is not the entry.
    assert _idiom_violations(
        "sources/tables.py", "def load_table(spark):\n    apply_runtime_conf(spark)"
    )
