"""The benchmark's workloads: which queries a pass runs, on which inputs.

Each workload is a closed loop with one client: one pass runs every query
of the list once, one after another, in a seeded order. Inputs come from
``gen.py``: the named fixture of ``fixtures/``, grown ``replicas`` times.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    fixture: str  # directory under fixtures/
    replicas: int = 1
    files: int = 1  # part files per table of a replicated world


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="driver_sf0.01",
            why=(
                "loop queries, sink round-trips and stream drains whose "
                "driver-side build dominates: job-count, lineage-cut and "
                "write-path changes show here"
            ),
            queries=(
                "pipeline_diverse_sample",
                "pagerank_trade_graph",
                "epoch_shuffle_order",
                "csv_roundtrip_order_stats",
                "json_roundtrip_doc_stats",
                "stream_events_hourly",
                "stream_session_windows",
            ),
            fixture="sf0.01",
        ),
        Workload(
            name="scan_x10",
            why=(
                "scan/shuffle queries on a 10x key-offset replica corpus "
                "where executor time dominates: scan, shuffle and kernel "
                "changes show here"
            ),
            queries=(
                "wordcount",
                "mr_wordcount",
                "q1_pricing_summary",
                "q21_waiting_suppliers_shape",
                "asof_purchase_attribution",
                "events_hourly",
                "dedup_exact_normalized",
                "cosine_topk",
                "pipeline_training_mix",
            ),
            fixture="sf0.001",
            replicas=10,
            files=4,
        ),
    )
}
