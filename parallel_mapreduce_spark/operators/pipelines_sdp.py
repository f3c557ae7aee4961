"""Spark Declarative Pipelines (Spark 4.1, SDP) — the authoring surface
bound to a local mini-runner.

Spark 4.1 ships `pyspark.pipelines`: a dataflow-graph authoring API
(@materialized_view / @table decorators registering Output + Flow
elements into a pluggable GraphElementRegistry) whose production runner
(`spark-pipelines run`) executes the graph through Spark Connect with
dependency resolution, incremental refresh, and managed storage. This
container runs classic local mode — the Connect runner is not reachable —
so the exhibit exercises everything that IS public, local API:

  - the decorators with explicit names/comments register exactly the
    Output and Flow elements they promise (dataclass contract, pinned in
    tests/test_pipelines_sdp.py, including source-code locations);
  - `graph_element_registration_context` scopes an ABC-conformant
    capturing registry (the same extension point the real runner's
    registry implements);
  - the captured flows then EXECUTE against the session in registration
    order — author order here IS a topological order, which is exactly
    the dependency semantics the real runner derives from table
    references; each flow's DataFrame registers under its target name so
    downstream flows resolve upstream datasets with spark.table(), as
    SDP flows do.

The bronze -> silver -> gold shape is the canonical medallion pipeline:
ingest-filter, per-key aggregate, top-slice report. The driver-checked
output is the GOLD dataset plus the graph's element counts, so both the
pipeline's VALUES and its SHAPE ride the oracle hash. The 100 TB
posture is inherited from the underlying plan (one shuffle for the
status aggregate; the top-slice runs on the 3-row silver frame) — SDP
adds orchestration, not execution cost.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parallel_mapreduce_spark.registry import query
from parallel_mapreduce_spark.sources.tables import load_table

try:  # Spark 4.1+ surface; import-gated like every optional engine API
    from pyspark.pipelines.api import materialized_view, table
    from pyspark.pipelines.graph_element_registry import (
        GraphElementRegistry,
        graph_element_registration_context,
    )

    _SDP_AVAILABLE = True
except ImportError:  # pragma: no cover - present in this container
    _SDP_AVAILABLE = False


if _SDP_AVAILABLE:

    class CapturingGraphRegistry(GraphElementRegistry):
        """ABC-conformant registry that records the graph instead of
        shipping it to a Connect backend — the documented extension
        point ("concrete implementations provide the storage")."""

        def __init__(self) -> None:
            self.outputs: list = []
            self.flows: list = []

        def register_output(self, output) -> None:
            self.outputs.append(output)

        def register_flow(self, flow) -> None:
            self.flows.append(flow)

        def register_sql(self, sql_text: str, file_path: Path) -> None:
            raise NotImplementedError(
                "SQL-file graph elements are not used by this exhibit"
            )


def build_medallion_graph(spark: SparkSession, sf_dir: str):
    """Author the 3-dataset medallion graph under a capturing registry;
    returns the registry (outputs + flows captured, nothing executed)."""
    reg = CapturingGraphRegistry()
    with graph_element_registration_context(reg):

        @materialized_view(
            name="sdp_bronze_orders",
            comment="high-value orders, ingest filter",
        )
        def sdp_bronze_orders() -> DataFrame:
            return (
                load_table(spark, sf_dir, "orders")
                .filter(F.col("o_totalprice") > 1000.0)
                .select("o_orderkey", "o_orderstatus", "o_totalprice")
            )

        @materialized_view(
            name="sdp_silver_status_summary",
            comment="per-status rollup over bronze",
        )
        def sdp_silver_status_summary() -> DataFrame:
            return (
                spark.table("sdp_bronze_orders")
                .groupBy("o_orderstatus")
                .agg(
                    F.count("*").cast("long").alias("n_orders"),
                    F.round(F.sum("o_totalprice"), 4).alias("total_price"),
                )
            )

        @table(
            name="sdp_gold_status_report",
            comment="silver plus share-of-total, the serving dataset",
        )
        def sdp_gold_status_report() -> DataFrame:
            silver = spark.table("sdp_silver_status_summary")
            total = silver.agg(
                F.sum("n_orders").cast("long").alias("grand_n")
            )
            return (
                silver.crossJoin(F.broadcast(total))
                .select(
                    "o_orderstatus",
                    "n_orders",
                    "total_price",
                    F.round(F.col("n_orders") / F.col("grand_n"), 4).alias(
                        "order_share"
                    ),
                )
            )

    return reg


def run_graph(spark: SparkSession, reg) -> dict[str, DataFrame]:
    """Minimal local runner: execute every captured flow in registration
    order (author order is topological here — the dependency order the
    Connect runner derives from table references), registering each
    result under its target name so downstream flows resolve upstreams
    via spark.table() exactly as SDP flows are written."""
    out: dict[str, DataFrame] = {}
    for fl in reg.flows:
        df = fl.func()
        df.createOrReplaceTempView(fl.target)
        out[fl.target] = df
    return out


@query(
    "declarative_pipeline_medallion",
    oracle="""
    WITH bronze AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_totalprice > 1000.0
    ), silver AS (
      SELECT o_orderstatus,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             ROUND(SUM(o_totalprice), 4) AS total_price
      FROM bronze GROUP BY o_orderstatus
    )
    SELECT o_orderstatus, n_orders, total_price,
           ROUND(n_orders * 1.0 / (SELECT SUM(n_orders) FROM silver), 4)
             AS order_share,
           CAST(3 AS BIGINT) AS n_datasets,
           CAST(3 AS BIGINT) AS n_flows
    FROM silver
    """,
)
def declarative_pipeline_medallion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Author the medallion graph through the pyspark.pipelines
    decorators, execute it with the local mini-runner, and return the
    gold dataset with the captured graph's element counts — values AND
    graph shape both cross the oracle hash."""
    if not _SDP_AVAILABLE:  # pragma: no cover
        raise AssertionError(
            "pyspark.pipelines is absent — this Spark build predates 4.1"
        )
    reg = build_medallion_graph(spark, sf_dir)
    results = run_graph(spark, reg)
    gold = results["sdp_gold_status_report"]
    return gold.select(
        "o_orderstatus",
        "n_orders",
        "total_price",
        "order_share",
        F.lit(len(reg.outputs)).cast("long").alias("n_datasets"),
        F.lit(len(reg.flows)).cast("long").alias("n_flows"),
    )
