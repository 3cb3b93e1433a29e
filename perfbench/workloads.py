"""Workload definitions: inputs and the operation list of one pass.

A pass is one trip through a workload's operation list, in list order.
``forest`` keeps the paper's train → classify → evaluate order on a table
generated from the seed; ``lake`` runs on the fixture tables committed
under ``testdata/``. Why each workload exists is stated once, in
``BENCHMARK.json``.
"""

from __future__ import annotations

from dataclasses import dataclass

FOREST_OPS = ("ml_rf_train", "ml_rf_predict", "ml_eval", "ml_importance")
OLAP_OPS = ("agg_hash_groupby", "join_multiway", "tpch_q9_product_profit")
DEDUP_OPS = ("dedup_substring",)  # candidate self-join → verified document pairs
SIM_OPS = ("sim_query_topk",)  # top-k cosine through a mapInPandas prune
LAKE_SINKS = ("sink_iceberg_upsert",)
LAKE_READS = ("stream_delta_cdf",)

# the fixture tables the lake operations read (``events`` is read by none)
FIXTURE_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "documents", "embeddings")


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[str, ...]
    embeddings: int = 0  # rows of the seeded ``embeddings`` table to generate
    fixture: str = ""  # scale dir under ``testdata/`` to copy the tables from


WORKLOADS = {
    w.name: w
    for w in (
        Workload("forest", FOREST_OPS, embeddings=50_000),
        Workload("lake", OLAP_OPS + DEDUP_OPS + SIM_OPS + LAKE_SINKS + LAKE_READS,
                 fixture="sf0.01"),
    )
}

