"""Round-15b lake-format operators: the Iceberg SORT-ORDER writer
(`ALTER TABLE ... WRITE ORDERED BY` + the range-clustered write it
plans), Delta `inCommitTimestamp` commits (clock-skew-proof timestamp
time travel), and the Delta writer-side SCHEMA EVOLUTION
(`mergeSchema` append).

Reference analog: none citable (the reference checkout is empty —
SURVEY.md §0); semantics follow the public Iceberg table spec
(§Sorting, §Sort Orders) and delta-io PROTOCOL.md (§In-Commit
Timestamps, §Schema Serialization / writer schema evolution), matching
what `ALTER TABLE t WRITE ORDERED BY`, `delta.enableInCommitTimestamps`
and `spark.databricks.delta.schema.autoMerge` do in the real systems.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from random_forest_using_hadoop_spark.iceberg_meta import (
    ADDED,
    DELETED,
    entry,
    list_record,
    write_manifest,
    write_manifest_list,
)
from random_forest_using_hadoop_spark.operators.iceberg_ext import (
    _S1,
    _T1,
    _iceberg_snapshot,
    _sv_double,
    _sv_double_de,
)
from random_forest_using_hadoop_spark import delta_log, iceberg_meta
from random_forest_using_hadoop_spark.delta_log import (
    _delta_latest_live_files,
    _delta_live_files,
)
from random_forest_using_hadoop_spark.operators.scans import (
    _delta_list_files,
    _tmp,
)
from random_forest_using_hadoop_spark.registry import register
from random_forest_using_hadoop_spark.sources import load_table
from random_forest_using_hadoop_spark.helpers import local_rows

# --- Iceberg sort-order writer -------------------------------------------------


def iceberg_set_sort_order(root: str, source_id: int) -> int:
    """`ALTER TABLE ... WRITE ORDERED BY <field>` — append a new sort
    order (identity transform, asc, nulls-first) to `sort-orders` and
    flip `default-sort-order-id`, one metadata-only commit (spec
    §Sort Orders: orders are immutable and additive, like schemas and
    partition specs). O(1) regardless of table size."""
    with iceberg_meta.update(root) as tm:
        existing = tm.get("sort-orders") or [{"order-id": 0, "fields": []}]
        field_names = {
            f["id"]: f["name"]
            for s in tm["schemas"]
            for f in s["fields"]
        }
        if source_id not in field_names:
            raise ValueError(
                f"WRITE ORDERED BY references unknown field id {source_id}"
            )
        order_id = max(o["order-id"] for o in existing) + 1
        tm["sort-orders"] = existing + [
            {
                "order-id": order_id,
                "fields": [
                    {
                        "transform": "identity",
                        "source-id": source_id,
                        "direction": "asc",
                        "null-order": "nulls-first",
                    }
                ],
            }
        ]
        tm["default-sort-order-id"] = order_id
    return order_id


def _sorted_write_plan(tm: dict, df: DataFrame, n_files: int) -> DataFrame:
    """Plan the physical write the table's DECLARED sort order demands:
    resolve default-sort-order-id → source field id → column name, then
    range-repartition + local sort on it. This is exactly what a real
    engine's write path does for `WRITE ORDERED BY` — a range shuffle
    (disjoint per-task key ranges) followed by a task-local sort, so
    every data file covers a narrow, non-overlapping value range and
    metrics-based file skipping gets its selectivity. Scales as one
    shuffle of the batch being written, never O(table)."""
    order_id = tm.get("default-sort-order-id", 0)
    order = next(
        o for o in tm.get("sort-orders", []) if o["order-id"] == order_id
    )
    if not order["fields"]:
        return df  # unsorted order 0: append as-is
    src = order["fields"][0]["source-id"]
    col = next(
        f["name"]
        for s in tm["schemas"]
        for f in s["fields"]
        if f["id"] == src
    )
    return df.repartitionByRange(n_files, col).sortWithinPartitions(col)


_SORT_ORACLE = """
SELECT CAST(LEAST(CAST(floor(o_totalprice / 75000) AS BIGINT), 7)
            AS BIGINT) AS price_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents,
       CAST(MIN(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS lo_cents,
       CAST(MAX(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS hi_cents
FROM orders
GROUP BY 1
"""


@register("sink_iceberg_sort_order", oracle=_SORT_ORACLE)
def q_sink_iceberg_sort_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg SORT-ORDER WRITER: create the table (sort order 0 =
    unsorted), run `iceberg_set_sort_order` (the metadata-only `WRITE
    ORDERED BY o_totalprice` commit), then land one generation of data
    files through `_sorted_write_plan` — the range-shuffle + local-sort
    physical plan the declared order demands — and commit them with
    exact per-file value bounds read from the parquet footers.

    Runtime gates (raise, not warn):
    - the ≥2 committed files' [min, max] o_totalprice intervals are
      PAIRWISE DISJOINT — the clustering property a sorted write exists
      to produce (overlapping files ⇒ the range shuffle was skipped);
    - a narrow range query planned from the committed manifest bounds
      opens a PROPER subset of files — the payoff: on 100 TB a
      selective predicate on the sort column scans the few files whose
      bounds intersect, not the table.

    Graded on content through the committed metadata chain (manifest →
    bounds-pruned file set → scan): fixed 75k-wide price buckets with
    n_rows / total / min / max cents — a writer that drops rows in the
    shuffle, commits wrong bounds, or mis-serializes a manifest fails
    the hash. Within-file sortedness is pinned by
    tests/test_iceberg_protocol.py reading one file directly.

    Scale: the sort is one range shuffle of the written batch; the
    commit is O(files); the gates are O(files) driver-side metadata.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = _tmp(sf_dir, "iceberg_sort_order")
    data_dir = os.path.join(root, "data")
    meta_dir = os.path.join(root, "metadata")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(meta_dir, exist_ok=True)

    schema = {
        "type": "struct",
        "schema-id": 0,
        "fields": [
            {"id": 1, "name": "o_orderkey", "required": False,
             "type": "long"},
            {"id": 2, "name": "o_totalprice", "required": False,
             "type": "double"},
        ],
    }
    tm = {
        "format-version": 2,
        "table-uuid": "9f2a7b4e-1d15-4d29-8c3a-iceberg-sort",
        "location": root,
        "last-sequence-number": 0,
        "last-updated-ms": _T1,
        "last-column-id": 2,
        "schemas": [schema],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "properties": {},
        "current-snapshot-id": -1,
        "snapshots": [],
        "snapshot-log": [],
    }
    iceberg_meta.commit(meta_dir, 1, tm)

    # ALTER TABLE ... WRITE ORDERED BY o_totalprice (field id 2)
    iceberg_set_sort_order(root, source_id=2)
    with iceberg_meta.update(root) as tm:
        if tm["default-sort-order-id"] != 1:
            raise ValueError("sort-order commit did not take effect")

        # sorted write planned FROM the declared order, then commit with
        # bounds
        _sorted_write_plan(tm, o, 8).write.mode("overwrite").parquet(
            os.path.join(data_dir, "s1")
        )
        import pyarrow.parquet as pq

        base = os.path.join(data_dir, "s1")
        entries, ranges = [], []
        for f in sorted(os.listdir(base)):
            if not f.endswith(".parquet"):
                continue
            path = os.path.join(base, f)
            md = pq.ParquetFile(path).metadata
            if md.num_rows == 0:
                continue
            idx = md.schema.to_arrow_schema().names.index("o_totalprice")
            stats = [
                md.row_group(rg).column(idx).statistics
                for rg in range(md.num_row_groups)
            ]
            lo = min(s.min for s in stats)
            hi = max(s.max for s in stats)
            ranges.append((lo, hi, path))
            bounds = (
                [{"key": 2, "value": _sv_double(lo)}],
                [{"key": 2, "value": _sv_double(hi)}],
            )
            entries.append(
                entry(ADDED, _S1, 1, path, None, bounds=bounds)
            )
        m1 = write_manifest(meta_dir, "m1-sorted.avro", entries)
        l1 = write_manifest_list(
            meta_dir, _S1, [list_record(m1, entries, _S1, 1)]
        )
        iceberg_meta.add_snapshot(tm, _S1, 1, _T1, l1, "append")

    # gate 1: pairwise-disjoint file ranges (the sorted-write contract)
    ranges.sort()
    for (lo_a, hi_a, pa), (lo_b, hi_b, pb) in zip(ranges, ranges[1:]):
        if hi_a > lo_b:
            raise ValueError(
                f"sorted write produced overlapping files: "
                f"[{lo_a},{hi_a}] {pa} vs [{lo_b},{hi_b}] {pb}"
            )

    # gate 2: bounds-planned pruning — decode the COMMITTED plan's
    # bounds and plan a narrow range query; it must open a proper subset
    planned, _ = iceberg_meta.plan(_iceberg_snapshot(iceberg_meta.load(root)))
    if len(ranges) < 2:
        raise ValueError("sorted write produced fewer than 2 files")
    anchor = ranges[min(2, len(ranges) - 1)][0]
    q_lo, q_hi = anchor, anchor + 1000.0  # inside one file
    survivors = []
    for d in planned:
        lo_map = {p["key"]: p["value"] for p in d["lower_bounds"] or []}
        hi_map = {p["key"]: p["value"] for p in d["upper_bounds"] or []}
        if 2 not in lo_map or 2 not in hi_map:
            survivors.append(d["path"])  # stats-less: keep
            continue
        if _sv_double_de(hi_map[2]) >= q_lo and _sv_double_de(
            lo_map[2]
        ) <= q_hi:
            survivors.append(d["path"])
    if not survivors or len(survivors) >= len(planned):
        raise ValueError(
            f"bounds pruning opened {len(survivors)}/{len(planned)} "
            "files for a sub-file range — sorted-write clustering lost"
        )

    # graded read-back through the committed chain (all files)
    files = [d["path"] for d in planned]
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    return (
        spark.read.parquet(*sorted(files))
        .withColumn(
            "price_bucket",
            F.least(
                F.floor(F.col("o_totalprice") / 75000).cast("bigint"),
                F.lit(7).cast("bigint"),
            ),
        )
        .withColumn("cents", cents)
        .groupBy("price_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("total_cents"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
        )
    )


# --- Delta in-commit timestamps ------------------------------------------------

_ICT_ORACLE = """
SELECT s.snapshot,
       CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)), 0)
            AS BIGINT) AS total_cents
FROM (VALUES ('asof_early'), ('asof_mid'), ('asof_latest')) AS s(snapshot)
LEFT JOIN orders o
       ON ((s.snapshot = 'asof_early' AND o.o_orderkey % 2 = 0)
        OR (s.snapshot = 'asof_mid'
            AND (o.o_orderkey % 2 = 0 OR o.o_orderkey % 4 = 1))
        OR s.snapshot = 'asof_latest')
GROUP BY s.snapshot
"""


@register("src_delta_in_commit_timestamp", oracle=_ICT_ORACLE)
def q_src_delta_in_commit_timestamp(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delta IN-COMMIT TIMESTAMPS (writer feature `inCommitTimestamp`,
    minWriterVersion 7): each commit carries its authoritative time in
    `commitInfo.inCommitTimestamp` (epoch ms, strictly monotonic per
    spec), so timestamp time travel survives log-file re-uploads and
    clock skew — the failure mtime-based resolution is documented to
    have. Staged ADVERSARIALLY: three commits v0/v1/v2 (even keys,
    %4==1, %4==3) with ICTs 200 s apart but file mtimes REVERSED
    (v0 newest), so a reader trusting mtimes resolves every timestamp
    to the WRONG version.

    Runtime gates: ICTs strictly increasing (spec invariant); the
    mtime-only resolution at ts_mid DIFFERS from the ICT resolution
    (proves the adversarial fixture actually bites); the protocol
    action demands minWriterVersion 7 + writerFeatures
    [inCommitTimestamp] (reader version stays 1 — ICT is writer-only).

    Graded: three as-of snapshots (early → v0, mid → v1, latest → v2)
    resolved through `_delta_resolve_timestamp` (ICT-aware), replayed
    as ONE distributed scan with rows fanned to snapshots via a
    broadcast join — resolution is a bounded log-tail read; the data
    path is one scan regardless of snapshot count.
    """
    from random_forest_using_hadoop_spark.operators.delta_ext import (
        _delta_resolve_timestamp,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = _tmp(sf_dir, "delta_ict")
    data_dir = os.path.join(root, "data")
    log_dir = os.path.join(root, "_delta_log")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(log_dir, exist_ok=True)

    base_ict_ms = 1_700_000_000_000
    mtime_epoch = 1_000_000_000
    slices = [
        F.col("o_orderkey") % 2 == 0,
        F.col("o_orderkey") % 4 == 1,
        F.col("o_orderkey") % 4 == 3,
    ]
    for v, pred in enumerate(slices):
        before = _delta_list_files(data_dir)
        o.filter(pred).coalesce(1).write.mode("append").parquet(data_dir)
        adds = _delta_list_files(data_dir) - before
        actions = [
            {
                "commitInfo": {
                    "operation": "WRITE",
                    "inCommitTimestamp": base_ict_ms + 200_000 * v,
                }
            }
        ]
        if v == 0:
            actions.append(
                {
                    "protocol": {
                        "minReaderVersion": 1,
                        "minWriterVersion": 7,
                        "writerFeatures": ["inCommitTimestamp"],
                    }
                }
            )
            actions.append(
                {
                    "metaData": {
                        "id": "delta-ict-fixture",
                        "format": {"provider": "parquet"},
                        "configuration": {
                            "delta.enableInCommitTimestamps": "true"
                        },
                    }
                }
            )
        actions += [
            {"add": {"path": f"data/{p}", "dataChange": True}}
            for p in sorted(adds)
        ]
        commit_path = delta_log.commit(log_dir, v, actions)
        # adversarial mtimes: REVERSED order, v0 newest
        t = mtime_epoch + 100 * (len(slices) - 1 - v)
        os.utime(commit_path, (t, t))

    # gate: ICT monotonicity (spec invariant)
    icts = [
        act["commitInfo"]["inCommitTimestamp"]
        for _, act in delta_log.read_actions(log_dir)
        if "inCommitTimestamp" in act.get("commitInfo", {})
    ]
    if icts != sorted(icts) or len(set(icts)) != len(icts):
        raise ValueError(f"inCommitTimestamps not strictly monotonic: {icts}")

    ts_early = (base_ict_ms + 100_000) / 1000.0  # between ICT0 and ICT1
    ts_mid = (base_ict_ms + 300_000) / 1000.0  # between ICT1 and ICT2
    ts_late = (base_ict_ms + 10_000_000) / 1000.0
    v_early = _delta_resolve_timestamp(log_dir, ts_early)
    v_mid = _delta_resolve_timestamp(log_dir, ts_mid)
    v_late = _delta_resolve_timestamp(log_dir, ts_late)
    if (v_early, v_mid, v_late) != (0, 1, 2):
        raise ValueError(
            f"ICT resolution wrong: {(v_early, v_mid, v_late)} != (0, 1, 2)"
        )

    # gate: mtime-only resolution must DISAGREE (the fixture bites)
    mtime_best = max(
        (
            v
            for v in delta_log.list_versions(log_dir)
            if os.path.getmtime(delta_log.commit_path(log_dir, v)) <= ts_mid
        ),
        default=-1,
    )
    if mtime_best == v_mid:
        raise ValueError(
            "adversarial mtimes did not bite — fixture lost its point"
        )

    labels = local_rows(spark, 
        [(v_early, "asof_early"), (v_mid, "asof_mid"),
         (v_late, "asof_latest")],
        "version int, snapshot string",
    )
    live = (
        _delta_live_files(spark, log_dir)
        .join(F.broadcast(labels), "version")
        .select("snapshot", "fname")
    )
    data = spark.read.parquet(data_dir).withColumn(
        "fname", F.element_at(F.split(F.input_file_name(), "/"), -1)
    )
    per_snap = (
        data.join(F.broadcast(live), "fname")
        .groupBy("snapshot")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            ).alias("total_cents"),
        )
    )
    spine = local_rows(spark, 
        [("asof_early",), ("asof_mid",), ("asof_latest",)],
        "snapshot string",
    )
    return spine.join(per_snap, "snapshot", "left").select(
        "snapshot",
        F.coalesce("n_rows", F.lit(0)).cast("bigint").alias("n_rows"),
        F.coalesce("total_cents", F.lit(0))
        .cast("bigint")
        .alias("total_cents"),
    )


# --- Delta writer-side schema evolution ----------------------------------------


def _delta_schema_string(fields: list[tuple[str, str]]) -> str:
    """Serialize a Delta `schemaString` (Spark-JSON struct form)."""
    return json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": n, "type": t, "nullable": True, "metadata": {}}
                for n, t in fields
            ],
        }
    )


def _delta_latest_schema(log_dir: str) -> list[tuple[str, str]]:
    """Latest metaData action's schema as [(name, type)] — one bounded
    log-tail read (real tables serve this from the checkpoint)."""
    latest = delta_log.table_meta(log_dir).metadata.get("schemaString")
    if latest is None:
        raise ValueError("table has no metaData action — not a Delta table")
    return [
        (f["name"], f["type"])
        for f in json.loads(latest)["fields"]
    ]


def delta_append_merge_schema(
    batch: DataFrame, root: str, version: int
) -> bool:
    """`mergeSchema` APPEND: diff the batch's schema against the
    table's current metaData schema. New top-level columns are APPENDED
    to the schema and a new metaData action rides the same commit;
    a batch that CHANGES an existing column's type is REFUSED (Delta
    only auto-merges additive changes — anything else needs an explicit
    overwriteSchema). Schema-stable appends emit NO metaData action —
    re-stamping identical metadata every commit bloats the checkpoint.

    Returns whether the commit carried a schema change. Scale: the
    diff is O(columns) driver-side; the data write is the batch's own
    distributed write; the commit is O(files added).
    """
    data_dir = os.path.join(root, "data")
    log_dir = os.path.join(root, "_delta_log")
    current = _delta_latest_schema(log_dir)
    cur_types = dict(current)
    batch_fields = [
        (f.name, f.dataType.simpleString()) for f in batch.schema.fields
    ]
    for name, typ in batch_fields:
        if name in cur_types and cur_types[name] != typ:
            raise ValueError(
                f"mergeSchema cannot change column '{name}' from "
                f"{cur_types[name]} to {typ} — only additive evolution "
                "is auto-merged"
            )
    new_cols = [
        (n, t) for n, t in batch_fields if n not in cur_types
    ]
    merged = current + new_cols

    before = _delta_list_files(data_dir)
    batch.write.mode("append").parquet(data_dir)
    adds = _delta_list_files(data_dir) - before
    actions = [{"commitInfo": {"operation": "WRITE"}}]
    if new_cols:
        actions.append(_delta_evo_meta(merged))
    actions += [
        {"add": {"path": f"data/{p}", "dataChange": True}}
        for p in sorted(adds)
    ]
    delta_log.commit(log_dir, version, actions)
    return bool(new_cols)


def _delta_evo_meta(fields: list[tuple[str, str]]) -> dict:
    return {
        "metaData": {
            "id": "delta-evo-fixture",
            "format": {"provider": "parquet"},
            "schemaString": _delta_schema_string(fields),
            "partitionColumns": [],
            "configuration": {},
        }
    }


_DELTA_EVO_ORACLE = """
SELECT CASE WHEN o_orderkey % 4 <> 0 THEN o_orderstatus
            ELSE '<missing>' END AS order_status,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM orders
GROUP BY 1
"""


@register("sink_delta_schema_evolution", oracle=_DELTA_EVO_ORACLE)
def q_sink_delta_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delta WRITER-SIDE SCHEMA EVOLUTION (`mergeSchema` append), the
    Delta sibling of `sink_iceberg_schema_evolution`: v0 lands
    generation 1 (keys %4==0) under (o_orderkey, o_totalprice); v1
    appends generation 2 WITH `o_orderstatus` — the writer diffs the
    schemas, appends the new column, and rides the new `metaData`
    action in the SAME commit; v2 appends an empty-schema-change slice
    to prove schema-stable appends emit NO metaData re-stamp (gated —
    re-stamping every commit is the checkpoint-bloat anti-pattern).

    Type-changing batches are refused (pinned in
    tests/test_delta_protocol.py) — Delta auto-merges only additive
    evolution.

    The read-back resolves the LATEST schema from the log and reads
    every live file under it in ONE distributed scan — parquet scans
    under an explicit schema fill files that predate a column with
    nulls (the protocol's evolution contract), surfaced here as
    '<missing>'. Graded: per-status n_rows + cents; a writer that
    re-stamps, drops the metaData action, or reorders columns fails.

    Scale: schema diff O(columns); one scan regardless of generation
    count; commits O(files added).
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    root = _tmp(sf_dir, "delta_schema_evo")
    data_dir = os.path.join(root, "data")
    log_dir = os.path.join(root, "_delta_log")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(log_dir, exist_ok=True)

    # v0: generation 1 under the two-column schema
    gen1 = o.filter(F.col("o_orderkey") % 4 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    gen1.coalesce(1).write.mode("append").parquet(data_dir)
    v0_adds = _delta_list_files(data_dir)
    delta_log.commit(
        log_dir,
        0,
        [
            {"commitInfo": {"operation": "WRITE"}},
            _delta_evo_meta(
                [("o_orderkey", "bigint"), ("o_totalprice", "double")]
            ),
        ]
        + [
            {"add": {"path": f"data/{p}", "dataChange": True}}
            for p in sorted(v0_adds)
        ],
    )

    # v1: generation 2 WITH the new column → schema change must ride it
    gen2a = o.filter(
        (F.col("o_orderkey") % 4 != 0) & (F.col("o_orderkey") % 2 == 1)
    )
    changed = delta_append_merge_schema(gen2a.coalesce(1), root, 1)
    if not changed:
        raise ValueError("v1 append should have evolved the schema")

    # v2: same schema again → NO metaData re-stamp (gated)
    gen2b = o.filter(
        (F.col("o_orderkey") % 4 != 0) & (F.col("o_orderkey") % 2 == 0)
    )
    changed = delta_append_merge_schema(gen2b.coalesce(1), root, 2)
    if changed:
        raise ValueError("schema-stable append re-stamped metaData")
    v2_actions = delta_log.read_actions(log_dir, [2])
    if any("metaData" in act for _, act in v2_actions):
        raise ValueError("v2 commit carries a spurious metaData action")

    # read-back under the latest resolved schema — nulls fill gen 1
    from pyspark.sql import types as T

    fields = _delta_latest_schema(log_dir)
    spark_types = {
        "bigint": T.LongType(),
        "double": T.DoubleType(),
        "string": T.StringType(),
    }
    read_schema = T.StructType(
        [T.StructField(n, spark_types[t]) for n, t in fields]
    )
    live = _delta_latest_live_files(spark, root)
    files = [os.path.join(data_dir, f) for f in sorted(live)]
    return (
        spark.read.schema(read_schema).parquet(*files)
        .withColumn(
            "order_status",
            F.coalesce(F.col("o_orderstatus"), F.lit("<missing>")),
        )
        .groupBy("order_status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            ).alias("total_cents"),
        )
    )


# --- Iceberg Puffin table statistics (ndv sketches) ----------------------------

_NDV_K = 64
_NDV_SPACE = float(1 << 60)  # md5-derived 60-bit hash space

_NDV_ORACLE = f"""
WITH hk AS (
  SELECT DISTINCT ('0x' || substr(md5('f1:' || CAST(o_orderkey AS VARCHAR)),
                   1, 15))::BIGINT AS h
  FROM orders
),
hp AS (
  SELECT DISTINCT ('0x' || substr(md5('f3:' || o_orderpriority),
                   1, 15))::BIGINT AS h
  FROM orders
),
kk AS (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM hk),
kp AS (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM hp),
sk AS (
  SELECT 'o_orderkey' AS field_name,
         CAST(COUNT(*) AS BIGINT) AS n_retained,
         MAX(h) AS hmax
  FROM kk WHERE rn <= {_NDV_K}
  UNION ALL
  SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT), MAX(h)
  FROM kp WHERE rn <= {_NDV_K}
)
SELECT field_name, n_retained,
       CAST(CASE WHEN n_retained < {_NDV_K} THEN n_retained
                 ELSE floor(({_NDV_K} - 1) * {_NDV_SPACE}
                            / CAST(hmax AS DOUBLE))
            END AS BIGINT) AS ndv
FROM sk
"""


def _kmv_estimate(hashes: list[int]) -> int:
    """KMV ndv estimate from a bottom-k hash list: exact count when the
    sketch never filled, else (k-1) * SPACE / h_(k) — the standard
    estimator, floored to an integer for the footer's ndv property."""
    if len(hashes) < _NDV_K:
        return len(hashes)
    import math

    return int(math.floor((_NDV_K - 1) * _NDV_SPACE / float(max(hashes))))


@register("src_iceberg_puffin_stats", oracle=_NDV_ORACLE)
def q_src_iceberg_puffin_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg TABLE STATISTICS via Puffin (spec §Table Statistics):
    per-field ndv sketches written as blobs in a Puffin container, the
    file registered in table metadata's `statistics` list with
    `blob-metadata` carrying the standard `ndv` property — exactly the
    artifact a cost-based planner (e.g. Trino's Iceberg connector)
    reads to estimate join cardinalities WITHOUT scanning data.

    The sketch is a deterministic KMV (bottom-k of seeded md5 60-bit
    hashes, k={k}) so the DuckDB oracle rebuilds the IDENTICAL sketch
    from the raw table and matches the committed estimates exactly;
    the blob payload is this engine's packed-long KMV encoding (the
    spec's registered theta format is a library serialization this
    container does not depend on — consumers that read only the
    `ndv` property, the common planner path, interoperate).

    Write path: one distributed distinct-hash bottom-k per field (a
    bounded top-k aggregation — k longs of state regardless of
    cardinality), then a driver-side Puffin write of ≤k longs per
    field: the sketch IS the commit payload. Read path: footer →
    blob → re-estimate; a re-estimate that disagrees with the footer's
    ndv property raises (a stats file whose payload and summary
    diverge would silently corrupt planner decisions).

    The planner consumption is graded in tests/test_iceberg_protocol.py:
    with autoBroadcastJoinThreshold disabled, a join builds its
    broadcast side iff the STATS ndv says the side is small.

    Scale: stats collection is one pass with k-bounded partial aggs;
    planner reads are O(footer). Graded: (field_name, n_retained, ndv)
    per field, recomputed from the committed blob bytes.
    """.format(k=_NDV_K)
    import struct as _struct

    from random_forest_using_hadoop_spark.iceberg_format import (
        puffin_read_blob,
        puffin_read_footer,
        puffin_write,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    root = _tmp(sf_dir, "iceberg_puffin_stats")
    meta_dir = os.path.join(root, "metadata")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(meta_dir, exist_ok=True)

    def bottom_k(col_expr, seed: str) -> list[int]:
        h = F.expr(
            "cast(conv(substring(md5(concat('" + seed + "', "
            "cast(" + col_expr + " as string))), 1, 15), 16, 10) as bigint)"
        )
        rows = (
            o.select(h.alias("h"))
            .distinct()
            .orderBy("h")
            .limit(_NDV_K)
            .collect()
        )
        return [r["h"] for r in rows]

    sketches = {
        1: ("o_orderkey", bottom_k("o_orderkey", "f1:")),
        3: ("o_orderpriority", bottom_k("o_orderpriority", "f3:")),
    }
    blobs, extras = [], []
    for fid, (name, hashes) in sorted(sketches.items()):
        payload = _struct.pack(f"<{len(hashes)}q", *hashes)
        blobs.append(
            (
                payload,
                {
                    "type": "apache-datasketches-theta-v1",
                    "fields": [fid],
                    "snapshot-id": _S1,
                    "sequence-number": 1,
                    "properties": {"ndv": str(_kmv_estimate(hashes))},
                },
            )
        )
    stats_path = os.path.join(meta_dir, "stats-s1.puffin")
    blob_meta = puffin_write(stats_path, blobs)
    tm = {
        "format-version": 2,
        "table-uuid": "9f2a7b4e-1d15-4d29-8c3a-iceberg-ndvs",
        "location": root,
        "last-sequence-number": 1,
        "last-updated-ms": _T1,
        "last-column-id": 3,
        "schemas": [
            {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "o_orderkey", "required": False,
                     "type": "long"},
                    {"id": 3, "name": "o_orderpriority",
                     "required": False, "type": "string"},
                ],
            }
        ],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "properties": {},
        "current-snapshot-id": _S1,
        "snapshots": [],
        "snapshot-log": [],
        "statistics": [
            {
                "snapshot-id": _S1,
                "statistics-path": stats_path,
                "file-size-in-bytes": os.path.getsize(stats_path),
                "file-footer-size-in-bytes": 0,
                "blob-metadata": blob_meta,
            }
        ],
    }
    iceberg_meta.commit(meta_dir, 1, tm)

    # read path: metadata → statistics entry → footer → blobs → re-estimate
    tm2 = iceberg_meta.load(root)
    stat = next(
        s for s in tm2["statistics"] if s["snapshot-id"] == _S1
    )
    footer = puffin_read_footer(stat["statistics-path"])
    id_to_name = {
        f["id"]: f["name"] for f in tm2["schemas"][0]["fields"]
    }
    out = []
    for b in footer["blobs"]:
        raw = puffin_read_blob(
            stat["statistics-path"], b["offset"], b["length"]
        )
        hashes = list(_struct.unpack(f"<{len(raw) // 8}q", raw))
        est = _kmv_estimate(hashes)
        prop = int(b["properties"]["ndv"])
        if est != prop:
            raise ValueError(
                f"stats blob re-estimate {est} != footer ndv {prop} "
                f"for fields {b['fields']} — corrupt statistics file"
            )
        out.append((id_to_name[b["fields"][0]], len(hashes), est))
    return local_rows(spark, 
        out, "field_name string, n_retained bigint, ndv bigint"
    )


def iceberg_ndv_map(root: str) -> dict[str, int]:
    """Planner entry point: field name → ndv from the CURRENT metadata's
    statistics file footer (no data, no blob reads — the `ndv`
    property is summary-level, which is all a join-size estimate
    needs). O(footer) driver-side."""
    from random_forest_using_hadoop_spark.iceberg_format import (
        puffin_read_footer,
    )

    tm = iceberg_meta.load(root)
    stats = tm.get("statistics") or []
    if not stats:
        return {}
    stat = stats[-1]
    id_to_name = {
        f["id"]: f["name"]
        for s in tm["schemas"]
        for f in s["fields"]
    }
    footer = puffin_read_footer(stat["statistics-path"])
    return {
        id_to_name[b["fields"][0]]: int(b["properties"]["ndv"])
        for b in footer["blobs"]
        if b.get("properties", {}).get("ndv") is not None
    }


# --- Delta column-mapping RENAME writer ----------------------------------------


def delta_rename_column(root: str, old: str, new: str) -> None:
    """`ALTER TABLE ... RENAME COLUMN` on a `columnMapping.mode = name`
    table: flip ONLY the logical `name` in the latest metaData's
    schemaString — physicalName and columnMapping.id never change, no
    data file is touched — and commit the new metaData as the next
    version. This is the protocol feature's entire point: a rename on
    a 100 TB table is one metadata JSON write. Renaming a missing
    column or colliding with an existing logical name is refused."""
    log_dir = os.path.join(root, "_delta_log")
    version, _, latest = delta_log.table_meta(log_dir)
    if "schemaString" not in latest:
        raise ValueError("not a Delta table (no metaData action)")
    if latest.get("configuration", {}).get(
        "delta.columnMapping.mode"
    ) != "name":
        raise ValueError(
            "RENAME COLUMN requires columnMapping.mode = name — without "
            "the mapping a rename would orphan the data files' columns"
        )
    schema = json.loads(latest["schemaString"])
    names = [f["name"] for f in schema["fields"]]
    if old not in names:
        raise ValueError(f"RENAME COLUMN: no such column '{old}'")
    if new in names:
        raise ValueError(f"RENAME COLUMN: column '{new}' already exists")
    for f in schema["fields"]:
        if f["name"] == old:
            f["name"] = new
    new_md = dict(latest)
    new_md["schemaString"] = json.dumps(schema)
    delta_log.commit(
        log_dir,
        version + 1,
        [{"commitInfo": {"operation": "RENAME COLUMN"}}, {"metaData": new_md}],
    )


_CM_RENAME_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS price_cents
FROM orders
GROUP BY o_orderpriority
"""


@register("sink_delta_column_mapping_rename", oracle=_CM_RENAME_ORACLE)
def q_sink_delta_column_mapping_rename(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delta RENAME COLUMN writer (the write side of
    `src_delta_column_mapping`): stage the mapping-mode table, run
    `delta_rename_column(o_totalprice → price)` — a metadata-only
    commit — and read back through the NEW logical schema.

    Runtime gates: the data directory is BYTE-IDENTICAL across the
    rename (per-file size+mtime inventory — a rename that rewrites
    data defeats the feature); the rename commit carries a metaData
    action and NO add/remove; the new schemaString keeps every
    physicalName and columnMapping.id unchanged (ids are the identity
    of a column — changing one silently unmaps history). Refusals
    (missing column, name collision, unmapped table) are pinned in
    tests/test_delta_protocol.py.

    Graded: per-priority aggregate of the RENAMED logical column read
    through the mapping — output column `price_cents` proves the read
    resolved `price`, while the physical parquet column name never
    changed.

    Scale: the rename is one driver-side JSON write; the read is one
    distributed scan with a Catalyst alias projection.
    """
    from random_forest_using_hadoop_spark.operators.delta_ext import (
        _CMAP_PHYSICAL,
        _cmap_schema_string,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    root = _tmp(sf_dir, "delta_cmap_rename")
    data_dir = os.path.join(root, "data")
    log_dir = os.path.join(root, "_delta_log")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(log_dir, exist_ok=True)
    physical = o.select(
        *[F.col(lg).alias(ph) for lg, ph in sorted(_CMAP_PHYSICAL.items())]
    )
    physical.repartition(2).write.mode("overwrite").parquet(data_dir)
    adds = sorted(_delta_list_files(data_dir))
    delta_log.commit(
        log_dir,
        0,
        [
            {
                "metaData": {
                    "id": "cmap-rename-fixture",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": _cmap_schema_string(),
                    "partitionColumns": [],
                    "configuration": {
                        "delta.columnMapping.mode": "name",
                        "delta.columnMapping.maxColumnId": "3",
                    },
                }
            }
        ]
        + [{"add": {"path": f"data/{p}", "dataChange": True}} for p in adds],
    )

    def _inventory() -> dict[str, tuple[int, float]]:
        return {
            f: (
                os.path.getsize(os.path.join(data_dir, f)),
                os.path.getmtime(os.path.join(data_dir, f)),
            )
            for f in sorted(os.listdir(data_dir))
        }

    before = _inventory()
    delta_rename_column(root, "o_totalprice", "price")
    if _inventory() != before:
        raise ValueError("RENAME COLUMN touched data files")

    # gate: rename commit is metadata-only, ids/physical names stable
    acts = [act for _, act in delta_log.read_actions(log_dir, [1])]
    if any("add" in a or "remove" in a for a in acts):
        raise ValueError("rename commit carries file actions")
    new_schema = json.loads(
        next(a["metaData"] for a in acts if "metaData" in a)["schemaString"]
    )
    old_schema = json.loads(_cmap_schema_string())
    for nf, of in zip(new_schema["fields"], old_schema["fields"]):
        if (
            nf["metadata"]["delta.columnMapping.physicalName"]
            != of["metadata"]["delta.columnMapping.physicalName"]
            or nf["metadata"]["delta.columnMapping.id"]
            != of["metadata"]["delta.columnMapping.id"]
        ):
            raise ValueError("rename changed a physicalName or mapping id")
    if [f["name"] for f in new_schema["fields"]] != [
        "o_orderkey", "o_orderpriority", "price"
    ]:
        # _cmap_schema_string orders fields by logical name sort
        raise ValueError(
            f"unexpected logical names: "
            f"{[f['name'] for f in new_schema['fields']]}"
        )

    mapping = {
        f["metadata"]["delta.columnMapping.physicalName"]: f["name"]
        for f in new_schema["fields"]
    }
    logical = spark.read.parquet(data_dir).select(
        *[F.col(ph).alias(lg) for ph, lg in sorted(mapping.items())]
    )
    return logical.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(
            F.floor(F.col("price") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("price_cents"),
    )


# --- Iceberg partition statistics file -----------------------------------------

_PSTATS_ORACLE = """
SELECT o_orderpriority AS partition_value,
       CAST(COUNT(DISTINCT o_orderkey % 2) AS BIGINT) AS data_file_count,
       CAST(COUNT(*) AS BIGINT) AS data_record_count
FROM orders
WHERE o_orderpriority <> '1-URGENT'
GROUP BY o_orderpriority
"""


@register("src_iceberg_partition_stats", oracle=_PSTATS_ORACLE)
def q_src_iceberg_partition_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg PARTITION STATISTICS file (spec §Partition Statistics):
    a per-partition rollup (file count, record count) MATERIALIZED as
    a parquet statistics file and registered in table metadata's
    `partition-statistics` list — the artifact that answers "how big
    is each partition" without opening a single manifest, which is how
    planners cost partition-wise joins and UIs render table layouts at
    100 TB.

    Write path over the shared three-snapshot fixture (s3 deleted the
    1-URGENT partition): the rollup comes from the CURRENT snapshot's
    live manifest entries — record counts are the manifest's own
    per-file stats, so building partition stats is O(manifest
    entries), zero data bytes. Read path: metadata →
    partition-statistics entry for the current snapshot → one
    distributed parquet read of the stats file.

    Graded: (partition_value, data_file_count, data_record_count) per
    surviving partition — the deleted partition MUST be absent (stats
    built from a stale pre-delete live set fail the row count), and
    each survivor holds one slice per parity class present in its rows
    (two on the shipped fixture; the adversarial micro warehouse has
    single-parity partitions, which the oracle mirrors).

    Scale: the stats file is partition-cardinality-sized; building it
    on a real table is one pass over manifest metadata (here bounded
    driver-side lists, same class as every manifest walk in this
    layer).
    """
    from random_forest_using_hadoop_spark.operators.iceberg_ext import (
        _iceberg_stage,
        _S3,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    root = _tmp(sf_dir, "iceberg_pstats")
    _iceberg_stage(spark, o, root)

    # build the rollup from the CURRENT snapshot's live entries
    with iceberg_meta.update(root) as tm:
        snap = _iceberg_snapshot(tm, None)
        per_part: dict[str, list[int, int]] = {}
        for m in iceberg_meta.manifests(snap):
            for e in iceberg_meta.entries(m):
                if e["status"] == DELETED:  # not live
                    continue
                pval = next(iter(e["data_file"]["partition"].values()))
                agg = per_part.setdefault(pval, [0, 0])
                agg[0] += 1
                agg[1] += e["data_file"]["record_count"]
        stats_dir = os.path.join(root, "metadata", "partition-stats-s3")
        local_rows(spark, 
            [(p, c[0], c[1]) for p, c in sorted(per_part.items())],
            "partition_value string, data_file_count bigint, "
            "data_record_count bigint",
        ).coalesce(1).write.mode("overwrite").parquet(stats_dir)

        # register in table metadata (one metadata-only commit)
        tm["partition-statistics"] = [
            {
                "snapshot-id": _S3,
                "statistics-path": stats_dir,
                "file-size-in-bytes": sum(
                    os.path.getsize(os.path.join(stats_dir, f))
                    for f in os.listdir(stats_dir)
                    if f.endswith(".parquet")
                ),
            }
        ]

    # read path: discovery through the committed metadata only
    tm2 = iceberg_meta.load(root)
    entry = next(
        s
        for s in tm2["partition-statistics"]
        if s["snapshot-id"] == tm2["current-snapshot-id"]
    )
    return spark.read.parquet(entry["statistics-path"]).select(
        "partition_value", "data_file_count", "data_record_count"
    )


# --- Iceberg cherry-pick -------------------------------------------------------

_CHERRY_ORACLE = """
WITH final AS (
  SELECT o_orderpriority,
         CASE WHEN o_orderpriority <> '1-URGENT' THEN o_totalprice
              WHEN o_orderkey % 2 = 0 THEN o_totalprice + 7
              ELSE o_totalprice + 2 END AS price
  FROM orders
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(price * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM final
GROUP BY o_orderpriority
"""


@register("sink_iceberg_cherrypick", oracle=_CHERRY_ORACLE)
def q_sink_iceberg_cherrypick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg CHERRY-PICK (`cherrypick_snapshot`): apply ONE branch
    snapshot's changes onto a main that has ADVANCED past the fork —
    the case fast-forward (sink_iceberg_publish_wap) cannot handle.

    History over the shared base (live after s3 = the non-urgent
    rows): s4 on branch `feature` appends the urgent EVEN keys at
    +7.00; s5 lands independently on MAIN appending the urgent ODD
    keys at +2.00. Fast-forwarding main to s4 would LOSE s5; the
    cherry-pick instead creates s6 on main = s5's manifests + a fresh
    manifest materializing s4's added files, stamped by the new
    snapshot (O(picked files) metadata, zero data bytes — the data
    files are SHARED by path), with `source-snapshot-id` recorded in
    the summary per the spec's cherry-pick convention.

    Runtime gates: the data-file inventory is IDENTICAL before/after
    the pick (a pick that copies data defeats the operation); the
    `feature` branch head is untouched; s6's summary records
    source-snapshot-id = s4.

    Graded: main's post-pick content — non-urgent originals + urgent
    evens at +7 (picked) + urgent odds at +2 (main's own advance). A
    pick that drops s5's manifests, double-applies s4, or re-stamps
    carried sequence numbers shifts counts or cents and fails.

    Scale: the pick is O(picked manifests) metadata; main readers see
    one atomic new snapshot.
    """
    from random_forest_using_hadoop_spark.operators.iceberg_ext import (
        _S3,
        _iceberg_stage,
        _pfiles,
        _T3,
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    root = _tmp(sf_dir, "iceberg_cherry")
    _iceberg_stage(spark, o, root)
    data_dir = os.path.join(root, "data")
    meta_dir = os.path.join(root, "metadata")
    s4, s5, s6 = _S3 + 1, _S3 + 2, _S3 + 3
    urgent = "1-URGENT"

    # s4 on branch `feature`: urgent EVENS at +7
    o.filter(
        (F.col("o_orderpriority") == urgent)
        & (F.col("o_orderkey") % 2 == 0)
    ).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(7.0)
    ).coalesce(1).write.mode("overwrite").partitionBy(
        "o_orderpriority"
    ).parquet(os.path.join(data_dir, "s4"))
    def _append_list(tm: dict, sid: int, seq: int, name: str, files) -> str:
        """The manifest list of an append on top of main's head: main's
        manifests carried, plus one new manifest of `files`."""
        entries = [entry(ADDED, sid, seq, p, v) for p, v in files]
        m = write_manifest(meta_dir, name, entries)
        return write_manifest_list(
            meta_dir,
            sid,
            iceberg_meta.manifests(_iceberg_snapshot(tm))
            + [list_record(m, entries, sid, seq)],
            tag="cherry",
        )

    with iceberg_meta.update(root) as tm:
        l4 = _append_list(
            tm, s4, 4, "m4-cherry.avro", _pfiles(data_dir, "s4")
        )
        iceberg_meta.add_snapshot(
            tm, s4, 4, _T3 + 60_000, l4, "append", branch="feature"
        )

    # s5 lands on MAIN independently: urgent ODDS at +2
    o.filter(
        (F.col("o_orderpriority") == urgent)
        & (F.col("o_orderkey") % 2 == 1)
    ).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(2.0)
    ).coalesce(1).write.mode("overwrite").partitionBy(
        "o_orderpriority"
    ).parquet(os.path.join(data_dir, "s5"))
    with iceberg_meta.update(root) as tm:
        l5 = _append_list(
            tm, s5, 5, "m5-cherry.avro", _pfiles(data_dir, "s5")
        )
        iceberg_meta.add_snapshot(tm, s5, 5, _T3 + 120_000, l5, "append")

    def _data_inventory() -> dict[str, int]:
        out = {}
        for dirpath, _, files in os.walk(data_dir):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    out[p] = os.path.getsize(p)
        return out

    inv_before = _data_inventory()

    # CHERRY-PICK s4 onto main → s6: s5's manifests + a fresh manifest
    # of s4's added files stamped by the new snapshot
    with iceberg_meta.update(root) as tm:
        l6 = _append_list(
            tm, s6, 6, "m6-cherrypicked.avro", _pfiles(data_dir, "s4")
        )
        iceberg_meta.add_snapshot(
            tm, s6, 6, _T3 + 180_000, l6, "append",
            summary={"operation": "append", "source-snapshot-id": str(s4)},
        )

    # gates: shared data files, untouched branch, recorded provenance
    if _data_inventory() != inv_before:
        raise ValueError("cherry-pick wrote or changed data files")
    tm2 = iceberg_meta.load(root)
    if tm2["refs"]["feature"]["snapshot-id"] != s4:
        raise ValueError("cherry-pick moved the source branch")
    s6_meta = next(
        s for s in tm2["snapshots"] if s["snapshot-id"] == s6
    )
    if s6_meta["summary"].get("source-snapshot-id") != str(s4):
        raise ValueError("cherry-pick lost its provenance summary")

    # read main after the pick
    snap = _iceberg_snapshot(tm2, ref="main")
    files, _ = iceberg_meta.plan(snap)
    by_val: dict[str, list[str]] = {}
    for d in files:
        by_val.setdefault(d["pval"], []).append(d["path"])
    scans = [
        spark.read.parquet(*sorted(paths)).select(
            "o_orderkey",
            "o_totalprice",
            F.lit(v).alias("o_orderpriority"),
        )
        for v, paths in sorted(by_val.items())
    ]
    out = scans[0]
    for s in scans[1:]:
        out = out.unionByName(s)
    return out.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("total_cents"),
    )
