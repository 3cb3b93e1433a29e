"""Delta-protocol generality extensions (r11): column mapping, stats
data skipping, and deletion vectors — the three features the r10
verdict named as the reader layer's residual gaps vs the open spec
(delta-io PROTOCOL.md; no delta-spark is used anywhere).

Each key stages its own protocol-correct table from the shipped
`orders` fixture (the repo-wide staging pattern from operators/scans.py)
and grades the READER against a DuckDB oracle over the unstaged source
of truth, so a reader that ignores the protocol feature — maps no
columns, opens every file, or returns deleted rows — fails on values,
not just on plan shape.

Scale stance (100 TB): all three features exist precisely to keep big
tables cheap — column mapping makes renames metadata-only (no data
rewrite), stats skipping plans a pruned scan from the LOG without
touching a single parquet footer, and deletion vectors make deletes
O(deleted rows) instead of O(file rewrite). The implementations keep
the protocol metadata driver-side (bounded by files / deleted rows, the
same class as a real reader's snapshot state) and the data path fully
distributed.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from random_forest_using_hadoop_spark import delta_log
from random_forest_using_hadoop_spark.delta_format import (
    dv_inline_descriptor,
    dv_on_disk_descriptors,
    dv_read,
)
from random_forest_using_hadoop_spark.delta_log import (
    _delta_commit,
    _delta_latest_live_files,
    _delta_live_files,
    _delta_max_version,
)
from random_forest_using_hadoop_spark.helpers import local_rows
from random_forest_using_hadoop_spark.operators.scans import (
    _delta_list_files,
    _delta_stage_history,
    _norm_file_uri,
    _tmp,
)
from random_forest_using_hadoop_spark.registry import register
from random_forest_using_hadoop_spark.sources import load_table


# --- column mapping ----------------------------------------------------------

_CMAP_PHYSICAL = {
    "o_orderkey": "col-8f2a1c",
    "o_totalprice": "col-3d9b77",
    "o_orderpriority": "col-c41e05",
}

_CMAP_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM orders
GROUP BY o_orderpriority
"""


def _cmap_schema_string() -> str:
    """Spark-schema JSON with per-field `delta.columnMapping.id` /
    `delta.columnMapping.physicalName` metadata — the exact
    `metaData.schemaString` shape `columnMapping.mode = name` tables
    carry per the open protocol."""
    fields = []
    for i, (logical, physical) in enumerate(sorted(_CMAP_PHYSICAL.items())):
        dtype = "long" if logical == "o_orderkey" else (
            "double" if logical == "o_totalprice" else "string"
        )
        fields.append(
            {
                "name": logical,
                "type": dtype,
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": i + 1,
                    "delta.columnMapping.physicalName": physical,
                },
            }
        )
    return json.dumps({"type": "struct", "fields": fields})


@register("src_delta_column_mapping", oracle=_CMAP_ORACLE)
def q_src_delta_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta COLUMN MAPPING (`delta.columnMapping.mode = name`) read:
    the table's parquet files store opaque PHYSICAL column names
    (`col-<id>`), and the logical schema lives only in the log's
    `metaData.schemaString`, whose per-field metadata carries
    `delta.columnMapping.physicalName` — the protocol feature that
    makes column renames/drops metadata-only operations at 100 TB
    (no data-file rewrite; delta-io PROTOCOL.md §Column Mapping).

    Staged: orders' three columns written under physical names, one
    commit whose `metaData` action carries the mapping schemaString
    (`configuration: {"delta.columnMapping.mode": "name"}`) plus the
    adds. The reader replays the log, takes the LATEST metaData
    action, parses schemaString driver-side (bounded metadata — the
    schema, not the data), and projects each physical column back to
    its logical name before aggregating per priority. A reader that
    ignores the mapping finds NO logical column in the files and
    crashes; one that mis-maps aggregates the wrong physical column
    and fails the value hash.

    Scale: the mapping applies as a Catalyst projection (alias) on one
    distributed parquet scan — pushdown/pruning see the physical
    columns, so nothing about skipping changes; metaData parse is one
    driver-side JSON of schema size.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    root = _tmp(sf_dir, "delta_cmap")
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
                    "id": "cmap-fixture",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": _cmap_schema_string(),
                    "partitionColumns": [],
                    "configuration": {"delta.columnMapping.mode": "name"},
                }
            }
        ]
        + [{"add": {"path": f"data/{p}", "dataChange": True}} for p in adds],
    )

    # --- reader: latest metaData wins (schema evolution rule), then a
    # plain distributed scan with physical→logical aliases
    metas = (
        delta_log.read_log(spark, log_dir)
        .filter(F.col("metaData.schemaString").isNotNull())
        .orderBy(F.col("version").desc())
        .select("metaData.schemaString", "metaData.configuration")
        .take(1)  # driver-side: ONE schema row, not data
    )
    schema_json = json.loads(metas[0]["schemaString"])
    assert metas[0]["configuration"]["delta.columnMapping.mode"] == "name"
    mapping = {
        f["metadata"]["delta.columnMapping.physicalName"]: f["name"]
        for f in schema_json["fields"]
    }
    logical = spark.read.parquet(data_dir).select(
        *[F.col(ph).alias(lg) for ph, lg in sorted(mapping.items())]
    )
    return logical.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("total_cents"),
    )


# --- stats-based data skipping ----------------------------------------------

_SKIP_LO, _SKIP_HI = 500, 3000

_SKIP_ORACLE = f"""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM orders
WHERE o_orderkey BETWEEN {_SKIP_LO} AND {_SKIP_HI}
GROUP BY o_orderpriority
"""


def _stage_stats_table(spark: SparkSession, o: DataFrame, root: str) -> None:
    """Stage an 8-file range-clustered orders table whose single commit
    carries per-file `stats` JSON (`numRecords` / `minValues` /
    `maxValues` on o_orderkey) in each add action, per the protocol's
    Per-file Statistics section. The per-file min/max come from ONE
    distributed pass grouping rows by input_file_name — never a
    per-file driver loop."""
    data_dir = os.path.join(root, "data")
    log_dir = os.path.join(root, "_delta_log")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(log_dir, exist_ok=True)
    o.repartitionByRange(8, "o_orderkey").write.mode("overwrite").parquet(
        data_dir
    )
    file_stats = (
        spark.read.parquet(data_dir)
        .withColumn(
            "fname", F.element_at(F.split(F.input_file_name(), "/"), -1)
        )
        .groupBy("fname")
        .agg(
            F.count(F.lit(1)).alias("num"),
            F.min("o_orderkey").alias("lo"),
            F.max("o_orderkey").alias("hi"),
        )
        .collect()  # ≤8 rows: file-level metadata for the commit json
    )
    delta_log.commit(
        log_dir,
        0,
        [{"commitInfo": {"operation": "WRITE"}}]
        + [
            {
                "add": {
                    "path": f"data/{r['fname']}",
                    "dataChange": True,
                    "stats": json.dumps(
                        {
                            "numRecords": r["num"],
                            "minValues": {"o_orderkey": r["lo"]},
                            "maxValues": {"o_orderkey": r["hi"]},
                            "nullCount": {"o_orderkey": 0},
                        }
                    ),
                }
            }
            for r in sorted(file_stats, key=lambda r: r["fname"])
        ],
    )


def _stats_surviving_files(
    spark: SparkSession, log_dir: str, lo: int, hi: int
) -> list[str]:
    """[[_stats_surviving_files_for]] on o_orderkey."""
    return _stats_surviving_files_for(spark, log_dir, "o_orderkey", lo, hi)


@register("src_delta_stats_skipping", oracle=_SKIP_ORACLE)
def q_src_delta_stats_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA SKIPPING from the Delta log's per-file statistics: every
    `add` action carries a `stats` JSON (numRecords / minValues /
    maxValues / nullCount per the open protocol), so a range predicate
    selects data files from the LOG ALONE — no directory listing, no
    parquet footers, no file opened that the stats exclude. This is the
    lake-format mechanism that turns a 100 TB point-range query into a
    scan of the handful of range-clustered files that can contain
    matches (the log's stats column is the coarse zone map; parquet
    row-group pruning then refines inside each surviving file).

    Staged: orders range-clustered into 8 files by o_orderkey
    (repartitionByRange — the layout a real table gets from OPTIMIZE
    ZORDER's 1-D degenerate case), each add carrying its true min/max.
    The reader evaluates the interval-overlap rule `NOT (max < lo OR
    min > hi)` over the action table, hands ONLY surviving paths to the
    parquet source, re-applies the row-level predicate (file-granular
    stats are necessarily coarser), and aggregates per priority against
    the oracle computed over the unstaged table. Files without stats
    are conservatively kept — stats are optional per spec.
    `tests/test_plans.py::test_delta_stats_skipping_reads_only_surviving_files`
    asserts the scan's input files are exactly the stats-surviving set.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    root = _tmp(sf_dir, "delta_stats")
    log_dir = os.path.join(root, "_delta_log")
    _stage_stats_table(spark, o, root)
    surviving = _stats_surviving_files(spark, log_dir, _SKIP_LO, _SKIP_HI)
    if not surviving:
        return local_rows(spark, 
            [], "o_orderpriority string, n_rows long, total_cents long"
        )
    df = spark.read.parquet(
        *[os.path.join(root, p) for p in surviving]
    ).filter(F.col("o_orderkey").between(_SKIP_LO, _SKIP_HI))
    return df.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("total_cents"),
    )


# --- deletion vectors --------------------------------------------------------

_DV_ORACLE = """
SELECT CAST(o_orderkey % 2 AS BIGINT) AS parity,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM orders
WHERE o_orderkey % 10 <> 0 AND o_orderkey % 10 <> 5
GROUP BY o_orderkey % 2
"""


@register("src_delta_deletion_vector", oracle=_DV_ORACLE)
def q_src_delta_deletion_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETION-VECTOR-aware read (delta-io PROTOCOL.md §Deletion
    Vectors): a delete marks row POSITIONS inside a data file via a
    roaring bitmap instead of rewriting the file — O(deleted rows)
    commit cost at 100 TB. BOTH storage forms the spec defines for
    table data are staged and graded in one history: v1 re-adds the
    even-orderkey file with an ON-DISK DV (`storageType: "u"` — spec
    file layout: version byte, big-endian size prefix, portable
    RoaringBitmapArray, CRC-32 suffix; path derived from the
    descriptor's `<prefix><Z85 uuid>` per the spec's rules) marking the
    o_orderkey % 10 == 0 rows; v2 re-adds the odd-orderkey file with an
    INLINE DV (`storageType: "i"`, Z85-armored) marking the
    o_orderkey % 10 == 5 rows. delta_format.py implements the full
    codec stack from the published specs.

    Reader semantics graded by the oracle: the latest snapshot must
    drop precisely the DV-marked positions of BOTH files — a reader
    that ignores descriptors returns the deleted rows (wrong counts),
    one that mis-decodes either storage form or mis-resolves the "u"
    path drops the wrong rows (wrong cents) or crashes. The scan
    attaches `_metadata.row_index` (Spark's per-file row position — the
    same coordinate the spec's DVs index), broadcast-anti-joins the
    decoded (file, position) set, and aggregates by key parity.

    Scale: DV decode is driver-side and ∝ deleted cardinality (the
    descriptor records it) — the same bounded metadata a real reader
    materializes per file; the deleted-position frame broadcasts
    against the distributed scan, so data never funnels.

    Staging note: computing each DV requires reading the target file
    once with row positions and collecting the matching positions —
    that collect is ∝ deleted rows and lands IN the commit payload
    (json + DV file), which is driver-written by definition.
    """

    def _dv_positions(fname: str, mod: int) -> list[int]:
        return [
            r["ri"]
            for r in spark.read.parquet(os.path.join(data_dir, fname))
            .select(F.col("_metadata.row_index").alias("ri"), "o_orderkey")
            .filter(F.col("o_orderkey") % 10 == mod)
            .collect()
        ]

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = _tmp(sf_dir, "delta_dv")
    data_dir = os.path.join(root, "data")
    log_dir = os.path.join(root, "_delta_log")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(log_dir, exist_ok=True)
    # v0: evens file + odds file (single file each → deterministic DV target)
    o.filter(F.col("o_orderkey") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(data_dir)
    (even_file,) = _delta_list_files(data_dir)
    o.filter(F.col("o_orderkey") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(data_dir)
    (odd_file,) = _delta_list_files(data_dir) - {even_file}
    delta_log.commit(
        log_dir,
        0,
        [
            {"add": {"path": f"data/{p}", "dataChange": True}}
            for p in sorted([even_file, odd_file])
        ],
    )
    # v1: DELETE o_orderkey % 10 == 0 → ON-DISK DV on the evens file,
    # under a random-style 2-char prefix (uuid pinned for determinism)
    (dv_even,) = dv_on_disk_descriptors(
        [_dv_positions(even_file, 0)],
        root,
        prefix="ab",
        uuid_hex="7d1ce21bd04e4d1a8f29a3c56e00d012",
    )
    dv_add = {"path": f"data/{even_file}", "dataChange": True}
    delta_log.commit(
        log_dir, 1, [{"add": {**dv_add, "deletionVector": dv_even}}]
    )
    # v2: DELETE o_orderkey % 10 == 5 → INLINE DV on the odds file
    dv_odd = dv_inline_descriptor(_dv_positions(odd_file, 5))
    dv_add = {"path": f"data/{odd_file}", "dataChange": True}
    delta_log.commit(
        log_dir, 2, [{"add": {**dv_add, "deletionVector": dv_odd}}]
    )

    # --- reader: latest add per path carries the authoritative DV
    latest = (
        delta_log.read_log(spark, log_dir)
        .filter(F.col("add.path").isNotNull())
        .groupBy(F.col("add.path").alias("path"))
        .agg(F.max_by("add.deletionVector", "version").alias("dv"))
        .collect()  # bounded: one row per live file (snapshot state)
    )
    del_rows = []
    for r in latest:
        if r["dv"] is not None and r["dv"]["storageType"] is not None:
            fname = os.path.basename(r["path"])
            for pos in dv_read(r["dv"].asDict(), root):
                del_rows.append((fname, pos))
    data = spark.read.parquet(data_dir).select(
        "o_orderkey",
        "o_totalprice",
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("fname"),
        F.col("_metadata.row_index").alias("pos"),
    )
    if del_rows:
        dv_frame = local_rows(spark, del_rows, "fname string, pos long")
        data = data.join(F.broadcast(dv_frame), ["fname", "pos"], "left_anti")
    return data.groupBy(
        (F.col("o_orderkey") % 2).cast("bigint").alias("parity")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("total_cents"),
    )


# --- change data feed --------------------------------------------------------

_CDF_ORACLE = """
WITH ev AS (
  SELECT o_orderkey AS k, o_totalprice AS p
  FROM orders WHERE o_orderkey % 2 = 0
),
feed AS (
  SELECT 0 AS version, 'insert' AS change_type,
         floor(p * 100 + 0.5) AS cents
  FROM ev
  UNION ALL
  SELECT 1, 'update_preimage', floor(p * 100 + 0.5)
  FROM ev WHERE k % 10 = 0
  UNION ALL
  SELECT 1, 'update_postimage', floor((p + 1.0) * 100 + 0.5)
  FROM ev WHERE k % 10 = 0
  UNION ALL
  SELECT 2, 'delete', floor((p + 1.0) * 100 + 0.5)
  FROM ev WHERE k % 20 = 0
  UNION ALL
  SELECT 3, 'delete',
         CASE WHEN k % 10 = 0 THEN floor((p + 1.0) * 100 + 0.5)
              ELSE floor(p * 100 + 0.5) END
  FROM ev WHERE k % 20 <> 0
)
SELECT version, change_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(cents AS BIGINT)) AS BIGINT) AS total_cents
FROM feed
GROUP BY version, change_type
"""


def _stage_cdf_history(spark: SparkSession, o: DataFrame, root: str) -> None:
    """Stage the shared four-commit CDF history under `root` (wiped
    first) over the even-orderkey slice: v0 INSERT (no cdc action),
    v1 UPDATE (+1.00 on % 10 == 0; rewrite + pre/postimage cdc file),
    v2 DELETE (% 20 == 0; rewrite + delete-row cdc file), v3
    FULL-TABLE DELETE (remove-only, cdc-less — the removed files ARE
    the feed). Shared by src_delta_cdf (batch) and stream_delta_cdf
    (availableNow streaming) so protocol fixes land in one place."""
    data_dir = os.path.join(root, "data")
    cdc_dir = os.path.join(root, "_change_data")
    log_dir = os.path.join(root, "_delta_log")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(log_dir, exist_ok=True)
    ev = o.filter(F.col("o_orderkey") % 2 == 0)

    def _write_slice(df: DataFrame, out_dir: str, tag: str) -> list[str]:
        """Append df under out_dir/tag as parquet; return rel paths."""
        sub = os.path.join(out_dir, tag)
        df.coalesce(1).write.mode("overwrite").parquet(sub)
        rel = os.path.relpath(sub, root)
        return [
            f"{rel}/{f}"
            for f in sorted(os.listdir(sub))
            if f.endswith(".parquet")
        ]

    # the five data/cdc slices land in DISJOINT subdirs and derive only
    # from the input frame — independent jobs, run concurrently (guide
    # §2.6) and committed in order once all names are known
    updated = ev.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 10 == 0, F.col("o_totalprice") + F.lit(1.0)
        ).otherwise(F.col("o_totalprice")),
    )
    pre = ev.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "_change_type", F.lit("update_preimage")
    )
    post = updated.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "_change_type", F.lit("update_postimage")
    )
    kept = updated.filter(F.col("o_orderkey") % 20 != 0)
    deleted = updated.filter(F.col("o_orderkey") % 20 == 0).withColumn(
        "_change_type", F.lit("delete")
    )
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=5) as pool:
        futs = {
            name: pool.submit(_write_slice, df, out_dir, tag)
            for name, df, out_dir, tag in (
                ("v0", ev, data_dir, "v0"),
                ("v1", updated, data_dir, "v1"),
                ("v1c", pre.unionByName(post), cdc_dir, "v1"),
                ("v2", kept, data_dir, "v2"),
                ("v2c", deleted, cdc_dir, "v2"),
            )
        }
        got = {name: f.result() for name, f in futs.items()}
    v0_files, v1_files, v1_cdc = got["v0"], got["v1"], got["v1c"]
    v2_files, v2_cdc = got["v2"], got["v2c"]

    def _acts(kind: str, paths: list[str], data_change: bool) -> list[dict]:
        return [{kind: {"path": p, "dataChange": data_change}} for p in paths]

    # v0: INSERT evens (no cdc action — feed derives from the add)
    delta_log.commit(log_dir, 0, _acts("add", v0_files, True))
    # v1: UPDATE — +1.00 on %10 keys; rewrite file + cdc pre/postimage
    delta_log.commit(
        log_dir,
        1,
        _acts("cdc", v1_cdc, False)
        + _acts("add", v1_files, True)
        + _acts("remove", v0_files, True),
    )
    # v2: DELETE %20 keys — rewrite file + cdc delete rows
    delta_log.commit(
        log_dir,
        2,
        _acts("cdc", v2_cdc, False)
        + _acts("add", v2_files, True)
        + _acts("remove", v1_files, True),
    )
    # v3: FULL-TABLE DELETE — remove-only, NO cdc action (a whole-file
    # delete writes no change files; the removed files are the feed)
    delta_log.commit(log_dir, 3, _acts("remove", v2_files, True))


@register("src_delta_cdf", oracle=_CDF_ORACLE)
def q_src_delta_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED read (delta-io PROTOCOL.md §Add CDC File): a
    commit that rewrites data files also writes row-level change files
    under `_change_data/`, referenced by `cdc` actions, each row tagged
    `_change_type` ∈ {insert, update_preimage, update_postimage,
    delete}. A downstream consumer reads the FEED — O(changed rows) —
    instead of diffing snapshots — O(table) — which is the only viable
    shape when a 100 TB table changes a few million rows per commit.
    This closes the CDC residual stream_delta_commits documents
    ("real row-level deletes need the protocol's Change Data Feed").

    Staged history over the even-orderkey slice: v0 = pure INSERT (no
    cdc action — per spec the feed for an add-only commit IS its added
    rows), v1 = UPDATE adding 1.00 to every o_orderkey % 10 == 0 price
    (file rewritten; cdc file carries the preimage AND postimage rows),
    v2 = DELETE of o_orderkey % 20 == 0 (file rewritten; cdc file
    carries the deleted rows at their post-update prices), v3 =
    FULL-TABLE DELETE as a cdc-LESS remove-only commit (a whole-file
    delete writes no cdc files — the removed files themselves ARE the
    delete feed). The spec rules the oracle enforces: when a commit
    carries ANY cdc action the reader must take the feed FROM the cdc
    files alone — deriving it from the rewritten add/remove files
    double-counts every untouched row in the rewritten file; when a
    commit carries NO cdc action, rows in dataChange adds are inserts
    AND rows in dataChange removes are deletes — a reader that derives
    only the insert half silently loses every full-file delete.

    Reader plan: the log is bounded driver metadata (one replay);
    cdc files and insert-derived add files are then read in ONE
    distributed scan each, rows tagged to versions via input_file_name
    against a broadcast (file → version) map, one grouped agg — jobs
    per refresh are constant, not ∝ versions, the same shape as
    _cdc_version_stats. Price arithmetic note: the post-update cents
    use the IEEE sequence floor((p + 1.0)*100 + 0.5) on BOTH engines —
    (p+1.0)*100 and p*100+100 can floor differently, so the oracle
    states the exact staged expression.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = _tmp(sf_dir, "delta_cdf")
    log_dir = os.path.join(root, "_delta_log")
    _stage_cdf_history(spark, o, root)

    # --- reader: the log is bounded driver metadata, one replay
    cdc_by_v: dict[int, list[str]] = {}
    add_by_v: dict[int, list[str]] = {}
    rm_by_v: dict[int, list[str]] = {}
    for v, act in delta_log.read_actions(log_dir):
        if "cdc" in act:
            cdc_by_v.setdefault(v, []).append(act["cdc"]["path"])
        elif "add" in act and act["add"].get("dataChange"):
            add_by_v.setdefault(v, []).append(act["add"]["path"])
        elif "remove" in act and act["remove"].get("dataChange"):
            rm_by_v.setdefault(v, []).append(act["remove"]["path"])
    # spec rule: a commit WITH cdc actions feeds from them exclusively;
    # only cdc-less commits derive their feed from dataChange actions —
    # rows in added files are inserts, rows in removed files are
    # deletes (e.g. a full-file DELETE writes no cdc files at all)
    insert_by_v = {v: ps for v, ps in add_by_v.items() if v not in cdc_by_v}
    delete_by_v = {v: ps for v, ps in rm_by_v.items() if v not in cdc_by_v}

    def _tagged_read(paths_by_v: dict[int, list[str]]) -> DataFrame | None:
        if not paths_by_v:
            return None
        fmap = local_rows(spark, 
            [
                (os.path.basename(p), v)
                for v, ps in paths_by_v.items()
                for p in ps
            ],
            "fname string, version int",
        )
        return (
            spark.read.parquet(
                *sorted(
                    os.path.join(root, p)
                    for ps in paths_by_v.values()
                    for p in ps
                )
            )
            .withColumn(
                "fname",
                F.element_at(F.split(F.input_file_name(), "/"), -1),
            )
            .join(F.broadcast(fmap), "fname")
        )

    feeds = []
    cdc_feed = _tagged_read(cdc_by_v)
    if cdc_feed is not None:
        feeds.append(
            cdc_feed.select(
                "version",
                F.col("_change_type").alias("change_type"),
                "o_totalprice",
            )
        )
    ins_feed = _tagged_read(insert_by_v)
    if ins_feed is not None:
        feeds.append(
            ins_feed.select(
                "version",
                F.lit("insert").alias("change_type"),
                "o_totalprice",
            )
        )
    del_feed = _tagged_read(delete_by_v)
    if del_feed is not None:
        feeds.append(
            del_feed.select(
                "version",
                F.lit("delete").alias("change_type"),
                "o_totalprice",
            )
        )
    if not feeds:
        return local_rows(spark, 
            [],
            "version int, change_type string, n_rows long, total_cents long",
        )
    feed = feeds[0]
    for f in feeds[1:]:
        feed = feed.unionByName(f)
    return feed.groupBy("version", "change_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("total_cents"),
    )


# --- transactional replaceWhere overwrite ------------------------------------

_RW_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM orders
WHERE o_orderpriority <> '1-URGENT' OR o_totalprice > 1000
GROUP BY o_orderpriority
"""


@register("sink_delta_replacewhere", oracle=_RW_ORACLE)
def q_sink_delta_replacewhere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writer-side transactional REPLACE WHERE (the lake idiom for
    partition backfills): one atomic commit removes every live file of
    the predicate's partition and adds its replacement files — readers
    see the old partition or the new one, never a mix, because
    visibility flips on the single commit json (the protocol's
    atomicity unit). At 100 TB this is how a daily partition is
    recomputed in place without touching the other 99.97% of the table.

    Staged: orders partitioned by o_orderpriority (commit 0, one add
    per partition file with its partitionValues, the
    src_delta_partition_prune layout), then REPLACE WHERE
    o_orderpriority = '1-URGENT' with the slice filtered to
    o_totalprice > 1000 (commit 1: remove of every urgent file + adds
    of the replacement — writer validates the new rows satisfy the
    predicate, per the replaceWhere contract). The reader replays the
    log ([[_delta_live_files]] at the latest version), restores the
    partition column from each surviving add's partitionValues, and
    aggregates per priority: urgent must show ONLY the >1000 rows
    while every other partition is byte-identical to commit 0 — a
    writer that leaks old urgent files (or drops a non-urgent one)
    fails the value hash.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    root = _tmp(sf_dir, "delta_rw")
    data_dir = os.path.join(root, "data")
    log_dir = os.path.join(root, "_delta_log")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(log_dir, exist_ok=True)

    def _partition_adds() -> list[tuple[str, str]]:
        """(rel_path, priority) for every partition data file on disk."""
        out = []
        for d in sorted(os.listdir(data_dir)):
            pdir = os.path.join(data_dir, d)
            if not (
                os.path.isdir(pdir) and d.startswith("o_orderpriority=")
            ):
                continue
            pval = d.split("=", 1)[1]
            out.extend(
                (f"data/{d}/{f}", pval)
                for f in sorted(os.listdir(pdir))
                if f.endswith(".parquet")
            )
        return out

    o.repartition(1).write.mode("overwrite").partitionBy(
        "o_orderpriority"
    ).parquet(data_dir)
    def _add(p: str, v: str) -> dict:
        return {
            "add": {
                "path": p,
                "partitionValues": {"o_orderpriority": v},
                "dataChange": True,
            }
        }

    base_adds = _partition_adds()
    delta_log.commit(log_dir, 0, [_add(p, v) for p, v in base_adds])

    # REPLACE WHERE o_orderpriority = '1-URGENT': writer-side predicate
    # validation, then one atomic remove+add commit
    replacement = o.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 1000)
    )
    assert (
        replacement.filter(F.col("o_orderpriority") != "1-URGENT").count()
        == 0
    ), "replaceWhere: new rows must satisfy the predicate"
    replacement.repartition(1).write.mode("append").partitionBy(
        "o_orderpriority"
    ).parquet(data_dir)
    after = _partition_adds()
    base_set = {p for p, _ in base_adds}
    new_urgent = [
        (p, v) for p, v in after if v == "1-URGENT" and p not in base_set
    ]
    old_urgent = [(p, v) for p, v in base_adds if v == "1-URGENT"]
    delta_log.commit(
        log_dir,
        1,
        [_add(p, v) for p, v in new_urgent]
        + [{"remove": {"path": p, "dataChange": True}} for p, _ in old_urgent],
    )

    # --- reader: latest snapshot via log replay, partition col from
    # partitionValues (never from the data files)
    max_v = _delta_max_version(log_dir)
    # match on the table-root-relative PATH, never the basename: one
    # partitioned write job reuses the same part-file name in every
    # partition directory, so basenames collide across partitions
    live = {
        r["path"]
        for r in _delta_live_files(spark, log_dir)
        .filter(F.col("version") == max_v)
        .collect()  # bounded: live-file metadata at one version
    }
    by_val: dict[str, list[str]] = {}
    for p, v in after:
        if p in live:
            by_val.setdefault(v, []).append(os.path.join(root, p))
    scans = [
        spark.read.parquet(*sorted(paths)).withColumn(
            "o_orderpriority", F.lit(v)
        )
        for v, paths in sorted(by_val.items())
    ]
    if not scans:
        return local_rows(spark, 
            [], "o_orderpriority string, n_rows long, total_cents long"
        )
    df = scans[0]
    for s in scans[1:]:
        df = df.unionByName(s)
    return df.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("total_cents"),
    )


# --- idempotent writes via txn actions ----------------------------------------

_TXN_ORACLE = """
SELECT CAST(o_orderkey % 4 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM orders
GROUP BY o_orderkey % 4
"""


def _delta_txn_version(
    log_dir: str, app_id: str, versions: list[int] | None = None
) -> int:
    """Highest committed `txn` version for ``app_id`` in the given
    commits (default: the whole log), or -1 — the protocol's
    idempotence primitive: a writer that cannot know whether its last
    commit landed (crash after the PUT) re-reads this and skips
    versions it has already committed. Driver-side scan of the bounded
    JSON tail (checkpoints carry txn state forward for long histories,
    same replay rule)."""
    best = -1
    for _, act in delta_log.read_actions(log_dir, versions):
        txn = act.get("txn")
        if txn is not None and txn.get("appId") == app_id:
            best = max(best, int(txn["version"]))
    return best


@register("sink_delta_txn_idempotent", oracle=_TXN_ORACLE)
def q_sink_delta_txn_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDEMPOTENT streaming appends via the protocol's `txn` action
    (delta-io PROTOCOL.md §Transaction Identifiers): every commit a
    streaming writer makes carries {appId, version}; on restart after
    an INDETERMINATE outcome (crash between writing the commit json and
    recording success) the writer reads the log's highest txn version
    for its appId and SKIPS batches it already committed — the
    exactly-once half that checkpointing alone cannot give, because the
    sink's commit and the engine's offset commit are not atomic. At
    100 TB a double-applied micro-batch silently corrupts every
    downstream aggregate; this key makes that corruption a value-hash
    failure.

    Staged: commit 0 = even-orderkey base; a writer with appId
    "stream-app-1" then appends batch v1 (keys % 4 == 1, txn version
    1), RETRIES batch 1 after a simulated crash (the guard must skip —
    no commit json may be written), and appends batch v2 (keys % 4 ==
    3, txn version 2). The reader replays the latest snapshot: every
    order must appear EXACTLY once (oracle groups all orders by key %
    4) — a writer that ignored txn state double-appends bucket 1 and
    fails on both count and cents.
    `tests/test_delta_protocol.py::test_txn_retry_writes_no_commit`
    additionally pins the mechanism (retry leaves the log length
    unchanged).
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = _tmp(sf_dir, "delta_txn")
    data_dir = os.path.join(root, "data")
    log_dir = os.path.join(root, "_delta_log")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(log_dir, exist_ok=True)
    app_id = "stream-app-1"

    def _write_batch(df: DataFrame, txn_version: int) -> bool:
        """The idempotence guard every restart runs: commit data files +
        txn action (atomic via the single commit json) only if this txn
        version is not already in the log. Returns True if written. The
        commit lands at the version after the log it checked, so a
        writer that committed meanwhile makes this one conflict."""
        versions = delta_log.list_versions(log_dir)
        if txn_version <= _delta_txn_version(log_dir, app_id, versions):
            return False  # already committed — crash was AFTER the PUT
        before = _delta_list_files(data_dir)
        df.coalesce(1).write.mode("append").parquet(data_dir)
        adds = _delta_list_files(data_dir) - before
        txn = {"appId": app_id, "version": txn_version, "lastUpdated": 0}
        delta_log.commit(
            log_dir,
            versions[-1] + 1,
            [{"txn": txn}]
            + [
                {"add": {"path": f"data/{p}", "dataChange": True}}
                for p in sorted(adds)
            ],
        )
        return True

    # commit 0: base table (not part of the stream — no txn action)
    before = _delta_list_files(data_dir)
    o.filter(F.col("o_orderkey") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(data_dir)
    _delta_commit(log_dir, 0, _delta_list_files(data_dir) - before, set())
    b1 = o.filter(F.col("o_orderkey") % 4 == 1)
    b2 = o.filter(F.col("o_orderkey") % 4 == 3)
    assert _write_batch(b1, 1) is True
    assert _write_batch(b1, 1) is False, "retry must be skipped"
    assert _write_batch(b2, 2) is True

    # reader: latest snapshot, every order exactly once
    max_v = _delta_max_version(log_dir)
    live = [
        os.path.join(root, r["path"])
        for r in _delta_live_files(spark, log_dir)
        .filter(F.col("version") == max_v)
        .collect()  # bounded: live-file metadata
    ]
    return (
        spark.read.parquet(*sorted(live))
        .groupBy((F.col("o_orderkey") % 4).cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            ).alias("total_cents"),
        )
    )


# --- timestamp-based time travel ----------------------------------------------

_TT_ORACLE = """
SELECT s.snapshot,
       CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)), 0)
            AS BIGINT) AS total_cents
FROM (VALUES ('asof_mid'), ('asof_latest')) AS s(snapshot)
LEFT JOIN orders o
       ON (s.snapshot = 'asof_latest' OR o.o_orderkey % 4 <> 3)
GROUP BY s.snapshot
"""


def _delta_commit_time(log_dir: str, version: int) -> float:
    """One commit's timestamp (epoch seconds) per the spec's precedence:
    `commitInfo.inCommitTimestamp` (epoch millis, monotonic — the
    inCommitTimestamp feature exists exactly because file mtimes break
    under log re-upload or clock skew) when the commit carries it, else
    the log file's modification time."""
    for _, act in delta_log.read_actions(log_dir, [version]):
        info = act.get("commitInfo")
        if info is not None and "inCommitTimestamp" in info:
            return info["inCommitTimestamp"] / 1000.0
    return os.path.getmtime(delta_log.commit_path(log_dir, version))


def _delta_resolve_timestamp(log_dir: str, ts: float) -> int:
    """Timestamp → version per the spec's time-travel rule: the LATEST
    commit whose timestamp is ≤ the requested one, each commit's
    timestamp taken from [[_delta_commit_time]] (inCommitTimestamp
    when present, file mtime otherwise). Raises below the first commit
    — there is no table state to read before it. One driver-side pass
    over the bounded log tail."""
    best = -1
    for v in delta_log.list_versions(log_dir):
        if _delta_commit_time(log_dir, v) <= ts:
            best = v
    if best < 0:
        raise ValueError(
            f"no commit at or before timestamp {ts} — table did not exist"
        )
    return best


@register("src_delta_time_travel_ts", oracle=_TT_ORACLE)
def q_src_delta_time_travel_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP-based time travel (`AS OF <timestamp>`): the spec
    resolves a timestamp to the latest commit whose commit time is ≤
    the request — on tables without the inCommitTimestamp feature the
    commit time IS the log file's modification time, which is why
    delta documents that replacing/re-uploading log files breaks
    time travel. Staged: v0 = even orderkeys, v1 = the %4==1 slice,
    v2 = the %4==3 slice, with commit mtimes pinned to known epochs
    (os.utime — the staging equivalent of real commit times). The
    reader resolves two requests — mid (between v1 and v2) and latest —
    to versions, replays both snapshots' live sets in ONE pass
    ([[_delta_live_files]] filtered to the two versions), reads the
    data dir ONCE with rows fanned to snapshots via a broadcast join,
    and audits rows + cents per snapshot: `asof_mid` must exclude the
    %4==3 slice entirely.

    Scale: resolution is one log-dir listing (bounded metadata); the
    data path is a single distributed scan regardless of how many
    snapshots are audited — the same one-scan fan-out as
    src_delta_log's all-versions audit.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = _tmp(sf_dir, "delta_tt")
    data_dir = os.path.join(root, "data")
    log_dir = os.path.join(root, "_delta_log")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(log_dir, exist_ok=True)
    base_epoch = 1_000_000_000
    slices = [
        F.col("o_orderkey") % 2 == 0,
        F.col("o_orderkey") % 4 == 1,
        F.col("o_orderkey") % 4 == 3,
    ]
    for v, pred in enumerate(slices):
        before = _delta_list_files(data_dir)
        o.filter(pred).coalesce(1).write.mode("append").parquet(data_dir)
        commit_path = _delta_commit(
            log_dir, v, _delta_list_files(data_dir) - before, set()
        )
        t = base_epoch + 100 * v  # pinned commit times, 100 s apart
        os.utime(commit_path, (t, t))

    v_mid = _delta_resolve_timestamp(log_dir, base_epoch + 150)  # → v1
    v_latest = _delta_resolve_timestamp(log_dir, base_epoch + 10_000)  # → v2
    labels = local_rows(spark, 
        [(v_mid, "asof_mid"), (v_latest, "asof_latest")],
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
        [("asof_mid",), ("asof_latest",)], "snapshot string"
    )
    return spine.join(per_snap, "snapshot", "left").select(
        "snapshot",
        F.coalesce("n_rows", F.lit(0).cast("bigint")).alias("n_rows"),
        F.coalesce("total_cents", F.lit(0).cast("bigint")).alias(
            "total_cents"
        ),
    )


# --- v2 checkpoints (sidecar files) --------------------------------------------

_CKPT_V2_ORACLE = """
SELECT s.snapshot,
       CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)), 0)
            AS BIGINT) AS total_cents
FROM (VALUES ('checkpoint_v2'), ('latest_v3')) AS s(snapshot)
LEFT JOIN orders o
       ON (s.snapshot = 'checkpoint_v2' OR o.o_orderkey % 2 = 0)
GROUP BY s.snapshot
"""


@register("src_delta_checkpoint_v2", oracle=_CKPT_V2_ORACLE)
def q_src_delta_checkpoint_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2 CHECKPOINT read (the protocol's checkpoints-with-SIDECAR-files
    feature): past a few million live files the classic single-file
    checkpoint becomes the bottleneck — one file every reader must scan
    end to end and one writer must produce in one shot. A v2 checkpoint
    splits the state: a small MANIFEST (`<v>.checkpoint.<uniqueStr>.
    parquet`, holding `checkpointMetadata` and `sidecar` actions) points
    at SIDECAR parquet files under `_delta_log/_sidecars/`, each holding
    a shard of the add actions — so checkpoint production parallelizes
    and readers scan the shards distributed, exactly like data.

    Staged: the same v0/v1/v2 history as src_delta_checkpoint (even
    base, odd append, compaction), checkpointed at v2 as a manifest +
    TWO sidecars (the live adds split across them), `_last_checkpoint`
    naming version 2, then v3 = DELETE of the odd slice. The reader
    bootstraps manifest → sidecars (one distributed read over all
    shards) → post-checkpoint JSON tail, and audits both
    reconstructions: `checkpoint_v2` (all orders) and `latest_v3`
    (evens only — the v3 remove must drop the odd file even though the
    sidecars still list it). A reader that scans only the manifest, or
    only one sidecar, loses files and fails the value hash; the shared
    helper `_delta_latest_live_files` reads the same layout, and the
    protocol gate now ACCEPTS `v2Checkpoint` in readerFeatures because
    this path exists.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = _tmp(sf_dir, "delta_ckpt_v2")
    data_dir = os.path.join(root, "data")
    log_dir = os.path.join(root, "_delta_log")
    v0_adds, v1_adds, v2_adds = _delta_stage_history(spark, o, root)

    # v2 checkpoint: live adds at v2 split across two sidecar shards,
    # written via pyarrow (each shard is what one checkpoint-writer task
    # would produce); manifest references them by name
    side_dir = os.path.join(log_dir, "_sidecars")
    os.makedirs(side_dir, exist_ok=True)
    live_v2 = sorted(v1_adds | v2_adds)
    add_type = pa.struct([("path", pa.string())])
    shards = [live_v2[0::2], live_v2[1::2]]
    sidecar_names = []
    for i, shard in enumerate(shards):
        name = f"shard-{i:05d}.parquet"
        pq.write_table(
            pa.table(
                {
                    "add": pa.array(
                        [{"path": f"data/{p}"} for p in shard], add_type
                    )
                }
            ),
            os.path.join(side_dir, name),
        )
        sidecar_names.append(name)
    sidecar_type = pa.struct([("path", pa.string()), ("sizeInBytes", pa.int64())])
    manifest = pa.table(
        {
            "checkpointMetadata": pa.array(
                [{"version": 2}] + [None] * len(sidecar_names),
                pa.struct([("version", pa.int64())]),
            ),
            "sidecar": pa.array(
                [None]
                + [
                    {
                        "path": n,
                        "sizeInBytes": os.path.getsize(
                            os.path.join(side_dir, n)
                        ),
                    }
                    for n in sidecar_names
                ],
                sidecar_type,
            ),
        }
    )
    pq.write_table(
        manifest,
        os.path.join(
            log_dir, "00000000000000000002.checkpoint.80a083e8-7026.parquet"
        ),
    )
    delta_log.write_last_checkpoint(log_dir, {"version": 2})
    # v3: DELETE the odd slice (remove-only, dataChange true)
    _delta_commit(log_dir, 3, set(), v1_adds)

    # --- reader: the shared v2-aware bootstrap gives latest_v3; the
    # checkpoint_v2 reconstruction reads manifest+sidecars only
    latest_fnames = _delta_latest_live_files(spark, root)
    # read the shards by EXPLICIT file path: handing Spark the
    # underscore-prefixed `_sidecars` directory trips the hidden-path
    # filter ("All paths were ignored" warning) even though the files
    # inside are plain parquet
    shard_files = [
        os.path.join(side_dir, f)
        for f in sorted(os.listdir(side_dir))
        if f.endswith(".parquet")
    ]
    side_adds = (
        spark.read.parquet(*shard_files)
        .filter(F.col("add.path").isNotNull())
        .select(F.element_at(F.split("add.path", "/"), -1).alias("fname"))
        .collect()  # bounded: checkpoint state ∝ live files
    )
    ckpt_fnames = {r["fname"] for r in side_adds}
    labels = local_rows(spark, 
        [("checkpoint_v2", f) for f in sorted(ckpt_fnames)]
        + [("latest_v3", f) for f in sorted(latest_fnames)],
        "snapshot string, fname string",
    )
    data = spark.read.parquet(data_dir).withColumn(
        "fname", F.element_at(F.split(F.input_file_name(), "/"), -1)
    )
    per_snap = (
        data.join(F.broadcast(labels), "fname")
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
        [("checkpoint_v2",), ("latest_v3",)], "snapshot string"
    )
    return spine.join(per_snap, "snapshot", "left").select(
        "snapshot",
        F.coalesce("n_rows", F.lit(0).cast("bigint")).alias("n_rows"),
        F.coalesce("total_cents", F.lit(0).cast("bigint")).alias(
            "total_cents"
        ),
    )


# --- timestampNtz reader feature ----------------------------------------------

_NTZ_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(ts) AS first_ts,
       MAX(ts) AS last_ts
FROM events
GROUP BY event_type
"""

_NTZ_TYPE_MAP = {
    "long": T.LongType(),
    "string": T.StringType(),
    "timestamp_ntz": T.TimestampNTZType(),
}


@register("src_delta_timestamp_ntz", oracle=_NTZ_ORACLE)
def q_src_delta_timestamp_ntz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`timestampNtz` READER FEATURE (delta-io PROTOCOL.md §Timestamp
    without timezone): tables carrying TIMESTAMP_NTZ columns declare
    the feature so readers that would mis-adjust naive timestamps into
    session-zone instants refuse instead. Staged: the events slice
    written with its native TIMESTAMP_NTZ `ts` column, a v0 commit
    whose `protocol` action demands `readerFeatures: ["timestampNtz"]`
    (minReaderVersion 3) and whose `metaData.schemaString` declares the
    column as `timestamp_ntz`, plus a decoy file that v1 REMOVES — a
    directory-listing reader double-counts it.

    Reader semantics graded by the oracle: the protocol gate must
    ACCEPT the feature (it did not before this key existed — the gate
    refuses unknown features, and `tests/test_delta_protocol.py` pins
    that refusal for a fake feature), the log's declared schema drives
    the scan (spark.read.schema built from schemaString — the log, not
    file inference, is authoritative per spec), and the per-type
    aggregates of COUNT / MIN(ts) / MAX(ts) must match DuckDB's naive
    timestamps exactly — any timezone adjustment anywhere shifts
    first_ts/last_ts and fails the value hash.

    Scale: schemaString parse is one driver-side JSON of schema size;
    the data path is a single distributed parquet scan over the live
    files with the usual pushdown; nothing collects.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        # the real fixture's ts is already NTZ (identity cast); the
        # micro-warehouse battery's is TimestampType — normalize so the
        # staged parquet is genuinely isAdjustedToUTC=false either way
        F.col("ts").cast("timestamp_ntz").alias("ts"),
    )
    root = _tmp(sf_dir, "delta_ntz")
    data_dir = os.path.join(root, "data")
    log_dir = os.path.join(root, "_delta_log")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(log_dir, exist_ok=True)
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(data_dir)
    evens = _delta_list_files(data_dir)
    # decoy: a duplicate slice that v1 tombstones
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(data_dir)
    decoy = _delta_list_files(data_dir) - evens
    schema_fields = [
        {"name": "event_id", "type": "long", "nullable": True, "metadata": {}},
        {
            "name": "event_type",
            "type": "string",
            "nullable": True,
            "metadata": {},
        },
        {
            "name": "ts",
            "type": "timestamp_ntz",
            "nullable": True,
            "metadata": {},
        },
    ]
    delta_log.commit(
        log_dir,
        0,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["timestampNtz"],
                    "writerFeatures": ["timestampNtz"],
                }
            },
            {
                "metaData": {
                    "id": "ntz-fixture",
                    "format": {"provider": "parquet"},
                    "schemaString": json.dumps(
                        {"type": "struct", "fields": schema_fields}
                    ),
                }
            },
        ]
        + [
            {"add": {"path": f"data/{p}", "dataChange": True}}
            for p in sorted(evens | decoy)
        ],
    )
    # v1: tombstone the decoy, append the odd slice
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(data_dir)
    odds = _delta_list_files(data_dir) - evens - decoy
    _delta_commit(log_dir, 1, odds, decoy)

    # --- reader: protocol gate (must ACCEPT timestampNtz) + live-set
    # replay, then a scan under the LOG's declared schema
    live = _delta_latest_live_files(spark, root)
    declared = json.loads(
        delta_log.table_meta(log_dir).metadata["schemaString"]
    )
    spark_schema = T.StructType(
        [
            T.StructField(
                fld["name"], _NTZ_TYPE_MAP[fld["type"]], fld["nullable"]
            )
            for fld in declared["fields"]
        ]
    )
    assert isinstance(
        spark_schema["ts"].dataType, T.TimestampNTZType
    ), "the declared ts column must be timestamp_ntz"
    data = spark.read.schema(spark_schema).parquet(
        *[os.path.join(data_dir, f) for f in sorted(live)]
    )
    return data.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


# --- typeWidening reader feature ------------------------------------------------

_TW_ORACLE = """
SELECT CAST(o_orderkey % 2 AS BIGINT) AS parity,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(CASE WHEN o_orderkey % 2 = 0
                          THEN floor(o_totalprice)
                          ELSE floor(o_totalprice * 100 + 0.5) * 100
                     END AS BIGINT)) AS BIGINT) AS total_qty
FROM orders
GROUP BY o_orderkey % 2
"""


@register("src_delta_type_widening", oracle=_TW_ORACLE)
def q_src_delta_type_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`typeWidening` READER FEATURE (delta-io PROTOCOL.md §Type
    Widening): a column's type may widen (here int → long) WITHOUT
    rewriting existing files — old files keep the narrow physical type,
    the log's current `metaData.schemaString` declares the wide one
    (with per-field `delta.typeChanges` history), and the reader must
    produce the wide type from BOTH file generations. The alternative —
    rewriting every file of a 100 TB table to change a column type —
    is exactly what the feature exists to avoid.

    Staged: v0 = even-orderkey rows with an INT `qty` column +
    schemaString declaring "integer"; v1 = protocol upgrade demanding
    `typeWidening`, metaData re-declaring qty as "long" with the
    spec's typeChanges metadata, plus appended odd-orderkey files whose
    qty values EXCEED int32 range (≈5×10⁹) — a reader that keeps the
    narrow type overflows; one that reads old files under a mismatched
    schema crashes or zeroes them.

    Reader plan: gate accepts the feature, the LATEST schemaString
    drives ONE distributed scan over all live files — Spark 4's
    vectorized parquet reader performs the int32→long widening
    in-scan (SPARK-40876), so there is no per-generation read or
    union; old and new files run through the same whole-stage-codegen
    pipeline.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = _tmp(sf_dir, "delta_tw")
    data_dir = os.path.join(root, "data")
    log_dir = os.path.join(root, "_delta_log")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(log_dir, exist_ok=True)

    def _schema_str(qty_type: str, changes: bool) -> str:
        meta = (
            {
                "delta.typeChanges": [
                    {"fromType": "integer", "toType": "long", "tableVersion": 1}
                ]
            }
            if changes
            else {}
        )
        return json.dumps(
            {
                "type": "struct",
                "fields": [
                    {
                        "name": "o_orderkey",
                        "type": "long",
                        "nullable": True,
                        "metadata": {},
                    },
                    {
                        "name": "qty",
                        "type": qty_type,
                        "nullable": True,
                        "metadata": meta,
                    },
                ],
            }
        )

    # v0: evens, INT qty = floor(price)
    o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", F.floor("o_totalprice").cast("int").alias("qty")
    ).coalesce(1).write.mode("append").parquet(data_dir)
    evens = _delta_list_files(data_dir)

    def _meta(qty_type: str, changes: bool) -> dict:
        return {
            "metaData": {
                "id": "tw-fixture",
                "format": {"provider": "parquet"},
                "schemaString": _schema_str(qty_type, changes),
            }
        }

    def _adds(names: set[str]) -> list[dict]:
        return [
            {"add": {"path": f"data/{p}", "dataChange": True}}
            for p in sorted(names)
        ]

    delta_log.commit(log_dir, 0, [_meta("integer", False)] + _adds(evens))
    # v1: widen to LONG + append odds whose qty exceeds int32
    o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        (
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)) * 100
        ).cast("long").alias("qty"),
    ).coalesce(1).write.mode("append").parquet(data_dir)
    odds = _delta_list_files(data_dir) - evens
    protocol = {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": ["typeWidening"],
        "writerFeatures": ["typeWidening"],
    }
    delta_log.commit(
        log_dir,
        1,
        [{"protocol": protocol}, _meta("long", True)] + _adds(odds),
    )

    # --- reader: gate (must accept typeWidening) + live set + ONE scan
    # under the latest declared schema
    live = _delta_latest_live_files(spark, root)
    declared = json.loads(
        delta_log.table_meta(log_dir).metadata["schemaString"]
    )
    qty_field = next(
        fld for fld in declared["fields"] if fld["name"] == "qty"
    )
    assert qty_field["type"] == "long", "latest metaData must be widened"
    assert qty_field["metadata"]["delta.typeChanges"][0]["toType"] == "long"
    data = spark.read.schema("o_orderkey bigint, qty bigint").parquet(
        *[os.path.join(data_dir, f) for f in sorted(live)]
    )
    return data.groupBy(
        (F.col("o_orderkey") % 2).cast("bigint").alias("parity")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("qty")).alias("total_qty"),
    )


# --- variantType reader feature ---------------------------------------------------

_VT_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
           / 1000000.0 AS sum_value,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY event_type
"""


@register("src_delta_variant_type", oracle=_VT_ORACLE)
def q_src_delta_variant_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`variantType` READER FEATURE (delta-io PROTOCOL.md §Variant Data
    Type): tables carrying the binary VARIANT type declare the feature
    (shipped as `variantType-preview` by early writers — both names are
    accepted) so readers that cannot decode the two-field
    value/metadata physical encoding refuse instead of returning
    garbage. This was the LAST feature the protocol gate refused with
    an "unimplemented" error; with it, every reader feature a current
    Delta writer emits for tabular data is implemented.

    Staged: events encoded as VARIANT payloads ({u: user_id, v: value})
    written to parquet in two files (Spark 4 writes VARIANT natively as
    the spec's shredded value/metadata pair), a v0 commit whose
    protocol demands `variantType-preview` and whose schemaString
    declares the column as `variant`, plus a decoy file that v1
    REMOVES (a directory-listing reader double-counts it).

    Graded: per-event-type count + fixed-point double sum + distinct
    users, all SHREDDED back out of the variant with typed
    `try_variant_get` — a reader that loses the variant metadata or
    coerces types fails the value hash; the doubles survive only if
    the whole encode→parquet→decode→shred pipeline is lossless.

    Scale: parse_json happens once at write; reads shred columnar
    VARIANT fields inside whole-stage codegen — no UDF, no re-parsing
    per path (the 100 TB reason the type exists).
    """
    from random_forest_using_hadoop_spark.helpers import dsum

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id", "value"
    )
    enc = ev.select(
        "event_id",
        "event_type",
        F.parse_json(
            F.to_json(
                F.struct(
                    F.col("user_id").alias("u"), F.col("value").alias("v")
                )
            )
        ).alias("payload"),
    )
    root = _tmp(sf_dir, "delta_variant")
    data_dir = os.path.join(root, "data")
    log_dir = os.path.join(root, "_delta_log")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(log_dir, exist_ok=True)
    enc.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(data_dir)
    evens = _delta_list_files(data_dir)
    enc.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(data_dir)
    odds = _delta_list_files(data_dir) - evens
    # decoy: duplicate even slice, tombstoned at v1
    enc.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(data_dir)
    decoy = _delta_list_files(data_dir) - evens - odds
    schema_string = json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "event_id",
                    "type": "long",
                    "nullable": True,
                    "metadata": {},
                },
                {
                    "name": "event_type",
                    "type": "string",
                    "nullable": True,
                    "metadata": {},
                },
                {
                    "name": "payload",
                    "type": "variant",
                    "nullable": True,
                    "metadata": {},
                },
            ],
        }
    )
    delta_log.commit(
        log_dir,
        0,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["variantType-preview"],
                    "writerFeatures": ["variantType-preview"],
                }
            },
            {
                "metaData": {
                    "id": "variant-fixture",
                    "format": {"provider": "parquet"},
                    "schemaString": schema_string,
                }
            },
        ]
        + [
            {"add": {"path": f"data/{p}", "dataChange": True}}
            for p in sorted(evens | odds | decoy)
        ],
    )
    _delta_commit(log_dir, 1, set(), decoy)

    # --- reader: gate must ACCEPT variantType-preview; the declared
    # schema confirms the variant column; one scan + typed shredding
    live = _delta_latest_live_files(spark, root)
    declared = json.loads(
        delta_log.table_meta(log_dir).metadata["schemaString"]
    )
    assert (
        next(
            fld for fld in declared["fields"] if fld["name"] == "payload"
        )["type"]
        == "variant"
    ), "log schema must declare the variant column"
    data = spark.read.parquet(
        *[os.path.join(data_dir, f) for f in sorted(live)]
    )
    assert dict(data.dtypes)["payload"] == "variant"
    return data.select(
        "event_type",
        F.try_variant_get("payload", "$.u", "long").alias("uid"),
        F.try_variant_get("payload", "$.v", "double").alias("val"),
    ).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("val").alias("sum_value"),
        F.countDistinct("uid").cast("bigint").alias("n_users"),
    )


# --- VACUUM: physical removal of tombstoned files -----------------------------

def _delta_vacuum(
    spark: SparkSession, root: str, retention_s: float, now_s: float
) -> list[str]:
    """Physically delete data files that are TOMBSTONED (not live at
    the latest version) and whose remove action's `deletionTimestamp`
    is older than the retention window — the protocol's VACUUM
    operation. Never touches a live file; TOMBSTONED files with no
    deletionTimestamp are treated as anciently removed (deletable), per
    the conservative reading real implementations use for legacy
    tombstones; files with no remove action AT ALL (untracked — e.g. an
    in-flight writer's uncommitted output) are aged by filesystem
    modification time, as real VACUUM does, so a racing writer's fresh
    files survive. Returns the deleted file names (sorted).

    Scale: the decision set is log metadata (live set + tombstone
    timestamps — bounded by file count, the same replay the readers
    run); the deletes themselves are storage calls, embarrassingly
    parallel on a real object store. `now_s` is a parameter, not a
    clock read, so staging stays deterministic.
    """
    data_dir = os.path.join(root, "data")
    log_dir = os.path.join(root, "_delta_log")
    max_v = _delta_max_version(log_dir)
    live = {
        r["fname"]
        for r in _delta_live_files(spark, log_dir)
        .filter(F.col("version") == max_v)
        .collect()  # bounded metadata
    }
    # tombstone timestamps from the remove actions (driver-side scan of
    # the bounded log tail)
    removed_at: dict[str, float] = {}
    for _, act in delta_log.read_actions(log_dir):
        rm = act.get("remove")
        if rm is not None:
            ts = rm.get("deletionTimestamp")
            removed_at[os.path.basename(rm["path"])] = (
                ts / 1000.0 if ts is not None else 0.0
            )
    deleted = []
    for f in sorted(os.listdir(data_dir)):
        if not f.endswith(".parquet") or f in live:
            continue  # live files are NEVER vacuum candidates
        if f in removed_at:
            ref_ts = removed_at[f]  # 0.0 = legacy tombstone w/o timestamp
        else:
            # UNTRACKED file (no remove action anywhere — e.g. an
            # in-flight writer's not-yet-committed output): real VACUUM
            # compares its modification time against the retention
            # window, so a fresh uncommitted file is protected and only
            # genuinely abandoned debris ages out.
            ref_ts = os.path.getmtime(os.path.join(data_dir, f))
        if now_s - ref_ts > retention_s:
            os.remove(os.path.join(data_dir, f))
            deleted.append(f)
    return deleted


_VACUUM_ORACLE = """
SELECT CAST(o_orderkey % 2 AS BIGINT) AS parity,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM orders
GROUP BY o_orderkey % 2
"""


@register("sink_delta_vacuum", oracle=_VACUUM_ORACLE)
def q_sink_delta_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM — physical cleanup of tombstoned data files after the
    retention window: a compaction or delete REMOVES files only
    logically (the data stays on disk so older snapshots and in-flight
    readers keep working); storage is reclaimed later by vacuum, which
    may delete exactly the files (a) not live at the latest version and
    (b) tombstoned longer than the retention window. At 100 TB skipped
    vacuums double storage; an over-eager one breaks time travel and
    racing readers — both failure directions are pinned here.

    Staged: the shared v0/v1/v2 history (v2 compacts v0's two files
    away; their remove actions carry an OLD deletionTimestamp), then
    TWO vacuums: retention = 7 days at a `now` where the tombstones
    are only an hour old (must delete NOTHING — the retention guard),
    then retention = 0 (deletes exactly v0's two tombstoned files).
    The graded read then replays the LATEST snapshot and must still
    produce every order exactly once — a vacuum that touched a live
    file breaks the scan (missing file) or the totals.
    `tests/test_delta_protocol.py::test_vacuum_respects_retention_and_liveness`
    pins the file-level mechanics.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = _tmp(sf_dir, "delta_vacuum")
    log_dir = os.path.join(root, "_delta_log")
    # v2's compaction removes carry a deletionTimestamp 1 h before the
    # fixed `now` (vacuum treats a missing one as ancient)
    now_s = 1_700_000_000.0
    v0_adds, v1_adds, v2_adds = _delta_stage_history(
        spark, o, root, remove_ts_ms=int((now_s - 3600) * 1000)
    )
    kept = _delta_vacuum(spark, root, retention_s=7 * 86400, now_s=now_s)
    assert kept == [], "retention window must protect young tombstones"
    deleted = _delta_vacuum(spark, root, retention_s=0, now_s=now_s)
    assert sorted(deleted) == sorted(v0_adds), (
        "vacuum must delete exactly the tombstoned files"
    )

    max_v = _delta_max_version(log_dir)
    live = [
        os.path.join(root, r["path"])
        for r in _delta_live_files(spark, log_dir)
        .filter(F.col("version") == max_v)
        .collect()
    ]
    return (
        spark.read.parquet(*sorted(live))
        .groupBy((F.col("o_orderkey") % 2).cast("bigint").alias("parity"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            ).alias("total_cents"),
        )
    )


# --- liquid clustering (domainMetadata awareness) (r13) -------------------------

_LIQ_LO, _LIQ_HI = 20, 90

_LIQ_ORACLE = f"""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM orders
WHERE o_custkey BETWEEN {_LIQ_LO} AND {_LIQ_HI}
GROUP BY o_orderpriority
"""


def _delta_clustering_columns(log_dir: str) -> list[str]:
    """Discover a table's clustering columns from the log's
    `domainMetadata` actions (delta-io PROTOCOL.md §Domain Metadata +
    §Clustered Table): the `delta.clustering` domain's configuration
    JSON records `clusteringColumns` as arrays of name parts. Later
    commits supersede; a `removed: true` tombstone un-clusters the
    table. Driver-side over the bounded JSON tail."""
    latest: dict | None = None
    for _, act in delta_log.read_actions(log_dir):
        dm = act.get("domainMetadata")
        if dm is not None and dm.get("domain") == "delta.clustering":
            latest = dm
    if latest is None or latest.get("removed"):
        return []
    cfg = json.loads(latest.get("configuration") or "{}")
    return [".".join(parts) for parts in cfg.get("clusteringColumns", [])]


def _stats_surviving_files_for(
    spark: SparkSession, log_dir: str, column: str, lo: int, hi: int
) -> list[str]:
    """[[_stats_surviving_files]] generalized to any long-typed stats
    column: file names whose [min, max] interval on `column` overlaps
    [lo, hi], decided from the log's add.stats alone. Files without
    stats are conservatively kept (stats are optional per spec)."""
    stats_schema = T.StructType(
        [
            T.StructField("numRecords", T.LongType()),
            T.StructField(
                "minValues",
                T.StructType([T.StructField(column, T.LongType())]),
            ),
            T.StructField(
                "maxValues",
                T.StructType([T.StructField(column, T.LongType())]),
            ),
        ]
    )
    rows = (
        delta_log.read_log(spark, log_dir)
        .filter(F.col("add.path").isNotNull())
        .select(
            F.col("add.path").alias("path"),
            F.from_json(F.col("add.stats"), stats_schema).alias("s"),
        )
        # interval-overlap skip rule: keep unless max < lo or min > hi.
        # A file with NO stats — OR stats that omit this column's
        # bounds — must be kept: real writers collect stats on only
        # the first N columns, so a null bound means "unknown", and
        # the tri-valued comparison would otherwise evaluate the whole
        # predicate to NULL and silently drop a live file
        .filter(
            F.col("s").isNull()
            | F.col(f"s.minValues.{column}").isNull()
            | F.col(f"s.maxValues.{column}").isNull()
            | ~(
                (F.col(f"s.maxValues.{column}") < F.lit(lo))
                | (F.col(f"s.minValues.{column}") > F.lit(hi))
            )
        )
        .select("path")
        .collect()
    )
    return sorted(r["path"] for r in rows)


def _stage_clustered_table(
    spark: SparkSession, o: DataFrame, root: str
) -> None:
    """Stage a LIQUID-CLUSTERED orders table: 8 files range-clustered
    on o_custkey (the 1-D layout liquid clustering converges to for a
    single clustering key), a protocol action demanding the
    `clusteredTable` + `domainMetadata` WRITER features (readers stay
    at version 1 — clustering never breaks old readers, the feature's
    design point), the `delta.clustering` domainMetadata recording the
    clustering columns, and per-file min/max stats on the clustering
    column in every add."""
    data_dir = os.path.join(root, "data")
    log_dir = os.path.join(root, "_delta_log")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(log_dir, exist_ok=True)
    o.repartitionByRange(8, "o_custkey").write.mode("overwrite").parquet(
        data_dir
    )
    file_stats = (
        spark.read.parquet(data_dir)
        .withColumn(
            "fname", F.element_at(F.split(F.input_file_name(), "/"), -1)
        )
        .groupBy("fname")
        .agg(
            F.count(F.lit(1)).alias("num"),
            F.min("o_custkey").alias("lo"),
            F.max("o_custkey").alias("hi"),
        )
        .collect()  # ≤8 rows: file-level metadata for the commit json
    )
    actions = [
        {"commitInfo": {"operation": "CLUSTER BY"}},
        {
            "protocol": {
                "minReaderVersion": 1,
                "minWriterVersion": 7,
                "writerFeatures": ["domainMetadata", "clusteredTable"],
            }
        },
        {
            "domainMetadata": {
                "domain": "delta.clustering",
                "configuration": json.dumps(
                    {"clusteringColumns": [["o_custkey"]]}
                ),
                "removed": False,
            }
        },
    ]
    for r in sorted(file_stats, key=lambda r: r["fname"]):
        stats = {
            "numRecords": r["num"],
            "minValues": {"o_custkey": r["lo"]},
            "maxValues": {"o_custkey": r["hi"]},
            "nullCount": {"o_custkey": 0},
        }
        actions.append(
            {
                "add": {
                    "path": f"data/{r['fname']}",
                    "dataChange": True,
                    "stats": json.dumps(stats),
                }
            }
        )
    delta_log.commit(log_dir, 0, actions)


@register("src_delta_liquid_clustering", oracle=_LIQ_ORACLE)
def q_src_delta_liquid_clustering(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LIQUID-CLUSTERED table read (delta-io PROTOCOL.md §Clustered
    Table + §Domain Metadata): clustering is a WRITER feature — the
    table's layout metadata lives in a `delta.clustering`
    domainMetadata action, and the read-side payoff is that per-file
    stats on the clustering column skip almost everything for a range
    predicate on it. A reader that chokes on the unknown action type
    can't open the table at all; one that ignores the clustering domain
    still reads correctly but plans a full scan at 100 TB — this key
    grades the first and plan-gates the second.

    The reader DISCOVERS the clustering columns from domainMetadata
    (never hardcodes them), confirms the predicate column is the
    clustering key, and prunes files via the log's min/max stats on
    that discovered column — the exact skipping a clustered layout
    exists to enable. Removed-domain tombstones un-cluster the table
    (falls back to scanning every live file).

    Scale: metadata-only planning (bounded JSON tail, Catalyst filter
    over action rows); the data path is one distributed scan of the
    surviving files with the row predicate re-applied.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    root = _tmp(sf_dir, "delta_liquid")
    log_dir = os.path.join(root, "_delta_log")
    _stage_clustered_table(spark, o, root)
    cluster_cols = _delta_clustering_columns(log_dir)
    if cluster_cols == ["o_custkey"]:
        surviving = _stats_surviving_files_for(
            spark, log_dir, "o_custkey", _LIQ_LO, _LIQ_HI
        )
    else:  # unclustered (or clustered on something else): no skipping
        surviving = _stats_surviving_files_for(
            spark, log_dir, "o_custkey", -(2**62), 2**62
        )
    if not surviving:
        return local_rows(spark, 
            [], "o_orderpriority string, n_rows long, total_cents long"
        )
    df = spark.read.parquet(
        *[os.path.join(root, p) for p in surviving]
    ).filter(F.col("o_custkey").between(_LIQ_LO, _LIQ_HI))
    return df.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("total_cents"),
    )


# --- row tracking (baseRowId / fresh row ids) (r13) -----------------------------

_ROWTRACK_ORACLE = """
WITH n_even AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS c FROM orders WHERE o_orderkey % 2 = 0
),
ranked AS (
    SELECT CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS commit_version,
           CASE WHEN o_orderkey % 2 = 0
                THEN ROW_NUMBER() OVER (
                       PARTITION BY o_orderkey % 2 ORDER BY o_orderkey) - 1
                ELSE (SELECT c FROM n_even)
                     + ROW_NUMBER() OVER (
                         PARTITION BY o_orderkey % 2 ORDER BY o_orderkey) - 1
           END AS row_id
    FROM orders
)
SELECT commit_version,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(row_id) AS BIGINT) AS row_id_sum,
       CAST(MAX(row_id) AS BIGINT) AS row_id_max
FROM ranked
GROUP BY commit_version
"""


@register("src_delta_row_tracking", oracle=_ROWTRACK_ORACLE)
def q_src_delta_row_tracking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta ROW TRACKING (delta-io PROTOCOL.md §Row Tracking): every
    row gets a durable fresh row id WITHOUT a stored column — each
    `add` action records a `baseRowId`, the row's id is
    `baseRowId + position` (until a rewrite materializes it), and the
    `delta.rowTracking` domainMetadata advances `rowIdHighWaterMark`
    so commits never reuse ids. `defaultRowCommitVersion` stamps which
    commit created the rows. This is the same lineage design Iceberg
    v3 adopted (src_iceberg_v3_row_lineage) — one derivation rule, two
    protocols; both readers here share the in-scan arithmetic shape.

    Staged: commit 1 appends even-orderkey rows as 4 range-clustered
    files sorted within (baseRowId 0.. cumulative), commit 2 appends
    odds continuing past the high-water mark; the protocol demands the
    `rowTracking` + `domainMetadata` WRITER features (readers stay
    compatible — tracking never breaks old readers).

    Graded: per-commit-version COUNT + SUM + MAX of the derived row id
    — id collisions (ignored baseRowId), mis-ordered files, or a
    misread high-water mark each break a different aggregate.

    Scale: row-id derivation is `baseRowId + _metadata.row_index`
    inside the distributed scan — pure column arithmetic against a
    broadcast (path → baseRowId, version) map that is planner metadata
    (one row per file, the same class as the snapshot's file list).
    """
    import pyarrow.parquet as pq

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    root = _tmp(sf_dir, "delta_rowtrack")
    data_dir = os.path.join(root, "data")
    log_dir = os.path.join(root, "_delta_log")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(log_dir)

    next_row_id = 0
    for version, parity, sub in ((1, 0, "s1"), (2, 1, "s2")):
        o.filter(F.col("o_orderkey") % 2 == parity).repartitionByRange(
            4, "o_orderkey"
        ).sortWithinPartitions("o_orderkey").write.mode("overwrite").parquet(
            os.path.join(data_dir, sub)
        )
        base = os.path.join(data_dir, sub)
        stats = []
        for f in sorted(os.listdir(base)):
            if not f.endswith(".parquet"):
                continue
            p = os.path.join(base, f)
            pf = pq.ParquetFile(p)
            lo = pf.metadata.row_group(0).column(0).statistics.min
            stats.append((lo, f"data/{sub}/{f}", pf.metadata.num_rows))
        actions = []
        if version == 1:
            actions.append(
                {
                    "protocol": {
                        "minReaderVersion": 1,
                        "minWriterVersion": 7,
                        "writerFeatures": ["rowTracking", "domainMetadata"],
                    }
                }
            )
        actions.append({"commitInfo": {"operation": "WRITE"}})
        # files ordered by their orderkey range: baseRowId assigned
        # cumulatively in range order — the writer's commit-time rule
        for _, rel, n in sorted(stats):
            actions.append(
                {
                    "add": {
                        "path": rel,
                        "dataChange": True,
                        "baseRowId": next_row_id,
                        "defaultRowCommitVersion": version,
                    }
                }
            )
            next_row_id += n
        actions.append(
            {
                "domainMetadata": {
                    "domain": "delta.rowTracking",
                    "configuration": json.dumps(
                        {"rowIdHighWaterMark": next_row_id - 1}
                    ),
                    "removed": False,
                }
            }
        )
        delta_log.commit(log_dir, version - 1, actions)

    # --- reader: (path → baseRowId, version) from the log, id derived
    # inside the scan
    adds = [
        (
            os.path.join(root, act["add"]["path"]),
            act["add"]["baseRowId"],
            act["add"]["defaultRowCommitVersion"],
        )
        for _, act in delta_log.read_actions(log_dir)
        if "add" in act
    ]
    if not adds:
        return local_rows(spark, 
            [],
            "commit_version int, n_rows long, row_id_sum long, "
            "row_id_max long",
        )
    base_map = local_rows(spark, 
        adds, "file_path string, base_row_id long, commit_version int"
    )
    df = (
        spark.read.parquet(*sorted(p for p, _, _ in adds))
        .select(
            _norm_file_uri(F.input_file_name()).alias("_fp"),
            F.col("_metadata.row_index").alias("_pos"),
        )
        .join(F.broadcast(base_map), F.col("_fp") == base_map["file_path"])
        .withColumn("_row_id", F.col("base_row_id") + F.col("_pos"))
    )
    return df.groupBy("commit_version").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("_row_id").cast("bigint").alias("row_id_sum"),
        F.max("_row_id").cast("bigint").alias("row_id_max"),
    )


# --- log compaction files (r13) -------------------------------------------------

_LOGCOMPACT_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM orders
WHERE o_orderpriority <> '1-URGENT'
  AND NOT (o_orderpriority = '5-LOW' AND o_orderkey % 2 = 0)
  AND NOT (o_orderpriority = '4-NOT SPECIFIED' AND o_orderkey % 2 = 1)
GROUP BY o_orderpriority
"""


@register("src_delta_log_compaction", oracle=_LOGCOMPACT_ORACLE)
def q_src_delta_log_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta LOG COMPACTION files (delta-io PROTOCOL.md §Log Compaction
    Files): a writer may publish `<start>.<end>.compacted.json` holding
    the RECONCILED actions of that commit range (live adds survive,
    add+remove pairs cancel to tombstones, latest protocol/metaData
    win), so a reader bootstraps from ONE file plus the tail commits
    instead of replaying the whole range — the mechanism that keeps
    cold-start planning O(1 + tail) on tables with millions of commits
    between checkpoints.

    Staged: c0 adds even-parity files per priority, c1 adds odds, c2
    drops the 1-URGENT files, c3 drops the 5-LOW evens file; a
    `0.3.compacted.json` reconciles c0..c3 (live adds + remove
    tombstones); c4 (AFTER the compaction range) drops the
    4-NOT SPECIFIED odds file. The reader's segment must be exactly
    [compacted, c4] — pinned by _LAST_LOG_SEGMENT and by a unit test
    that DELETES c0..c3 and still reads correctly.

    Graded: per-priority counts + cents against the oracle's mirror of
    all five commits — a reader that ignores the compaction file still
    answers right (the gate catches the cost); one that reads ONLY the
    compaction file misses c4; one that double-applies compacted +
    original commits double-counts nothing here but breaks if the
    reconciliation dropped tombstones, which the unit test's deletion
    proves is not relied on.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    root = _tmp(sf_dir, "delta_logcompact")
    data_dir = os.path.join(root, "data")
    log_dir = os.path.join(root, "_delta_log")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(log_dir)

    for sub, parity in (("s1", 0), ("s2", 1)):
        o.filter(F.col("o_orderkey") % 2 == parity).coalesce(1).write.mode(
            "overwrite"
        ).partitionBy("o_orderpriority").parquet(os.path.join(data_dir, sub))

    def _files(sub: str) -> list[tuple[str, str]]:
        base = os.path.join(data_dir, sub)
        out = []
        for d in sorted(os.listdir(base)):
            if not d.startswith("o_orderpriority="):
                continue
            v = d.split("=", 1)[1]
            for f in sorted(os.listdir(os.path.join(base, d))):
                if f.endswith(".parquet"):
                    out.append((f"data/{sub}/{d}/{f}", v))
        return out

    s1, s2 = _files("s1"), _files("s2")

    def _add(rel: str, pv: str) -> dict:
        return {
            "add": {
                "path": rel,
                "partitionValues": {"o_orderpriority": pv},
                "dataChange": True,
            }
        }

    def _rm(rel: str) -> dict:
        return {"remove": {"path": rel, "dataChange": True}}

    write = {"commitInfo": {"operation": "WRITE"}}
    delta_log.commit(log_dir, 0, [write] + [_add(r, v) for r, v in s1])
    delta_log.commit(log_dir, 1, [write] + [_add(r, v) for r, v in s2])
    delta_log.commit(
        log_dir,
        2,
        [{"commitInfo": {"operation": "DELETE"}}]
        + [_rm(r) for r, v in s1 + s2 if v == "1-URGENT"],
    )
    delta_log.commit(
        log_dir,
        3,
        [{"commitInfo": {"operation": "DELETE"}}]
        + [_rm(r) for r, v in s1 if v == "5-LOW"],
    )
    # the reconciled 0..3 compaction file: live adds + remove tombstones
    dropped = {r for r, v in s1 + s2 if v == "1-URGENT"} | {
        r for r, v in s1 if v == "5-LOW"
    }
    comp = [{"commitInfo": {"operation": "COMPACTION"}}]
    comp += [_add(r, v) for r, v in s1 + s2 if r not in dropped]
    comp += [_rm(r) for r in sorted(dropped)]
    delta_log.commit_compacted(log_dir, 0, 3, comp)
    delta_log.commit(
        log_dir,
        4,
        [{"commitInfo": {"operation": "DELETE"}}]
        + [_rm(r) for r, v in s2 if v == "4-NOT SPECIFIED"],
    )

    # --- reader: minimal segment (compacted + tail), then replay
    global _LAST_LOG_SEGMENT
    _LAST_LOG_SEGMENT = delta_log.log_segment(log_dir)
    live: dict[str, str] = {}
    for act in delta_log.read_segment(log_dir):
        if "add" in act:
            a = act["add"]
            live[a["path"]] = a["partitionValues"]["o_orderpriority"]
        elif "remove" in act:
            live.pop(act["remove"]["path"], None)
    if not live:
        return local_rows(spark, 
            [], "o_orderpriority string, n_rows long, total_cents long"
        )
    by_val: dict[str, list[str]] = {}
    for rel, v in live.items():
        by_val.setdefault(v, []).append(os.path.join(root, rel))
    scans = [
        spark.read.parquet(*sorted(paths)).select(
            "o_totalprice", F.lit(v).alias("o_orderpriority")
        )
        for v, paths in sorted(by_val.items())
    ]
    df = scans[0]
    for s in scans[1:]:
        df = df.unionByName(s)
    return df.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("total_cents"),
    )


_LAST_LOG_SEGMENT: list[str] = []
