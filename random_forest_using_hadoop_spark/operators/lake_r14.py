"""r14 lake-format keys: the Iceberg delete-aware CHANGELOG scan (the
CDC twin of `src_delta_cdf`) and the Delta DELETE that emits a DELETION
VECTOR instead of rewriting the file (the write-side twin of
`src_delta_deletion_vector`).

Both are built from the published specs alone (Apache Iceberg table
spec §Snapshots/§Delete Formats; delta-io PROTOCOL.md §Deletion
Vectors) on the repo's existing from-scratch codecs (iceberg_format's
Avro OCF, delta_format's Z85/roaring DV stack). No reference file:line
citation is possible — /root/reference/ is an empty checkout
(SURVEY.md §0).

Scale stance (100 TB): changelog planning is the usual bounded
manifest walk (O(files in the range), driver-side, the same class as
any Iceberg planner's snapshot state); every row-producing path is a
distributed scan, and delete application is ONE join per delete
modality regardless of how many delete files or commits landed in the
range. The DV writer's only collect is the deleted-position set — the
commit payload itself, ∝ deleted rows by definition.
"""

from __future__ import annotations

import json
import os
import shutil
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from random_forest_using_hadoop_spark import delta_log, iceberg_meta
from random_forest_using_hadoop_spark.delta_log import (
    _delta_commit,
    _delta_latest_live_files,
    _delta_live_files,
)
from random_forest_using_hadoop_spark.helpers import local_rows

from random_forest_using_hadoop_spark.delta_format import (
    dv_on_disk_descriptors,
    dv_read,
)
from random_forest_using_hadoop_spark.iceberg_meta import (
    ADDED,
    DELETED,
    EXISTING,
    entry,
    list_record,
    write_manifest,
    write_manifest_list,
)
from random_forest_using_hadoop_spark.operators.iceberg_ext import (
    _scan_apply_eq_deletes,
    _scan_with_partition,
    _S1,
    _S2,
    _S3,
    _T3,
    _iceberg_snapshot,
    _iceberg_stage,
    _maybe_broadcast_deletes,
    _pfiles,
)
from random_forest_using_hadoop_spark.operators.scans import (
    _delta_list_files,
    _delta_stage_history,
    _norm_file_uri,
    _tmp,
)
from random_forest_using_hadoop_spark.registry import register
from random_forest_using_hadoop_spark.sources import load_table

# --- Iceberg changelog (delete-aware incremental read) -----------------------

# The staged history this key grades (built on the shared 3-snapshot
# table from iceberg_ext._iceberg_stage):
#   s3 (ordinal 1, "delete")    drop the 1-URGENT partition — rewrite
#                               manifest with DELETED entries
#   s4 (ordinal 2, "overwrite") CDC upsert: equality-deletes (two
#                               range-split files, keys % 7 == 0,
#                               strict seq <) + replacement inserts
#                               (% 14 == 0 non-urgent at price + 10)
#   s5 (ordinal 3, "delete")    position deletes of % 10 == 3 rows
#                               still live (i.e. % 7 != 0), one pos
#                               file per affected partition, seq ≤
#   s6 (no ordinal, "replace")  compaction of the s4 shards — MUST
#                               contribute NOTHING to the changelog
_CHANGELOG_ORACLE = """
WITH base AS (
  SELECT o_orderkey AS k, o_totalprice AS p, o_orderpriority AS pr
  FROM orders
)
SELECT * FROM (
  SELECT CAST(1 AS INT) AS change_ordinal, 'delete' AS change_type,
         k AS o_orderkey,
         CAST(floor(p * 100 + 0.5) AS BIGINT) AS price_cents,
         pr AS o_orderpriority
  FROM base WHERE pr = '1-URGENT'
  UNION ALL
  SELECT 2, 'delete', k, CAST(floor(p * 100 + 0.5) AS BIGINT), pr
  FROM base WHERE pr <> '1-URGENT' AND k % 7 = 0
  UNION ALL
  SELECT 2, 'insert', k, CAST(floor((p + 10.0) * 100 + 0.5) AS BIGINT), pr
  FROM base WHERE pr <> '1-URGENT' AND k % 14 = 0
  UNION ALL
  SELECT 3, 'delete', k, CAST(floor(p * 100 + 0.5) AS BIGINT), pr
  FROM base WHERE pr <> '1-URGENT' AND k % 10 = 3 AND k % 7 <> 0
) ch
"""


def _stage_changelog_table(spark: SparkSession, sf_dir: str) -> str:
    """Stage the 6-snapshot fixture described on _CHANGELOG_ORACLE."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    root = _tmp(sf_dir, "iceberg_changelog")
    _iceberg_stage(spark, o, root)
    data_dir = os.path.join(root, "data")
    meta_dir = os.path.join(root, "metadata")
    # s3's one manifest (m3), carried into the s4 and s5 lists
    (r3,) = iceberg_meta.manifests(_iceberg_snapshot(iceberg_meta.load(root)))
    _S4, _S5, _S6 = _S3 + 1, _S3 + 2, _S3 + 3
    _T4, _T5, _T6 = _T3 + 60_000, _T3 + 120_000, _T3 + 180_000

    # --- s4: CDC upsert. Replacement rows land as TWO shards per
    # partition (repartition(2)) so the s6 compaction below has real
    # work; equality-delete keys land range-split across two files,
    # the way a real CDC writer shards a commit. The two writes are
    # independent (disjoint dirs) and run as concurrent jobs (guide
    # §2.6) — content identical, tail-filled wall time.
    eq_dir = os.path.join(meta_dir, "eqdel")

    def _write_s4_data():
        o.filter(
            (F.col("o_orderkey") % 14 == 0)
            & (F.col("o_orderpriority") != "1-URGENT")
        ).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(10.0)
        ).repartition(2).write.mode("overwrite").partitionBy(
            "o_orderpriority"
        ).parquet(os.path.join(data_dir, "s4"))

    def _write_s4_eqdel():
        o.filter(F.col("o_orderkey") % 7 == 0).select(
            "o_orderkey"
        ).repartitionByRange(2, "o_orderkey").write.mode(
            "overwrite"
        ).parquet(eq_dir)

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f1 = pool.submit(_write_s4_data)
        f2 = pool.submit(_write_s4_eqdel)
        f1.result(), f2.result()
    ins_entries = [
        entry(ADDED, _S4, 4, p, v) for p, v in _pfiles(data_dir, "s4")
    ]
    eq_files = [
        os.path.join(eq_dir, f)
        for f in sorted(os.listdir(eq_dir))
        if f.endswith(".parquet")
    ]
    del_entries = [
        entry(ADDED, _S4, 4, p, None, equality_ids=[1], content=2)
        for p in eq_files
    ]
    r4i = list_record(
        write_manifest(meta_dir, "m4-upsert-data.avro", ins_entries),
        ins_entries,
        _S4,
        4,
    )
    r4d = list_record(
        write_manifest(meta_dir, "m4-upsert-deletes.avro", del_entries),
        del_entries,
        _S4,
        4,
        content=1,
    )
    l4 = write_manifest_list(meta_dir, _S4, [r3, r4i, r4d], tag="1-upsert")
    with iceberg_meta.update(root) as tm:
        iceberg_meta.add_snapshot(tm, _S4, 4, _T4, l4, "overwrite")

    # --- s5: position deletes of the % 10 == 3 rows still live after
    # s4 (% 7 == 0 already gone). Positions are per-file ordinals of
    # the CURRENT live files; the collect is ∝ deleted rows — they are
    # the commit payload.
    meta = iceberg_meta.load(root)
    live, _ = iceberg_meta.plan(_iceberg_snapshot(meta))
    pval_by_path = {d["path"]: d["pval"] for d in live}
    hits = (
        # explicit schema: skips the driver-side footer-inference job
        # every bare read.parquet pays (guide §1 — don't compute what
        # you already know; the staged layout is fixed two columns)
        spark.read.schema("o_orderkey long, o_totalprice double")
        .parquet(*sorted(pval_by_path))
        .select(
            _norm_file_uri(F.input_file_name()).alias("fp"),
            F.col("_metadata.row_index").alias("pos"),
            "o_orderkey",
        )
        .filter(
            (F.col("o_orderkey") % 10 == 3) & (F.col("o_orderkey") % 7 != 0)
        )
        .collect()
    ) if pval_by_path else []  # adversarial corpus: nothing live at s4
    by_part: dict[str, list[tuple[str, int]]] = {}
    for r in hits:
        by_part.setdefault(pval_by_path[r["fp"]], []).append(
            (r["fp"], r["pos"])
        )
    pos_entries = []
    for pval, pairs in sorted(by_part.items()):
        pairs.sort()
        dpath = os.path.join(
            meta_dir, f"posdel-{pval.replace(' ', '_')}-s5.parquet"
        )
        pq.write_table(
            pa.table(
                {
                    "file_path": pa.array([p for p, _ in pairs], pa.string()),
                    "pos": pa.array([x for _, x in pairs], pa.int64()),
                }
            ),
            dpath,
        )
        pos_entries.append(entry(ADDED, _S5, 5, dpath, pval, content=1))
    r5d = list_record(
        write_manifest(meta_dir, "m5-posdel.avro", pos_entries),
        pos_entries,
        _S5,
        5,
        content=1,
    )
    l5 = write_manifest_list(
        meta_dir, _S5, [r3, r4i, r4d, r5d], tag="1-posdel"
    )
    with iceberg_meta.update(root) as tm:
        iceberg_meta.add_snapshot(tm, _S5, 5, _T5, l5, "delete")

    # --- s6: compaction (REPLACE) of the s4 shards — per partition the
    # two shards rewrite into one seq-6 file. Safe to rewrite at seq 6
    # because nothing deletes against those files: the eq deletes are
    # seq 4 (strict <) and the pos files reference other paths. A
    # changelog reader must skip this snapshot wholesale (spec: replace
    # snapshots carry no logical change); one that classifies on entry
    # status alone re-emits every s4 row as delete+insert and fails
    # the value hash.
    s4_by_part: dict[str, list[str]] = {}
    for p, v in _pfiles(data_dir, "s4"):
        s4_by_part.setdefault(v, []).append(p)

    # per-partition compaction jobs are independent (disjoint inputs
    # and output dirs) — run them concurrently (guide §2.6) with an
    # explicit schema (no per-relation footer inference)
    def _compact(item):
        v, paths = item
        out_dir = os.path.join(data_dir, "s6", f"o_orderpriority={v}")
        spark.read.schema("o_orderkey long, o_totalprice double").parquet(
            *sorted(paths)
        ).coalesce(1).write.mode("overwrite").parquet(out_dir)
        (new_file,) = [
            os.path.join(out_dir, f)
            for f in os.listdir(out_dir)
            if f.endswith(".parquet")
        ]
        return v, paths, new_file

    compact_entries = []
    with ThreadPoolExecutor(max_workers=4) as pool:
        for v, paths, new_file in pool.map(
            _compact, sorted(s4_by_part.items())
        ):
            compact_entries.append(entry(ADDED, _S6, 6, new_file, v))
            compact_entries.extend(
                entry(DELETED, _S6, 4, p, v) for p in sorted(paths)
            )
    # survivors of m3 carry over EXISTING with their original ids
    for e in iceberg_meta.entries(r3):
        if e["status"] == DELETED:
            continue
        compact_entries.append(
            {**e, "status": EXISTING}
        )
    m6 = write_manifest(meta_dir, "m6-compact.avro", compact_entries)
    l6 = write_manifest_list(
        meta_dir,
        _S6,
        [list_record(m6, compact_entries, _S6, 6), r4d, r5d],
        tag="1-compact",
    )
    with iceberg_meta.update(root) as tm:
        iceberg_meta.add_snapshot(tm, _S6, 6, _T6, l6, "replace")
    return root


# sentinel removal ordinal for base files never removed in the window —
# larger than any real change_ordinal so `change_ordinal < removed_ord`
# is vacuously true for them
_LIVE_FOREVER = 2**31 - 1


def _changelog_plan(root: str, from_id: int) -> dict:
    """Driver-side changelog planning: walk every snapshot AFTER
    `from_id` (exclusive) up to the current one and classify what each
    commit did. Bounded metadata: one Avro row per manifest + per file
    — the same working set any Iceberg planner holds.

    Returns per-path maps (path → ordinal / seq metadata) consumed by
    the distributed side. Replace snapshots (compaction — no logical
    change) are skipped per the spec's changelog rule."""
    meta = iceberg_meta.load(root)
    by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
    ordered = [e["snapshot-id"] for e in meta["snapshot-log"]]
    lo = ordered.index(from_id)
    inserted: list[tuple[str, str, int]] = []  # path, pval, ordinal
    removed: list[tuple[str, str, int]] = []
    eq_files: list[dict] = []  # path, seq, ordinal, n
    pos_files: list[dict] = []
    base: dict[str, tuple[str, int]] = {}  # path → (pval, data_seq)
    # path → FIRST ordinal whose commit removed it (entry status
    # DELETED). A delete file only applies to files live at its own
    # snapshot, so a base candidate captured from an EARLIER
    # predecessor stops being a target once removed — without this a
    # later equality-delete with a higher seq would re-emit a
    # removed file's rows on top of the removal's own delete rows.
    removed_at: dict[str, int] = {}
    for ordinal, sid in enumerate(ordered[lo + 1 :], start=1):
        snap = by_id[sid]
        if snap["summary"]["operation"] == "replace":
            continue  # rearrangement only — no logical change
        has_deletes = False
        for m in iceberg_meta.manifests(snap):
            for e in iceberg_meta.entries(m):
                df = e["data_file"]
                pval = next(iter((df["partition"] or {}).values()), None)
                if m["content"] == 0 and df["content"] == 0:
                    if (
                        e["status"] == ADDED
                        and e["snapshot_id"] == sid
                    ):
                        inserted.append((df["file_path"], pval, ordinal))
                    elif (
                        e["status"] == DELETED
                        and e["snapshot_id"] == sid
                    ):
                        removed.append((df["file_path"], pval, ordinal))
                        removed_at.setdefault(df["file_path"], ordinal)
                elif (
                    m["content"] == 1
                    and e["status"] == ADDED
                    and e["snapshot_id"] == sid
                ):
                    rec = {
                        "path": df["file_path"],
                        "seq": e["sequence_number"],
                        "ordinal": ordinal,
                        "n": df["record_count"],
                    }
                    if df["content"] == 2:
                        if df.get("equality_ids") != [1]:
                            raise ValueError(
                                "unsupported equality_ids "
                                f"{df.get('equality_ids')}; this table keys "
                                "on field 1 (o_orderkey)"
                            )
                        eq_files.append(rec)
                        has_deletes = True
                    elif df["content"] == 1:
                        pos_files.append(rec)
                        has_deletes = True
        if has_deletes:
            # candidate targets: data files live at the PREDECESSOR
            # snapshot — what this commit's deletes can reach
            prev = ordered[ordered.index(sid) - 1]
            for d in iceberg_meta.plan(
                _iceberg_snapshot(meta, snapshot_id=prev)
            )[0]:
                base.setdefault(d["path"], (d["pval"], d["seq"]))
    return {
        "inserted": inserted,
        "removed": removed,
        "eq_files": eq_files,
        "pos_files": pos_files,
        # (pval, data_seq, removed_ordinal) — removed_ordinal is the
        # first ordinal that dropped the file (deletes at that ordinal
        # or later must not target it); _LIVE_FOREVER when never removed
        "base": {
            p: (v, seq, removed_at.get(p, _LIVE_FOREVER))
            for p, (v, seq) in base.items()
        },
    }


def _scan_rows(
    spark: SparkSession,
    files: list[tuple[str, str, int]],
    change_type: str,
    with_coords: bool = False,
):
    """ONE distributed multi-path scan over ALL the given files, with
    each row's identity-partition value AND change ordinal attached via
    a single broadcast path→(value, ordinal) map — both are manifest
    metadata, not file content. The r14 shape planned one scan per
    partition VALUE and unioned them; collapsing to one relation with
    an explicit schema removes the per-relation footer-inference work
    and the union, and plan size becomes O(1) in values and files."""
    if not files:
        return None
    paths = sorted({p for p, _, _ in files})
    df = (
        spark.read.schema("o_orderkey long, o_totalprice double")
        .parquet(*paths)
        .select(
            "o_orderkey",
            "o_totalprice",
            _norm_file_uri(F.input_file_name()).alias("_fp"),
            *(
                [F.col("_metadata.row_index").alias("_pos")]
                if with_coords
                else []
            ),
        )
    )
    omap = local_rows(spark, 
        sorted(
            {(p, v, o) for p, v, o in files},
            # None-safe ordering: an unpartitioned entry carries a None
            # partition value and must not TypeError against strings
            key=lambda t: (t[0], t[1] is None, t[1] or "", t[2]),
        ),
        "file_path string, o_orderpriority string, change_ordinal int",
    )
    df = df.join(F.broadcast(omap), df["_fp"] == omap["file_path"]).drop(
        "file_path"
    )
    if change_type:
        df = df.withColumn("change_type", F.lit(change_type))
    return df


_CHANGELOG_OUT = [
    "change_ordinal",
    "change_type",
    "o_orderkey",
    "price_cents",
    "o_orderpriority",
]


def _finish(df: DataFrame) -> DataFrame:
    return df.select(
        "change_ordinal",
        "change_type",
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("price_cents"),
        "o_orderpriority",
    )


@register("src_iceberg_changelog", oracle=_CHANGELOG_ORACLE)
def q_src_iceberg_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg CHANGELOG SCAN — classify every row-level change between
    two snapshots, INCLUDING row-level delete commits (spec §Snapshots,
    §Position/Equality Delete Files; the delete-aware sibling of
    `src_iceberg_incremental`, and the CDC twin of `src_delta_cdf`): a
    downstream consumer of a 100 TB table reads O(changed rows), never
    O(table), and sees inserts AND deletes so it can maintain a
    materialized view or replicate to another store.

    Emitted per snapshot in (from, to], 1-based `change_ordinal`:
    - data files ADDED by the snapshot → their rows as `insert`
    - data files removed (entry status DELETED) → their rows as
      `delete` (partition-drop shape)
    - equality-delete files added → the matching rows of OLDER
      (data_seq STRICTLY below) live data files as `delete` — the
      strict bound is what keeps same-commit upsert replacements alive
    - position-delete files added → the (file, pos) rows of live data
      files with data_seq ≤ the delete's as `delete`
    - `replace` snapshots (compaction) contribute NOTHING — the spec's
      changelog rule; a reader keying on entry status alone re-emits
      every compacted row as delete+insert and fails the value hash.

    Scale: planning is the bounded driver-side manifest walk every
    Iceberg planner does; rows flow through ONE distributed scan per
    side (inserted files, removed files, delete-candidate base, eq
    keys, pos pairs — each a single multi-path scan grouped by
    partition value) and delete application is ONE join per modality
    with stats-gated broadcast, independent of how many delete files
    or commits landed in the range (plan-gated in tests/test_plans.py).
    """
    root = _stage_changelog_table(spark, sf_dir)
    plan = _changelog_plan(root, from_id=_S2)
    return _changelog_rows(spark, plan)


def _changelog_rows(spark: SparkSession, plan: dict) -> DataFrame:
    """Row-level changelog assembly from a [[_changelog_plan]] result —
    shared by the batch key above and the streaming twin below (one
    protocol surface, graded twice)."""
    parts: list[DataFrame] = []
    ins = _scan_rows(spark, plan["inserted"], "insert")
    if ins is not None:
        parts.append(_finish(ins))
    rem = _scan_rows(spark, plan["removed"], "delete")
    if rem is not None:
        parts.append(_finish(rem))

    base_files = [
        (p, v, 0) for p, (v, _, _) in sorted(plan["base"].items())
    ]
    if base_files and (plan["eq_files"] or plan["pos_files"]):
        base = _scan_rows(spark, base_files, "", with_coords=True).drop(
            "change_ordinal"
        )
        seq_map = local_rows(spark, 
            [(p, s, r) for p, (_, s, r) in sorted(plan["base"].items())],
            "bpath string, data_seq long, removed_ord int",
        )
        base = base.join(
            F.broadcast(seq_map), base["_fp"] == seq_map["bpath"]
        )
        if plan["eq_files"]:
            # ONE unioned key scan tagged with each file's sequence and
            # ordinal via a broadcast map, ONE inner join
            dmap = local_rows(spark, 
                [(d["path"], d["seq"], d["ordinal"])
                 for d in plan["eq_files"]],
                "dpath string, dseq long, change_ordinal int",
            )
            keys = (
                spark.read.schema("o_orderkey long")
                .parquet(*sorted(d["path"] for d in plan["eq_files"]))
                .withColumn("dpath", _norm_file_uri(F.input_file_name()))
                .join(F.broadcast(dmap), "dpath")
                .select(
                    F.col("o_orderkey").alias("_delkey"),
                    "dseq",
                    "change_ordinal",
                )
            )
            n_eq = sum(d["n"] for d in plan["eq_files"])
            eq_rows = base.join(
                _maybe_broadcast_deletes(keys, n_eq),
                (base["o_orderkey"] == keys["_delkey"])
                & (base["data_seq"] < keys["dseq"])  # STRICT: upserts live
                # file must still be live at the delete's snapshot — a
                # base file removed at ordinal k is not a target for
                # deletes at ordinal >= k (its rows already flowed
                # through the removal's own delete emission)
                & (keys["change_ordinal"] < base["removed_ord"]),
            ).withColumn("change_type", F.lit("delete"))
            parts.append(_finish(eq_rows))
        if plan["pos_files"]:
            dmap = local_rows(spark, 
                [(d["path"], d["seq"], d["ordinal"])
                 for d in plan["pos_files"]],
                "dpath string, dseq long, change_ordinal int",
            )
            pairs = (
                spark.read.schema("file_path string, pos long")
                .parquet(*sorted(d["path"] for d in plan["pos_files"]))
                .withColumn("dpath", _norm_file_uri(F.input_file_name()))
                .join(F.broadcast(dmap), "dpath")
                .select("file_path", "pos", "dseq", "change_ordinal")
            )
            n_pos = sum(d["n"] for d in plan["pos_files"])
            pos_rows = base.join(
                _maybe_broadcast_deletes(pairs, n_pos),
                (base["_fp"] == pairs["file_path"])
                & (base["_pos"] == pairs["pos"])
                & (base["data_seq"] <= pairs["dseq"])  # spec ordering rule
                & (pairs["change_ordinal"] < base["removed_ord"]),
            ).withColumn("change_type", F.lit("delete"))
            parts.append(_finish(pos_rows))

    if not parts:
        return local_rows(spark, 
            [],
            "change_ordinal int, change_type string, o_orderkey long, "
            "price_cents long, o_orderpriority string",
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --- streaming Iceberg changelog consumption -------------------------------------

_STREAM_CHANGELOG_ORACLE = f"""
WITH base AS (
  SELECT o_orderkey AS k, o_totalprice AS p, o_orderpriority AS pr
  FROM orders
),
feed AS (
  SELECT 1 AS change_ordinal, 'delete' AS change_type,
         CAST(floor(p * 100 + 0.5) AS BIGINT) AS price_cents
  FROM base WHERE pr = '1-URGENT'
  UNION ALL
  SELECT 2, 'delete', CAST(floor(p * 100 + 0.5) AS BIGINT)
  FROM base WHERE pr <> '1-URGENT' AND k % 7 = 0
  UNION ALL
  SELECT 2, 'insert', CAST(floor((p + 10.0) * 100 + 0.5) AS BIGINT)
  FROM base WHERE pr <> '1-URGENT' AND k % 14 = 0
  UNION ALL
  SELECT 3, 'delete', CAST(floor(p * 100 + 0.5) AS BIGINT)
  FROM base WHERE pr <> '1-URGENT' AND k % 10 = 3 AND k % 7 <> 0
)
SELECT change_ordinal, change_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(price_cents) AS BIGINT) AS total_cents
FROM feed
GROUP BY change_ordinal, change_type
"""


@register("stream_iceberg_changelog", oracle=_STREAM_CHANGELOG_ORACLE)
def q_stream_iceberg_changelog(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming Iceberg CHANGELOG consumption — completes the CDC
    matrix (Delta batch `src_delta_cdf` / Delta stream
    `stream_delta_cdf` / Iceberg batch `src_iceberg_changelog` /
    Iceberg stream = THIS): `readStream` tails the table's
    metadata versions (availableNow, the `stream_iceberg_commits`
    transport) and each micro-batch classifies the snapshots it has
    not yet processed through the SAME delete-aware planner and
    row-assembly the batch key grades (`_changelog_plan` +
    `_changelog_rows`) — inserts, removed-file deletes, eq-delete and
    pos-delete row deletes, with `replace` compaction snapshots
    contributing nothing.

    At-least-once-safe: snapshots are deduped by id across batches and
    each batch's contribution is computed fully before the accumulator
    merge. Per batch the work is ONE filtered aggregation over the
    shared row assembly (constant jobs), never one job per snapshot.
    Emits (change_ordinal, change_type) aggregates — the consumer-side
    rollup of the batch key's row-level feed, graded against the same
    staged truth.
    """
    import tempfile

    root = _stage_changelog_table(spark, sf_dir)
    meta_dir = os.path.join(root, "metadata")
    meta = iceberg_meta.load(root)
    ordered = [e["snapshot-id"] for e in meta["snapshot-log"]]
    lo = ordered.index(_S2)
    ordinal_of = {
        sid: i for i, sid in enumerate(ordered[lo + 1 :], start=1)
    }
    plan = _changelog_plan(root, from_id=_S2)

    done_snaps: set[int] = set()
    done_batches: set[int] = set()
    acc: dict[tuple[int, str], list[int]] = {}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in done_batches:
            return
        seen: set[int] = set()
        for r in batch_df.select(
            F.explode("snapshots").alias("s")
        ).collect():  # bounded: snapshot metadata rows
            if r["s"]["snapshot-id"] is not None:
                seen.add(r["s"]["snapshot-id"])
        todo = sorted(
            ordinal_of[sid]
            for sid in seen - done_snaps
            if sid in ordinal_of
        )
        local: dict[tuple[int, str], list[int]] = {}
        if todo:
            rows = (
                _changelog_rows(spark, plan)
                .filter(F.col("change_ordinal").isin(todo))
                .groupBy("change_ordinal", "change_type")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("price_cents").alias("c"),
                )
                .collect()  # bounded: one row per (ordinal, type)
            )
            for r in rows:
                local[(r["change_ordinal"], r["change_type"])] = [
                    r["n"], r["c"]
                ]
        for k, (n, c) in local.items():  # atomic merge, then mark done
            got = acc.setdefault(k, [0, 0])
            got[0] += n
            got[1] += c
        done_snaps.update(seen)
        done_batches.add(batch_id)

    ckpt = tempfile.mkdtemp(prefix="iceberg_stream_cl_ckpt_")
    try:
        query = (
            iceberg_meta.stream(spark, meta_dir)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        query.stop()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    rows = [
        (o, t, n, c) for (o, t), (n, c) in sorted(acc.items()) if n
    ]
    return local_rows(spark, 
        rows,
        "change_ordinal int, change_type string, n_rows long, "
        "total_cents long",
    )


# --- Delta MERGE writer with Change Data Feed ----------------------------------

# matched-key window: a fixed literal so the oracle states the same
# predicate; at real scale only the base files whose stats interval
# overlaps [0, bound] rewrite — the rest stay byte-identical
_MERGE_KEY_BOUND = 1000

_MERGE_CDF_ORACLE = f"""
WITH ev AS (
  SELECT o_orderkey AS k, o_totalprice AS p FROM orders
  WHERE o_orderkey % 2 = 0
),
ins AS (
  SELECT o_orderkey AS k, o_totalprice AS p FROM orders
  WHERE o_orderkey % 10 = 1
),
upd AS (SELECT k, p FROM ev WHERE k % 10 = 6 AND k <= {_MERGE_KEY_BOUND}),
del AS (SELECT k, p FROM ev WHERE k % 10 = 2 AND k <= {_MERGE_KEY_BOUND}),
fin AS (
  SELECT CASE WHEN k % 10 = 6 AND k <= {_MERGE_KEY_BOUND} THEN p + 2.0
              ELSE p END AS p
  FROM ev WHERE NOT (k % 10 = 2 AND k <= {_MERGE_KEY_BOUND})
  UNION ALL
  SELECT p FROM ins
)
SELECT section, change_type, n_rows, total_cents FROM (
  SELECT 'feed' AS section, 'insert' AS change_type,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COALESCE(SUM(CAST(floor(p * 100 + 0.5) AS BIGINT)), 0)
              AS BIGINT) AS total_cents
  FROM ins
  UNION ALL
  SELECT 'feed', 'update_preimage', CAST(COUNT(*) AS BIGINT),
         CAST(COALESCE(SUM(CAST(floor(p * 100 + 0.5) AS BIGINT)), 0)
              AS BIGINT)
  FROM upd
  UNION ALL
  SELECT 'feed', 'update_postimage', CAST(COUNT(*) AS BIGINT),
         CAST(COALESCE(SUM(CAST(floor((p + 2.0) * 100 + 0.5) AS BIGINT)), 0)
              AS BIGINT)
  FROM upd
  UNION ALL
  SELECT 'feed', 'delete', CAST(COUNT(*) AS BIGINT),
         CAST(COALESCE(SUM(CAST(floor(p * 100 + 0.5) AS BIGINT)), 0)
              AS BIGINT)
  FROM del
  UNION ALL
  SELECT 'final', 'row', CAST(COUNT(*) AS BIGINT),
         CAST(COALESCE(SUM(CAST(floor(p * 100 + 0.5) AS BIGINT)), 0)
              AS BIGINT)
  FROM fin
) t
"""


@register("sink_delta_merge_cdf", oracle=_MERGE_CDF_ORACLE)
def q_sink_delta_merge_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta MERGE WRITER with CHANGE DATA FEED output (delta-io
    PROTOCOL.md §Add CDC File): one MERGE batch carrying updates
    (key % 10 == 6, price + 2), deletes (% 10 == 2) and inserts (the
    odd % 10 == 1 keys), matched keys bounded to ≤ 1000 so the rewrite
    is FILE-PRUNED — the writer joins the matched-key bounds against
    each base file's add.stats interval and rewrites ONLY overlapping
    files; everything else stays byte-identical (gated in
    tests/test_plans.py::test_merge_cdf_rewrites_only_overlapping_files).
    The commit lands cdc files (pre/postimage, delete AND insert rows —
    a MERGE's feed carries all four), adds (rewritten slice + insert
    file) and removes (the rewritten originals).

    The MERGE itself is a genuine JOIN — candidate scan left-joined to
    the source on key (broadcast stats-gated via the shared
    cardinality cap), delete-matched rows dropped, update-matched
    prices replaced — not a literal predicate; a 100 TB merge shuffles
    source and candidates on the key past the cap.

    Graded read-back derives version 1's feed FROM THE CDC FILES ALONE
    (the spec rule — deriving from the rewritten add double-counts
    every untouched row in the rewritten file) plus the final snapshot
    through live-file replay; five spine rows (insert/pre/post/delete/
    final) so empty slices on adversarial corpora still grade.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = _tmp(sf_dir, "delta_merge_cdf")
    data_dir = os.path.join(root, "data")
    cdc_dir = os.path.join(root, "_change_data")
    log_dir = os.path.join(root, "_delta_log")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(log_dir, exist_ok=True)
    ev = o.filter(F.col("o_orderkey") % 2 == 0)

    # v0: base as FOUR range-clustered files, each add carrying its
    # true min/max key stats (the zone map the rewrite prunes on)
    ev.repartitionByRange(4, "o_orderkey").write.mode("overwrite").parquet(
        data_dir
    )
    file_stats = (
        spark.read.parquet(data_dir)
        .groupBy(_norm_file_uri(F.input_file_name()).alias("fp"))
        .agg(
            F.count(F.lit(1)).alias("num"),
            F.min("o_orderkey").alias("lo"),
            F.max("o_orderkey").alias("hi"),
        )
        .collect()  # ≤4 rows: commit-payload metadata
    )
    delta_log.commit(
        log_dir,
        0,
        [
            {
                "add": {
                    "path": os.path.relpath(r["fp"], root),
                    "dataChange": True,
                    "stats": json.dumps(
                        {
                            "numRecords": r["num"],
                            "minValues": {"o_orderkey": r["lo"]},
                            "maxValues": {"o_orderkey": r["hi"]},
                        }
                    ),
                }
            }
            for r in sorted(file_stats, key=lambda r: r["fp"])
        ],
    )

    # --- the MERGE source: (key, op, new_price)
    bound = _MERGE_KEY_BOUND
    src = (
        ev.filter(
            (F.col("o_orderkey") % 10 == 6) & (F.col("o_orderkey") <= bound)
        )
        .select(
            F.col("o_orderkey").alias("k"),
            F.lit("update").alias("op"),
            (F.col("o_totalprice") + F.lit(2.0)).alias("new_price"),
        )
        .unionByName(
            ev.filter(
                (F.col("o_orderkey") % 10 == 2)
                & (F.col("o_orderkey") <= bound)
            ).select(
                F.col("o_orderkey").alias("k"),
                F.lit("delete").alias("op"),
                F.lit(None).cast("double").alias("new_price"),
            )
        )
    )
    inserts = o.filter(F.col("o_orderkey") % 10 == 1)

    # file pruning: matched-key bounds vs each add's stats interval —
    # driver-side over ≤4 metadata rows, the planner working set
    mm = src.agg(
        F.min("k").alias("lo"), F.max("k").alias("hi")
    ).collect()[0]
    touched, untouched = [], []
    for r in file_stats:
        rel = os.path.relpath(r["fp"], root)
        if (
            mm["lo"] is not None
            and not (r["hi"] < mm["lo"] or r["lo"] > mm["hi"])
        ):
            touched.append(rel)
        else:
            untouched.append(rel)

    def _write_slice(df: DataFrame, out_dir: str, tag: str) -> list[str]:
        sub = os.path.join(out_dir, tag)
        df.coalesce(1).write.mode("overwrite").parquet(sub)
        rel = os.path.relpath(sub, root)
        return [
            f"{rel}/{f}"
            for f in sorted(os.listdir(sub))
            if f.endswith(".parquet")
        ]

    new_files, cdc_files = [], []
    slice_jobs: list = []  # (list, future) — independent writes overlap
    n_src = src.count()  # bounded: the batch IS the commit's input
    if touched:
        cand = spark.read.parquet(
            *[os.path.join(root, p) for p in sorted(touched)]
        )
        joined = cand.join(
            _maybe_broadcast_deletes(src, n_src),
            cand["o_orderkey"] == src["k"],
            "left",
        )
        rewritten = joined.filter(
            F.col("op").isNull() | (F.col("op") == "update")
        ).select(
            "o_orderkey",
            F.when(F.col("op") == "update", F.col("new_price"))
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        slice_jobs.append((new_files, (rewritten, data_dir, "v1")))
        pre = joined.filter(F.col("op") == "update").select(
            "o_orderkey",
            "o_totalprice",
            F.lit("update_preimage").alias("_change_type"),
        )
        post = joined.filter(F.col("op") == "update").select(
            "o_orderkey",
            F.col("new_price").alias("o_totalprice"),
            F.lit("update_postimage").alias("_change_type"),
        )
        dels = joined.filter(F.col("op") == "delete").select(
            "o_orderkey",
            "o_totalprice",
            F.lit("delete").alias("_change_type"),
        )
        slice_jobs.append(
            (cdc_files, (pre.unionByName(post).unionByName(dels),
                         cdc_dir, "v1"))
        )
    ins_cdc = inserts.select(
        "o_orderkey", "o_totalprice", F.lit("insert").alias("_change_type")
    )
    slice_jobs.append((cdc_files, (ins_cdc, cdc_dir, "v1ins")))
    slice_jobs.append((new_files, (inserts, data_dir, "v1ins")))
    # the up-to-four slice writes land in disjoint subdirs and share no
    # data dependency: run them as concurrent jobs (guide-§2.6
    # back-fill); results append in the fixed submission order so the
    # commit json is unchanged
    with ThreadPoolExecutor(max_workers=len(slice_jobs)) as pool:
        futs = [
            (sink, pool.submit(_write_slice, *args))
            for sink, args in slice_jobs
        ]
        for sink, fut in futs:
            sink += fut.result()
    delta_log.commit(
        log_dir,
        1,
        [{"cdc": {"path": p, "dataChange": False}} for p in cdc_files]
        + [{"add": {"path": p, "dataChange": True}} for p in new_files]
        + [
            {"remove": {"path": p, "dataChange": True}}
            for p in sorted(touched)
        ],
    )

    # --- read back: v1 feed FROM cdc files alone + final snapshot
    feed = (
        spark.read.parquet(*[os.path.join(root, p) for p in cdc_files])
        .groupBy("_change_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            ).alias("cents"),
        )
    )
    spine = local_rows(spark, 
        [("insert",), ("update_preimage",), ("update_postimage",),
         ("delete",)],
        "_change_type string",
    )
    feed_rows = spine.join(feed, "_change_type", "left").select(
        F.lit("feed").alias("section"),
        F.col("_change_type").alias("change_type"),
        F.coalesce("n", F.lit(0).cast("bigint")).alias("n_rows"),
        F.coalesce("cents", F.lit(0).cast("bigint")).alias("total_cents"),
    )
    live = delta_log.snapshot(log_dir).live  # adds-minus-removes replay
    final = spark.read.parquet(
        *sorted(os.path.join(root, p) for p in live)
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            ),
            F.lit(0).cast("bigint"),
        ).alias("total_cents"),
    ).select(
        F.lit("final").alias("section"),
        F.lit("row").alias("change_type"),
        "n_rows",
        "total_cents",
    )
    return feed_rows.unionByName(final)


# --- Iceberg UPSERT writer (equality-delete MERGE) -----------------------------

_UPSERT_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(
           CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 7.0
                WHEN o_orderkey % 5 = 0 THEN o_totalprice + 5.0
                ELSE o_totalprice END * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM orders
WHERE o_orderpriority <> '1-URGENT'
GROUP BY o_orderpriority
"""


def _iceberg_upsert_commit(
    spark: SparkSession,
    root: str,
    batch: DataFrame,
    snap_id: int,
    seq: int,
    ts: int,
) -> None:
    """Commit one UPSERT batch the way a CDC writer lands it (spec
    §Equality Delete Files): the batch's rows become seq-N data files,
    its KEYS become one seq-N global equality-delete file, and the new
    manifest list carries every prior manifest UNCHANGED (commits are
    O(batch), never O(table) — nothing existing is read or rewritten).
    The strict `data_seq < delete_seq` rule at read time makes the
    same-commit inserts survive their own delete."""
    data_dir = os.path.join(root, "data")
    meta_dir = os.path.join(root, "metadata")
    # the batch's data shards and its eq-delete key file are
    # independent writes to disjoint dirs — run them as concurrent
    # jobs (guide §2.6); content identical, tail-filled wall time
    eq_stage = os.path.join(meta_dir, f"eqdel-s{seq}.staging")

    def _write_data():
        batch.coalesce(1).write.mode("overwrite").partitionBy(
            "o_orderpriority"
        ).parquet(os.path.join(data_dir, f"s{seq}"))

    def _write_keys():
        # the eq-delete file is written BY AN EXECUTOR (r14 verdict
        # hardening): a backfill-sized batch must not round-trip its
        # keys through the driver. One sorted single-partition write,
        # then a driver-side rename — a metadata op, like any commit
        # finalize.
        (
            batch.select(F.col("o_orderkey").cast("long"))
            .repartition(1)
            .sortWithinPartitions("o_orderkey")
            .write.mode("overwrite")
            .parquet(eq_stage)
        )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fd, fk = pool.submit(_write_data), pool.submit(_write_keys)
        fd.result(), fk.result()
    ins = [
        entry(ADDED, snap_id, seq, p, v)
        for p, v in _pfiles(data_dir, f"s{seq}")
    ]
    (part,) = [
        f for f in os.listdir(eq_stage) if f.endswith(".parquet")
    ]
    eq_path = os.path.join(meta_dir, f"eqdel-s{seq}.parquet")
    os.replace(os.path.join(eq_stage, part), eq_path)
    shutil.rmtree(eq_stage, ignore_errors=True)
    dels = [
        entry(ADDED, snap_id, seq, eq_path, None, equality_ids=[1], content=2)
    ]
    mi = write_manifest(meta_dir, f"m{seq}-upsert-data.avro", ins)
    md = write_manifest(meta_dir, f"m{seq}-upsert-del.avro", dels)
    with iceberg_meta.update(root) as meta:
        ml = write_manifest_list(
            meta_dir,
            snap_id,
            iceberg_meta.manifests(_iceberg_snapshot(meta))
            + [
                list_record(mi, ins, snap_id, seq),
                list_record(md, dels, snap_id, seq, content=1),
            ],
            tag="1-upsert",
        )
        iceberg_meta.add_snapshot(meta, snap_id, seq, ts, ml, "overwrite")


@register("sink_iceberg_upsert", oracle=_UPSERT_ORACLE)
def q_sink_iceberg_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg UPSERT (MERGE) WRITER — the write-side twin of
    `src_iceberg_eq_delete`: each batch commits its rows as new data
    files plus ONE equality-delete file over its keys, touching nothing
    that exists (the Flink-CDC pattern that keeps a 100 TB table's
    merge cost O(batch)). TWO batches land so the layering rule is
    graded: batch 2's delete (seq 5) must kill batch 1's seq-4 rows for
    overlapping keys (% 15 == 0) while batch 2's own inserts survive
    the strict `<`, and untouched base rows pass through.

    Staged: the shared three-snapshot base (live = non-urgent rows),
    then s4 = upsert of % 5 == 0 keys at price + 5, s5 = upsert of
    % 3 == 0 keys at price + 7.

    Read-back applies ALL eq-delete files in one unioned key scan and
    ONE anti-join on `(key, data_seq < dseq)` — plan depth independent
    of how many upsert batches have landed (gated in
    tests/test_plans.py::test_iceberg_upsert_single_anti_join);
    broadcast is stats-gated on manifest record counts.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    root = _tmp(sf_dir, "iceberg_upsert")
    _iceberg_stage(spark, o, root)
    live_src = o.filter(F.col("o_orderpriority") != "1-URGENT")
    _S4, _S5 = _S3 + 1, _S3 + 2
    _iceberg_upsert_commit(
        spark,
        root,
        live_src.filter(F.col("o_orderkey") % 5 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(5.0)
        ),
        _S4, 4, _T3 + 60_000,
    )
    _iceberg_upsert_commit(
        spark,
        root,
        live_src.filter(F.col("o_orderkey") % 3 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(7.0)
        ),
        _S5, 5, _T3 + 120_000,
    )

    # --- read back through the strict-sequence eq-delete contract
    # (the shared _scan_apply_eq_deletes path — writer and reader are
    # held to one contract)
    meta = iceberg_meta.load(root)
    data_files, delete_files = iceberg_meta.plan(_iceberg_snapshot(meta))
    df = _scan_apply_eq_deletes(spark, data_files, delete_files)
    if df is None:  # adversarial corpus: all-urgent base, empty batches
        return local_rows(spark, 
            [], "o_orderpriority string, n_rows long, total_cents long"
        )
    return df.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("total_cents"),
    )


# --- Iceberg delete-file maintenance (rewrite_position_delete_files) -----------

_REWRITE_DEL_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(
           CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 7.0
                WHEN o_orderkey % 5 = 0 THEN o_totalprice + 5.0
                ELSE o_totalprice END * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM orders
WHERE o_orderpriority <> '1-URGENT'
GROUP BY o_orderpriority
"""


@register("sink_iceberg_rewrite_deletes", oracle=_REWRITE_DEL_ORACLE)
def q_sink_iceberg_rewrite_deletes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg DELETE-FILE MAINTENANCE (the `rewrite_position_delete_
    files` / delete-compaction action): a CDC-heavy table accumulates
    equality/position delete files that every subsequent read must
    re-apply — the maintenance commit MATERIALIZES them, rewriting the
    affected data files with deletes applied and committing a REPLACE
    snapshot whose manifest list carries NO delete manifests, so reads
    return to pure scans. Completes the maintenance quartet
    (compact / expire_snapshots / rollback / rewrite_deletes).

    Staged: the sink_iceberg_upsert history (base + two eq-delete
    upsert batches), then the maintenance commit: read live state WITH
    deletes applied (one distributed scan + ONE anti-join — the normal
    read path), rewrite one file per partition at seq 6, list = the
    single rewrite manifest (data entries ADDED at s6, every prior
    data file DELETED for incremental consumers, delete files dropped).

    Graded: the post-maintenance read must equal the pre-maintenance
    upsert semantics exactly (same oracle as sink_iceberg_upsert); the
    plan gate asserts the final manifest list carries zero delete
    manifests and the post-maintenance scan plans NO anti-join
    (tests/test_plans.py::test_rewrite_deletes_leaves_pure_scans).

    Scale: the rewrite is O(live data) — the cost a maintenance window
    pays ONCE so every later read stops paying the anti-join; at
    100 TB this runs per-partition (the staging writes per-partition
    files exactly so).
    """
    # stage via the upsert key's own staging (it restages its root from
    # scratch at call time; the returned read-back plan is not needed)
    q_sink_iceberg_upsert(spark, sf_dir)
    root = _tmp(sf_dir, "iceberg_upsert")
    data_dir = os.path.join(root, "data")
    meta_dir = os.path.join(root, "metadata")

    with iceberg_meta.update(root) as meta:
        cur = _iceberg_snapshot(meta)
        data_files, delete_files = iceberg_meta.plan(cur)
        _S6 = _S3 + 3
        if data_files:
            # live state WITH deletes applied — the normal (shared) read path
            df = _scan_apply_eq_deletes(spark, data_files, delete_files)
            # rewrite: one file per partition at seq 6, deletes materialized
            df.select(
                "o_orderkey", "o_totalprice", "o_orderpriority"
            ).coalesce(1).write.mode("overwrite").partitionBy(
                "o_orderpriority"
            ).parquet(os.path.join(data_dir, "s6"))
            entries = [
                entry(ADDED, _S6, 6, p, v)
                for p, v in _pfiles(data_dir, "s6")
            ]
            # prior data files leave as DELETED (visible one snapshot for
            # incremental consumers, per spec); delete files are DROPPED —
            # materialized, they must not survive into the new list
            entries += [
                entry(DELETED, _S6, d["seq"], d["path"], d["pval"])
                for d in sorted(data_files, key=lambda d: d["path"])
            ]
            m6 = write_manifest(meta_dir, "m6-rewrite-deletes.avro", entries)
            l6 = write_manifest_list(
                meta_dir,
                _S6,
                [list_record(m6, entries, _S6, 6)],
                tag="1-rewrite",
            )
            iceberg_meta.add_snapshot(
                meta, _S6, 6, _T3 + 180_000, l6, "replace"
            )

    # --- post-maintenance read: pure scan, no delete application
    meta = iceberg_meta.load(root)
    data_files, delete_files = iceberg_meta.plan(_iceberg_snapshot(meta))
    assert not delete_files, "maintenance left delete files behind"
    if not data_files:
        return local_rows(spark, 
            [], "o_orderpriority string, n_rows long, total_cents long"
        )
    out = _scan_with_partition(spark, data_files)
    return out.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("total_cents"),
    )


# --- Iceberg v3 VARIANT columns ----------------------------------------------

_V3VAR_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
           / 1000000.0 AS sum_value,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY event_type
"""


@register("src_iceberg_v3_variant", oracle=_V3VAR_ORACLE)
def q_src_iceberg_v3_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg V3 VARIANT columns (table spec v3 §Primitive Types:
    `variant` — semi-structured values with the same binary
    value/metadata encoding Delta and Spark 4 share): the schema
    declares field 3 as `variant`, data files carry Spark's native
    shredded encoding, and a reader shreds typed paths back out with
    `try_variant_get` inside whole-stage codegen — no JSON re-parsing
    per row, the 100 TB reason the type exists. The Iceberg twin of
    `src_delta_variant_type`, closing the one v3 reader feature the
    v3 trio (DVs, row lineage, defaults) left uncovered.

    Staged: an unpartitioned v3 table; s1 appends the even-event_id
    file plus a DECOY duplicate, s2 rewrites s1's manifest (even file
    EXISTING, decoy DELETED) and appends the odd file. A
    directory-listing reader double-counts the decoy; a reader that
    loses the variant metadata or coerces types fails the value hash
    (fixed-point double sum + distinct users through the payload).

    Scale: planning is the bounded manifest walk; the live files read
    in ONE distributed scan (unpartitioned — no per-partition
    branches); shredding is columnar, no UDF.
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
    root = _tmp(sf_dir, "iceberg_v3var")
    data_dir = os.path.join(root, "data")
    meta_dir = os.path.join(root, "metadata")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(meta_dir)

    def _one_file(df: DataFrame, sub: str) -> str:
        out = os.path.join(data_dir, sub)
        df.coalesce(1).write.mode("overwrite").parquet(out)
        (f,) = [
            os.path.join(out, x)
            for x in os.listdir(out)
            if x.endswith(".parquet")
        ]
        return f

    evens = _one_file(enc.filter(F.col("event_id") % 2 == 0), "s1")
    decoy = _one_file(enc.filter(F.col("event_id") % 2 == 0), "s1decoy")
    odds = _one_file(enc.filter(F.col("event_id") % 2 == 1), "s2")
    # record counts come from the WRITER (one count per slice) — the
    # default footer probe uses pyarrow, which cannot open parquet
    # carrying the VARIANT logical type
    n_even = enc.filter(F.col("event_id") % 2 == 0).count()
    n_odd = enc.filter(F.col("event_id") % 2 == 1).count()

    def _uentry(
        status: int, sid: int, seq: int, path: str, n: int
    ) -> dict:
        ent = entry(status, sid, seq, path, None, record_count=n)
        ent["data_file"]["partition"] = {"o_orderpriority": None}
        return ent

    e1 = [
        _uentry(ADDED, _S1, 1, evens, n_even),
        _uentry(ADDED, _S1, 1, decoy, n_even),
    ]
    e2 = [
        _uentry(EXISTING, _S1, 1, evens, n_even),
        _uentry(DELETED, _S2, 1, decoy, n_even),
        _uentry(ADDED, _S2, 2, odds, n_odd),
    ]
    m1 = write_manifest(meta_dir, "m1-variant.avro", e1)
    m2 = write_manifest(meta_dir, "m2-variant.avro", e2)
    l1 = write_manifest_list(
        meta_dir,
        _S1,
        [list_record(m1, e1, _S1, 1)],
        tag="1-variant",
        format_version=3,
    )
    l2 = write_manifest_list(
        meta_dir,
        _S2,
        [list_record(m2, e2, _S2, 2)],
        tag="1-variant",
        format_version=3,
    )
    meta = {
        "format-version": 3,
        "table-uuid": "9f2a7b4e-1d15-4d29-8c3a-iceberg-v3va",
        "location": root,
        "last-sequence-number": 2,
        "last-updated-ms": _T3,
        "last-column-id": 3,
        "next-row-id": n_even + n_odd,
        "schemas": [
            {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {
                        "id": 1,
                        "name": "event_id",
                        "required": False,
                        "type": "long",
                    },
                    {
                        "id": 2,
                        "name": "event_type",
                        "required": False,
                        "type": "string",
                    },
                    {
                        "id": 3,
                        "name": "payload",
                        "required": False,
                        "type": "variant",
                    },
                ],
            }
        ],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "current-snapshot-id": _S2,
        "snapshots": [
            iceberg_meta.snapshot_record(
                _S1, 1, _T3, l1, "append", first_row_id=0
            ),
            iceberg_meta.snapshot_record(
                _S2, 2, _T3 + 60_000, l2, "overwrite", first_row_id=n_even
            ),
        ],
        "snapshot-log": [
            {"timestamp-ms": _T3, "snapshot-id": _S1},
            {"timestamp-ms": _T3 + 60_000, "snapshot-id": _S2},
        ],
    }
    iceberg_meta.commit(meta_dir, 1, meta)

    # --- reader: v3 gate + schema-declared variant field + one scan
    meta = iceberg_meta.load(root)
    if meta["format-version"] != 3:
        raise ValueError("variant columns require format-version 3")
    schema = next(
        s
        for s in meta["schemas"]
        if s["schema-id"] == meta["current-schema-id"]
    )
    var_fields = [f for f in schema["fields"] if f["type"] == "variant"]
    assert var_fields and var_fields[0]["name"] == "payload", (
        "table schema must declare the variant column"
    )
    data_files, _ = iceberg_meta.plan(_iceberg_snapshot(meta))
    if not data_files:
        return local_rows(spark, 
            [], "event_type string, n_rows long, sum_value double, "
            "n_users long"
        )
    data = spark.read.parquet(*sorted(d["path"] for d in data_files))
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


# --- Delta RESTORE (version rollback as a forward commit) ----------------------

_RESTORE_ORACLE = """
SELECT CAST(o_orderkey % 2 AS BIGINT) AS parity,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM orders
GROUP BY o_orderkey % 2
"""


@register("sink_delta_restore", oracle=_RESTORE_ORACLE)
def q_sink_delta_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta RESTORE — roll the table back to an earlier version as a
    FORWARD commit (the protocol has no pointer to flip, unlike
    Iceberg's `sink_iceberg_rollback`): version N+1 re-adds every file
    live at the target version but not now, and removes every file
    live now but not then. No data file is written or rewritten —
    RESTORE is O(files diffed), the metadata cost that makes "undo the
    bad compaction" instant at 100 TB, and history stays intact (the
    rolled-back version is still time-travel-readable).

    Staged: the shared three-commit history (v0 evens in 2 files, v1
    odds, v2 compaction of v0 — dataChange false), then RESTORE to
    v1: the diff re-adds v0's two files and removes v2's compacted
    file. The restore actions carry dataChange TRUE even though the
    content happens to be identical here — downstream consumers cannot
    assume they ever saw the re-added files, so the protocol treats a
    restore as a data change (delta-spark stamps it the same way).

    Graded: the post-restore snapshot must equal v1's content exactly
    — the full even+odd slice (all orders rows). A restore that diffs
    against v0, forgets the removes, or re-adds the compacted file
    double-counts and fails the hash.
    tests/test_delta_protocol.py::test_restore_is_metadata_only_and_reversible
    pins the byte-identical data dir, the exact live-set flip, and v2
    still being readable.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = _tmp(sf_dir, "delta_restore")
    log_dir = os.path.join(root, "_delta_log")
    _delta_stage_history(spark, o, root)

    # live sets now (v2) and at the restore target (v1) — bounded
    # metadata from the shared replay helper, one row per (version,
    # file)
    by_v: dict[int, set[str]] = {}
    for r in _delta_live_files(spark, log_dir).collect():
        by_v.setdefault(r["version"], set()).add(r["fname"])
    target, current = by_v.get(1, set()), by_v.get(2, set())
    _delta_commit(
        log_dir,
        3,
        adds=target - current,      # v0's files come back
        removes=current - target,   # the compacted file goes
        data_change=True,
    )

    live = _delta_latest_live_files(spark, root)
    data = spark.read.parquet(
        *sorted(os.path.join(root, "data", f) for f in live)
    )
    return data.groupBy(
        (F.col("o_orderkey") % 2).cast("bigint").alias("parity")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("total_cents"),
    )


# --- Delta SHALLOW CLONE --------------------------------------------------------

_CLONE_ORACLE = """
SELECT section, CAST(o_orderkey % 2 AS BIGINT) AS parity,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(price * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM (
  SELECT 'source' AS section, o_orderkey, o_totalprice AS price
  FROM orders
  UNION ALL
  SELECT 'clone', o_orderkey, o_totalprice FROM orders
  UNION ALL
  SELECT 'clone', o_orderkey, o_totalprice + 9.0 FROM orders
  WHERE o_orderkey % 2 = 1
) t
GROUP BY section, o_orderkey % 2
"""


@register("sink_delta_clone", oracle=_CLONE_ORACLE)
def q_sink_delta_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta SHALLOW CLONE — a zero-copy table fork (delta-io
    PROTOCOL.md: `add.path` "can be an absolute path or a relative
    path"; a shallow clone's commit references the SOURCE table's data
    files by absolute path): the clone costs O(live files) of metadata
    regardless of table size — the instant dev/test/experiment fork a
    100 TB table needs — and then evolves independently: appends land
    in the clone's own directory and the source never sees them.

    Staged: the shared three-commit source history, then the clone's
    v0 (absolute-path adds of the source's live files) and v1 (the
    clone's OWN append: odd keys at price + 9.00). Graded both sides
    in one output: section 'source' must show the source UNCHANGED by
    the clone's append (a clone that writes into the source's log or
    directory fails here); section 'clone' = source content + the
    appended rows. A reader that resolves absolute add paths against
    the clone root reads garbage; one that copies data defeats the
    point (gated: the clone's data dir holds ONLY its own append —
    tests/test_delta_protocol.py::test_shallow_clone_copies_no_data).
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    src_root = _tmp(sf_dir, "delta_clone_src")
    clone_root = _tmp(sf_dir, "delta_clone")
    _delta_stage_history(spark, o, src_root)
    shutil.rmtree(clone_root, ignore_errors=True)
    clone_log = os.path.join(clone_root, "_delta_log")
    clone_data = os.path.join(clone_root, "data")
    os.makedirs(clone_log)

    # clone v0: absolute-path adds of the source's live files — pure
    # metadata, O(live files), zero data bytes
    src_live = _delta_latest_live_files(spark, src_root)
    delta_log.commit(
        clone_log,
        0,
        [{"commitInfo": {"operation": "CLONE"}}]
        + [
            {
                "add": {
                    "path": os.path.join(src_root, "data", f),
                    "dataChange": True,
                }
            }
            for f in sorted(src_live)
        ],
    )

    # clone v1: its OWN append — lands under the CLONE's directory
    o.filter(F.col("o_orderkey") % 2 == 1).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(9.0)
    ).coalesce(1).write.mode("append").parquet(clone_data)
    _delta_commit(clone_log, 1, _delta_list_files(clone_data), set())

    def _read(root: str, section: str) -> DataFrame:
        # resolve each live add per the spec: absolute paths verbatim,
        # relative paths against the table root
        live = delta_log.snapshot(os.path.join(root, "_delta_log")).live
        paths = sorted(
            p if os.path.isabs(p) else os.path.join(root, p) for p in live
        )
        return spark.read.parquet(*paths).select(
            F.lit(section).alias("section"),
            "o_orderkey",
            F.col("o_totalprice").alias("price"),
        )

    both = _read(src_root, "source").unionByName(_read(clone_root, "clone"))
    return both.groupBy(
        "section", (F.col("o_orderkey") % 2).cast("bigint").alias("parity")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.floor(F.col("price") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("total_cents"),
    )


# --- Iceberg WAP publish (fast-forward a branch to main) -----------------------

_WAP_ORACLE = """
SELECT section, o_orderpriority, n_rows, total_cents FROM (
  SELECT 'before' AS section, o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS total_cents
  FROM orders WHERE o_orderpriority <> '1-URGENT'
  GROUP BY o_orderpriority
  UNION ALL
  SELECT 'after', o_orderpriority, CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CAST(floor(
             CASE WHEN o_orderpriority = '1-URGENT'
                  THEN o_totalprice + 3.0
                  ELSE o_totalprice END * 100 + 0.5) AS BIGINT)) AS BIGINT)
  FROM orders
  GROUP BY o_orderpriority
) t
"""


@register("sink_iceberg_publish_wap", oracle=_WAP_ORACLE)
def q_sink_iceberg_publish_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg WRITE-AUDIT-PUBLISH — the branch workflow `refs` exist
    for (spec §Snapshot References): a pipeline WRITES to an audit
    branch (s4, invisible to main's readers), audits it, then
    PUBLISHES by fast-forwarding `main` to the branch's snapshot — a
    METADATA-ONLY commit: one new metadata.json, zero data or manifest
    files written (gated in
    tests/test_plans.py::test_wap_publish_is_metadata_only). This is
    how a 100 TB table takes an all-or-nothing multi-file update
    without readers ever seeing a half-written state.

    Staged: the shared base (live = non-urgent after s3), then s4 on
    branch `audit`: re-insert the urgent rows at price + 3.00 (the
    audited correction), manifest list carrying m3 + the new manifest.
    Before publish, `main` still resolves to s3; after the
    fast-forward both `main` and the current snapshot are s4.

    Graded both sides in one output: section 'before' = the
    pre-publish main read (non-urgent only — a reader that resolves
    the branch too early leaks unaudited rows here), section 'after'
    = the published state (non-urgent originals + urgent at +3.00).
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    root = _tmp(sf_dir, "iceberg_wap")
    _iceberg_stage(spark, o, root)
    data_dir = os.path.join(root, "data")
    meta_dir = os.path.join(root, "metadata")
    _S4 = _S3 + 1

    # s4 on branch `audit`: the corrected urgent slice at seq 4
    o.filter(F.col("o_orderpriority") == "1-URGENT").withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(3.0)
    ).coalesce(1).write.mode("overwrite").partitionBy(
        "o_orderpriority"
    ).parquet(os.path.join(data_dir, "s4"))
    e4 = [entry(ADDED, _S4, 4, p, v) for p, v in _pfiles(data_dir, "s4")]
    m4 = write_manifest(meta_dir, "m4-wap.avro", e4)
    # branch `audit` only — main and current-snapshot-id stay at s3:
    # the write is INVISIBLE to main's readers until publish
    with iceberg_meta.update(root) as tm:
        # the list carries s3's manifest and adds m4
        l4 = write_manifest_list(
            meta_dir,
            _S4,
            iceberg_meta.manifests(_iceberg_snapshot(tm))
            + [list_record(m4, e4, _S4, 4)],
            tag="1-wap",
        )
        iceberg_meta.add_snapshot(
            tm, _S4, 4, _T3 + 60_000, l4, "append", branch="audit",
            summary={"operation": "append", "wap.id": "audit-1"},
        )

    def _read_main(meta: dict) -> DataFrame | None:
        snap = _iceberg_snapshot(meta, ref="main")
        return _scan_with_partition(spark, iceberg_meta.plan(snap)[0])

    before = _read_main(iceberg_meta.load(root))

    # PUBLISH: fast-forward main — metadata-only pointer move
    with iceberg_meta.update(root) as tm:
        tm["refs"]["main"]["snapshot-id"] = _S4
        tm["current-snapshot-id"] = _S4
        tm["snapshot-log"].append(
            {"timestamp-ms": _T3 + 120_000, "snapshot-id": _S4}
        )

    after = _read_main(iceberg_meta.load(root))

    def _agg(df: DataFrame | None, section: str) -> DataFrame:
        if df is None:
            return local_rows(spark, 
                [],
                "section string, o_orderpriority string, n_rows long, "
                "total_cents long",
            )
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            ).alias("total_cents"),
        ).select(
            F.lit(section).alias("section"),
            "o_orderpriority",
            "n_rows",
            "total_cents",
        )

    return _agg(before, "before").unionByName(_agg(after, "after"))


# --- Delta DELETE via deletion vector (write path) ---------------------------

_DV_DELETE_ORACLE = """
SELECT CAST(o_orderkey % 2 AS BIGINT) AS parity,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM orders
WHERE o_orderkey % 10 <> 7 AND o_orderkey % 10 <> 4
GROUP BY o_orderkey % 2
"""


def _delta_delete_to_dv(
    spark: SparkSession, root: str, predicate
) -> int:
    """Execute `DELETE WHERE predicate` against the Delta table at
    `root` by EMITTING DELETION VECTORS (delta-io PROTOCOL.md
    §Deletion Vectors, §Writer Requirements for Deletion Vectors): for
    each live file with matching rows, write the file's new DV (the
    union of its existing DV and the newly matched positions) into one
    on-disk DV file for the whole commit, then commit
    remove(path, dataChange) + add(path, new DV) per touched file. The
    data parquet files are NEVER rewritten — O(deleted rows) commit
    cost, the modern engine answer at 100 TB (file rewrite is
    `sink_delta_replacewhere`'s job).

    The DV build is fully DISTRIBUTED (r14 verdict hardening): matched
    positions are aggregated per file executor-side (groupBy on the
    file path → one Arrow-batched group per touched file), each group
    merges the file's CURRENT DV (decoded in the executor — an already
    DV-deleted row is never re-deleted, its position would otherwise
    churn every subsequent DV), writes the file's new DV blob to disk
    from the executor, and returns ONE descriptor row. The driver
    collects only those O(touched-files) descriptors — the commit JSON
    payload — never the deleted-row positions: a DELETE matching 1% of
    a 100 TB table collects thousands of descriptors, not billions of
    (path, pos) tuples. Returns the new version number."""
    from pyspark import cloudpickle

    from random_forest_using_hadoop_spark import delta_format as _dfmt

    log_dir = os.path.join(root, "_delta_log")
    snap = delta_log.snapshot(log_dir)
    # per-file current-DV descriptor map: O(files) metadata, shipped to
    # the matched rows via a broadcast equi-join on the file path
    desc_map = local_rows(spark, 
        [
            (
                os.path.join(root, p),
                json.dumps(add["deletionVector"])
                if (add.get("deletionVector") or {}).get("storageType")
                else None,
            )
            for p, add in sorted(snap.live.items())
        ],
        "_fp string, _dv string",
    )
    matched = (
        spark.read.parquet(*sorted(os.path.join(root, p) for p in snap.live))
        .select(
            "o_orderkey",
            _norm_file_uri(F.input_file_name()).alias("_fp"),
            F.col("_metadata.row_index").alias("_pos"),
        )
        .filter(predicate)
        .select("_fp", "_pos")
        .join(F.broadcast(desc_map), "_fp")
    )
    # bind the codec by VALUE: the grading driver's workers don't have
    # the repo cwd on sys.path (see iceberg_ext streaming writers)
    cloudpickle.register_pickle_by_value(_dfmt)
    _dv_read = _dfmt.dv_read
    _dv_descs = _dfmt.dv_on_disk_descriptors
    _root = root

    def _build_dv(pdf):
        import json as _json
        import os as _os

        import pandas as _pd

        fp = pdf["_fp"].iloc[0]
        dvj = pdf["_dv"].iloc[0]
        cur = (
            set(_dv_read(_json.loads(dvj), _root)) if dvj else set()
        )
        new = {int(x) for x in pdf["_pos"]} - cur
        if not new:  # every match already DV-dead: file untouched
            return _pd.DataFrame(
                {
                    "path": _pd.Series([], dtype="object"),
                    "dv": _pd.Series([], dtype="object"),
                }
            )
        (desc,) = _dv_descs([sorted(new | cur)], _root, prefix="dv")
        return _pd.DataFrame(
            {
                "path": [_os.path.relpath(fp, _root)],
                "dv": [_json.dumps(desc)],
            }
        )

    descs = sorted(
        ((r["path"], json.loads(r["dv"])) for r in (
            matched.groupBy("_fp")
            .applyInPandas(_build_dv, schema="path string, dv string")
            .collect()  # O(touched files): the commit's descriptors
        )),
    )
    if not descs:
        return snap.version
    actions = [{"commitInfo": {"operation": "DELETE"}}]
    for rel, desc in descs:
        actions.append({"remove": {"path": rel, "dataChange": True}})
        actions.append(
            {"add": {"path": rel, "dataChange": True, "deletionVector": desc}}
        )
    delta_log.commit(log_dir, snap.version + 1, actions)
    return snap.version + 1


@register("sink_delta_delete_dv", oracle=_DV_DELETE_ORACLE)
def q_sink_delta_delete_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta DELETE emitting DELETION VECTORS (the WRITE side of
    `src_delta_deletion_vector`): two successive deletes against the
    same two-file table — v1 drops o_orderkey % 10 == 7, v2 drops
    % 10 == 4 — each committing remove+add with a fresh on-disk DV
    (spec `storageType: "u"`, Z85 uuid path form) while the parquet
    data files stay byte-identical (asserted in
    tests/test_delta_protocol.py). The second delete exercises the
    DV-merge rule: a file's new DV must carry the UNION of its old DV
    and the new positions, and the matching scan must apply the
    current DV first so already-deleted rows don't re-enter the
    payload.

    Graded read-back goes through the SAME descriptor decode +
    broadcast anti-join path as the reader key, so writer and reader
    are held to one contract. Oracle: all rows except % 10 ∈ {7, 4}.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = _tmp(sf_dir, "delta_dv_write")
    data_dir = os.path.join(root, "data")
    log_dir = os.path.join(root, "_delta_log")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(log_dir, exist_ok=True)
    # stage both parity files in ONE distributed job (partitionBy into
    # a scratch dir, rename the two parts in) instead of two sequential
    # coalesce(1) appends — the files' contents are identical slices
    scratch = os.path.join(root, "_scratch")
    o.withColumn("par", (F.col("o_orderkey") % 2).cast("int")).repartition(
        "par"
    ).write.partitionBy("par").mode("overwrite").parquet(scratch)
    os.makedirs(data_dir, exist_ok=True)
    for d in sorted(os.listdir(scratch)):
        if not d.startswith("par="):
            continue
        for f in os.listdir(os.path.join(scratch, d)):
            if f.endswith(".parquet"):
                os.rename(
                    os.path.join(scratch, d, f),
                    os.path.join(data_dir, f"par{d[4:]}-{f}"),
                )
    shutil.rmtree(scratch, ignore_errors=True)
    _delta_commit(log_dir, 0, _delta_list_files(data_dir), set())

    _delta_delete_to_dv(spark, root, F.col("o_orderkey") % 10 == 7)
    _delta_delete_to_dv(spark, root, F.col("o_orderkey") % 10 == 4)

    # read back through the descriptor decode + anti-join contract
    live = delta_log.snapshot(log_dir).live
    del_rows = []
    for rel, add in live.items():
        dv = add.get("deletionVector")
        if dv is not None and dv.get("storageType"):
            fp = os.path.join(root, rel)
            for pos in dv_read(dv, root):
                del_rows.append((fp, pos))
    data = spark.read.parquet(
        *sorted(os.path.join(root, p) for p in live)
    ).select(
        "o_orderkey",
        "o_totalprice",
        _norm_file_uri(F.input_file_name()).alias("_fp"),
        F.col("_metadata.row_index").alias("_pos"),
    )
    if del_rows:
        dv_frame = local_rows(spark, del_rows, "_fp string, _pos long")
        data = data.join(F.broadcast(dv_frame), ["_fp", "_pos"], "left_anti")
    return data.groupBy(
        (F.col("o_orderkey") % 2).cast("bigint").alias("parity")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("total_cents"),
    )
