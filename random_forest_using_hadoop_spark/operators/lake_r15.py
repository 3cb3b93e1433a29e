"""Round-15 lake-format write operators: Iceberg snapshot-ref LIFECYCLE
(create tag / create branch / ref-retention expiry / snapshot expiry
honoring refs) — the write side of ``src_iceberg_refs`` — and Delta
writer-side CHECK constraints.

Reference analog: none citable (the reference checkout is empty —
SURVEY.md §0); semantics follow the public Iceberg table spec
(§Snapshot References, §Table Metadata) and the delta-io PROTOCOL.md
(§CHECK Constraints), matching what `manageSnapshots()` /
`expireSnapshots()` and Delta's `ALTER TABLE ADD CONSTRAINT` do.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from random_forest_using_hadoop_spark.iceberg_meta import (
    ADDED,
    entry,
    list_record,
    write_manifest,
    write_manifest_list,
)
from random_forest_using_hadoop_spark.operators.iceberg_ext import (
    _S1,
    _S2,
    _S3,
    _T1,
    _T3,
    _iceberg_expire_snapshots,
    _iceberg_snapshot,
    _iceberg_stage,
    _pfiles,
    _scan_apply_pos_deletes,
    _scan_with_name_mapping,
    _scan_with_partition,
)
from random_forest_using_hadoop_spark import delta_log, iceberg_meta
from random_forest_using_hadoop_spark.delta_log import (
    _delta_latest_live_files,
    _delta_live_files,
    _delta_max_version,
)
from random_forest_using_hadoop_spark.operators.scans import _tmp
from random_forest_using_hadoop_spark.registry import register
from random_forest_using_hadoop_spark.sources import load_table
from random_forest_using_hadoop_spark.helpers import local_rows

# --- Iceberg ref lifecycle writers ---------------------------------------------


def iceberg_create_ref(
    root: str,
    name: str,
    snapshot_id: int,
    kind: str,
    max_ref_age_ms: int | None = None,
    min_snapshots_to_keep: int | None = None,
) -> None:
    """CREATE TAG / CREATE BRANCH (spec §Snapshot References): add one
    entry to the metadata's `refs` map pointing at an EXISTING
    snapshot. Pure metadata: one new metadata.json, nothing else
    touched. Refuses unknown snapshots and duplicate names — a ref is
    a named pin, not an upsert."""
    if kind not in ("tag", "branch"):
        raise ValueError(f"ref type must be tag or branch, got {kind!r}")
    with iceberg_meta.update(root) as tm:
        if snapshot_id not in {s["snapshot-id"] for s in tm["snapshots"]}:
            raise ValueError(f"snapshot {snapshot_id} not in table metadata")
        refs = tm.setdefault(
            "refs",
            {
                "main": {
                    "snapshot-id": tm["current-snapshot-id"],
                    "type": "branch",
                }
            },
        )
        if name in refs:
            raise ValueError(f"ref {name!r} already exists")
        entry: dict = {"snapshot-id": snapshot_id, "type": kind}
        if max_ref_age_ms is not None:
            entry["max-ref-age-ms"] = int(max_ref_age_ms)
        if min_snapshots_to_keep is not None:
            if kind != "branch":
                raise ValueError("min-snapshots-to-keep is branch-only")
            entry["min-snapshots-to-keep"] = int(min_snapshots_to_keep)
        refs[name] = entry


def iceberg_expire_refs(root: str, now_ms: int) -> list[str]:
    """Ref-retention expiry (spec §Snapshot References,
    `max-ref-age-ms`): drop every non-main ref whose age exceeds its
    declared retention. A ref's age is measured from the TIMESTAMP OF
    THE SNAPSHOT IT PINS (the rule Iceberg's RemoveSnapshots applies —
    a tag on an old snapshot ages with that snapshot). Returns the
    expired names; `main` and refs without max-ref-age-ms are kept
    forever."""
    with iceberg_meta.update(root) as tm:
        by_id = {s["snapshot-id"]: s for s in tm["snapshots"]}
        refs = tm.get("refs") or {}
        expired = sorted(
            name
            for name, r in refs.items()
            if name != "main"
            and r.get("max-ref-age-ms") is not None
            and r["snapshot-id"] in by_id
            and now_ms - by_id[r["snapshot-id"]]["timestamp-ms"]
            > r["max-ref-age-ms"]
        )
        for name in expired:
            del refs[name]
    return expired


def iceberg_expire_snapshots(
    root: str, older_than_ms: int
) -> dict[str, int]:
    """Ref-aware EXPIRE SNAPSHOTS — thin stats wrapper over the ONE
    expiry implementation, `iceberg_ext._iceberg_expire_snapshots`
    (ref pins + horizon + min-snapshots-to-keep retention, then
    reachability-driven physical cleanup). Returns counts for the
    lifecycle audit trail."""
    before = len(iceberg_meta.load(root)["snapshots"])
    deleted = _iceberg_expire_snapshots(root, older_than_ms)
    after = len(iceberg_meta.load(root)["snapshots"])
    return {
        "expired_snapshots": before - after,
        "deleted_files": len(deleted),
    }


_REF_LIFECYCLE_ORACLE = """
SELECT r.ref,
       CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM(CAST(floor(
           (o.o_totalprice
            + CASE WHEN r.ref = 'wap-branch'
                    AND o.o_orderpriority = '1-URGENT'
                   THEN 10.0 ELSE 0.0 END) * 100 + 0.5) AS BIGINT)), 0)
            AS BIGINT) AS total_cents
FROM (VALUES ('main'), ('keep-audit'), ('wap-branch'),
             ('old-audit'), ('tmp-branch')) AS r(ref)
LEFT JOIN orders o
       ON ((r.ref = 'main' AND o.o_orderpriority <> '1-URGENT')
        OR (r.ref = 'keep-audit')
        OR (r.ref = 'wap-branch'))
GROUP BY r.ref
"""


def _branch_write_data(src: DataFrame, root: str, tag: str) -> None:
    src.coalesce(1).write.mode("overwrite").partitionBy(
        "o_orderpriority"
    ).parquet(os.path.join(root, "data", tag))


def _branch_commit(
    spark: SparkSession,
    root: str,
    src: DataFrame,
    tag: str,
    snap_id: int,
    seq: int,
    ts: int,
    data_written: bool = False,
) -> None:
    """One branch-only APPEND: new data files + manifest, manifest list
    = the s3 base manifest + the new one, snapshot STAGED: appended
    without moving main or current-snapshot-id, and without a ref until
    the caller creates one (the WAP write shape).
    ``data_written`` skips the data write when the caller already
    landed the slice (so independent branch payloads can be written as
    concurrent jobs before their metadata commits apply in order)."""
    data_dir = os.path.join(root, "data")
    meta_dir = os.path.join(root, "metadata")
    if not data_written:
        _branch_write_data(src, root, tag)
    entries = [
        entry(ADDED, snap_id, seq, p, v) for p, v in _pfiles(data_dir, tag)
    ]
    m = write_manifest(meta_dir, f"m-{tag}.avro", entries)
    with iceberg_meta.update(root) as tm:
        ml = write_manifest_list(
            meta_dir,
            snap_id,
            iceberg_meta.manifests(_iceberg_snapshot(tm, snapshot_id=_S3))
            + [list_record(m, entries, snap_id, seq)],
            tag=f"1-{tag}",
        )
        iceberg_meta.add_snapshot(
            tm, snap_id, seq, ts, ml, "append", branch=None
        )


@register("sink_iceberg_ref_lifecycle", oracle=_REF_LIFECYCLE_ORACLE)
def q_sink_iceberg_ref_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg REF LIFECYCLE writes — the write side of
    `src_iceberg_refs` (spec §Snapshot References): CREATE TAG,
    CREATE BRANCH, ref-retention expiry (`max-ref-age-ms`), and
    snapshot expiry that honors surviving refs, including the chained
    effect the spec's retention fields exist for: once a tag ages out,
    the snapshot it pinned becomes expirable and its orphaned files
    are physically removed.

    Staged lifecycle on the shared three-snapshot base:
    - branch commits s4 (`wap-branch`: urgent rows corrected to
      +10.00) and s5 (`tmp-branch`: urgent rows at +20.00, max ref
      age 60 s) — neither moves main;
    - tags `old-audit` → s1 (max ref age 60 s) and `keep-audit` → s2
      (effectively-forever retention);
    - `iceberg_expire_refs` at now = T3+600 s drops `old-audit` and
      `tmp-branch` (both pin snapshots older than their 60 s budget);
    - `iceberg_expire_snapshots(older_than=T3+300 s)` then removes s1
      (its pin is gone; main keeps only its head) and s5 (branch
      gone), deleting s5's manifest list + manifest + data files and
      s1's manifest list, while s1's DATA files survive — they are
      still referenced by the retained s2/s3 manifests (reachability,
      not ownership, drives cleanup; gated in
      tests/test_iceberg_protocol.py).

    Graded: per-ref counts + cents over the 5-ref spine THROUGH the
    ref-resolving reader — expired refs must read as absent (0 rows),
    `keep-audit` must still see all of s2 after expiry, `wap-branch`
    must see non-urgent base + corrected urgent.

    Scale: every lifecycle op is one metadata.json commit; expiry
    planning is the bounded driver-side manifest walk and physical
    cleanup is O(expired files) — nothing re-reads or rewrites data.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    root = _tmp(sf_dir, "iceberg_ref_lifecycle")
    _iceberg_stage(spark, o, root)
    _S4, _S5 = _S3 + 1, _S3 + 2
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT")
    s4src = urgent.withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(10.0)
    )
    s5src = urgent.withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(20.0)
    )
    # the two branch payloads are independent writes to disjoint dirs —
    # land them as concurrent jobs (guide §2.6), then apply the
    # metadata commits in order
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f4 = pool.submit(_branch_write_data, s4src, root, "s4wap")
        f5 = pool.submit(_branch_write_data, s5src, root, "s5tmp")
        f4.result(), f5.result()
    _branch_commit(
        spark, root, s4src, "s4wap", _S4, 4, _T3 + 60_000,
        data_written=True,
    )
    _branch_commit(
        spark, root, s5src, "s5tmp", _S5, 5, _T3 + 120_000,
        data_written=True,
    )
    iceberg_create_ref(root, "wap-branch", _S4, "branch")
    iceberg_create_ref(
        root, "tmp-branch", _S5, "branch", max_ref_age_ms=60_000
    )
    iceberg_create_ref(
        root, "old-audit", _S1, "tag", max_ref_age_ms=60_000
    )
    iceberg_create_ref(
        root, "keep-audit", _S2, "tag", max_ref_age_ms=9_000_000_000_000
    )
    iceberg_expire_refs(root, now_ms=_T3 + 600_000)
    iceberg_expire_snapshots(root, older_than_ms=_T3 + 300_000)

    # --- read back through the ref-resolving reader
    meta = iceberg_meta.load(root)
    spine = local_rows(spark, 
        [
            ("main",), ("keep-audit",), ("wap-branch",),
            ("old-audit",), ("tmp-branch",),
        ],
        "ref string",
    )
    parts = []
    for name in sorted(meta.get("refs") or {}):
        snap = _iceberg_snapshot(meta, ref=name)
        df = _scan_with_partition(spark, iceberg_meta.plan(snap)[0])
        if df is not None:
            parts.append(df.withColumn("ref", F.lit(name)))
    if not parts:
        return spine.select(
            "ref",
            F.lit(0).cast("bigint").alias("n_rows"),
            F.lit(0).cast("bigint").alias("total_cents"),
        )
    both = parts[0]
    for p in parts[1:]:
        both = both.unionByName(p)
    per = both.groupBy("ref").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("total_cents"),
    )
    return spine.join(per, "ref", "left").select(
        "ref",
        F.coalesce("n_rows", F.lit(0).cast("bigint")).alias("n_rows"),
        F.coalesce("total_cents", F.lit(0).cast("bigint")).alias(
            "total_cents"
        ),
    )


# --- Delta writer-side CHECK constraints + generated columns --------------------

#: writer features this engine's constrained writer implements; a table
#: demanding anything else must be REFUSED, never written half-right
#: (delta-io PROTOCOL.md §Writer Version Requirements)
_WRITER_FEATURES_OK = {
    "appendOnly",
    "invariants",
    "checkConstraints",
    "generatedColumns",
}


class DeltaWriteRejected(ValueError):
    """A commit was refused: CHECK-constraint violation, generated-
    column mismatch, or a writer feature this engine does not
    implement. The table is untouched — rejection happens BEFORE any
    log entry is written."""


def delta_constrained_append(
    spark: SparkSession, root: str, batch: DataFrame
) -> int:
    """APPEND enforcing the table's declared write-time contracts
    (delta-io PROTOCOL.md §CHECK Constraints, §Generated Columns,
    §Writer Version Requirements):

    - the protocol gate REFUSES tables demanding writer features this
      engine does not implement (writing anyway would corrupt the
      contract every other writer relies on);
    - generated columns (`delta.generationExpression` in the schema
      field metadata) are COMPUTED when absent from the batch and
      VALIDATED when supplied — a supplied value that disagrees with
      the expression rejects the commit;
    - every `delta.constraints.*` expression in metaData.configuration
      must hold on every row — SQL CHECK semantics, so NULL passes and
      only FALSE violates.

    All validation is DISTRIBUTED: each rule costs one executor-side
    count over the batch (Catalyst folds them into the batch's plan);
    the driver sees per-rule violation counts, never rows. A rejected
    batch raises :class:`DeltaWriteRejected` BEFORE anything is
    staged. Returns the committed version."""
    log_dir = os.path.join(root, "_delta_log")
    version, protocol, meta = delta_log.table_meta(log_dir)
    demanded = set(protocol.get("writerFeatures") or [])
    if protocol.get("minWriterVersion", 1) >= 7:
        unknown = demanded - _WRITER_FEATURES_OK
        if unknown:
            raise DeltaWriteRejected(
                f"table demands unimplemented writer features "
                f"{sorted(unknown)}"
            )
    schema = json.loads(meta["schemaString"])
    out_cols: list[str] = []
    checks: list[tuple[str, str]] = []  # (label, violation predicate)
    for field in schema["fields"]:
        name = field["name"]
        out_cols.append(name)
        gen = (field.get("metadata") or {}).get(
            "delta.generationExpression"
        )
        if gen is None:
            continue
        if name in batch.columns:
            # supplied value must agree with the expression (spec rule)
            checks.append(
                (
                    f"generated column {name}",
                    f"NOT ({name} <=> ({gen}))",
                )
            )
        else:
            batch = batch.withColumn(name, F.expr(gen))
    for key, expr in sorted((meta.get("configuration") or {}).items()):
        if key.startswith("delta.constraints."):
            # SQL CHECK: only FALSE violates — NULL passes
            checks.append(
                (
                    f"CHECK {key.removeprefix('delta.constraints.')}",
                    f"NOT COALESCE(CAST(({expr}) AS BOOLEAN), TRUE)",
                )
            )
    missing = [c for c in out_cols if c not in batch.columns]
    if missing:
        raise DeltaWriteRejected(f"batch lacks columns {missing}")
    if checks:
        # ONE pass: every rule's violation count in a single aggregate
        counts = batch.agg(
            *(
                F.sum(F.expr(pred).cast("bigint")).alias(f"v{i}")
                for i, (_, pred) in enumerate(checks)
            )
        ).collect()[0]
        for i, (label, _) in enumerate(checks):
            if (counts[f"v{i}"] or 0) > 0:
                raise DeltaWriteRejected(
                    f"{label} violated by {counts[f'v{i}']} row(s); "
                    "commit refused"
                )
    new_version = version + 1
    sub = f"c{new_version}"
    out_dir = os.path.join(root, "data", sub)
    batch.select(*out_cols).repartition(1).write.mode(
        "overwrite"
    ).parquet(out_dir)
    delta_log.commit(
        log_dir,
        new_version,
        [{"commitInfo": {"operation": "WRITE"}}]
        + [
            {"add": {"path": f"data/{sub}/{f}", "dataChange": True}}
            for f in sorted(os.listdir(out_dir))
            if f.endswith(".parquet")
        ],
    )
    return new_version


_CHECK_SCHEMA_STRING = json.dumps(
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
                "name": "o_totalprice",
                "type": "double",
                "nullable": True,
                "metadata": {},
            },
            {
                "name": "o_orderpriority",
                "type": "string",
                "nullable": True,
                "metadata": {},
            },
            {
                "name": "price_cents",
                "type": "long",
                "nullable": True,
                "metadata": {
                    "delta.generationExpression": (
                        "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"
                    )
                },
            },
        ],
    }
)


def _stage_constrained_table(root: str) -> str:
    import shutil

    log_dir = os.path.join(root, "_delta_log")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(log_dir)
    actions = [
        {
            "protocol": {
                "minReaderVersion": 1,
                "minWriterVersion": 7,
                "writerFeatures": [
                    "checkConstraints",
                    "generatedColumns",
                ],
            }
        },
        {
            "metaData": {
                "id": "check-constraint-fixture",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": _CHECK_SCHEMA_STRING,
                "partitionColumns": [],
                "configuration": {
                    "delta.constraints.price_range": (
                        "o_totalprice > 0.0 AND o_totalprice < 1000000.0"
                    ),
                    "delta.constraints.key_present": (
                        "o_orderkey IS NOT NULL"
                    ),
                },
            }
        },
    ]
    delta_log.commit(log_dir, 0, actions)
    return log_dir


_CHECK_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(
           CASE WHEN o_orderpriority = '1-URGENT'
                THEN o_totalprice + 5.0 ELSE o_totalprice END
           * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders
GROUP BY o_orderpriority
"""


@register("sink_delta_check_constraint", oracle=_CHECK_ORACLE)
def q_sink_delta_check_constraint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delta WRITER-side CHECK constraints + generated columns
    (PROTOCOL.md §CHECK Constraints, §Generated Columns) — until now
    the protocol gate only refused READS of tables demanding
    unimplemented features; this writer enforces the declared
    contracts on every commit:

    - two valid appends land (non-urgent base rows, then urgent rows
      corrected to +5.00), with `price_cents` COMPUTED from its
      generation expression because the batches don't supply it;
    - a batch carrying a negative price (violates CHECK price_range),
      a batch with a NULL key (violates CHECK key_present), and a
      batch supplying a WRONG price_cents (disagrees with the
      generation expression) are each REJECTED with no log entry —
      asserted inline: the graded read-back only proceeds if all
      three rejections fired and the version count is exactly 2+1.

    Graded: per-priority counts + cents where cents comes from the
    GENERATED column as read back from the committed files — a writer
    that mis-evaluates the expression, or lands a rejected batch,
    fails the value hash.

    Scale: validation is one executor-side aggregate per batch (all
    rules folded into a single pass), the parquet lands via executor
    write, and the commit is O(files) JSON — nothing about enforcement
    reads the existing table.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    root = _tmp(sf_dir, "delta_check_write")
    log_dir = _stage_constrained_table(root)
    v1 = delta_constrained_append(
        spark, root, o.filter(F.col("o_orderpriority") != "1-URGENT")
    )
    rejected = 0
    bad_batches = [
        # CHECK price_range: one literal negative-price row
        local_rows(spark, 
            [(1, -5.0, "1-URGENT")],
            "o_orderkey long, o_totalprice double, o_orderpriority string",
        ),
        # CHECK key_present: NULL key (NULL price would PASS the range
        # check per SQL semantics — that case is pinned in the tests)
        local_rows(spark, 
            [(None, 10.0, "1-URGENT")],
            "o_orderkey long, o_totalprice double, o_orderpriority string",
        ),
        # generated-column mismatch: supplied cents off by one
        local_rows(spark, 
            [(2, 10.0, "1-URGENT", 1001)],
            "o_orderkey long, o_totalprice double, "
            "o_orderpriority string, price_cents long",
        ),
    ]
    for bad in bad_batches:
        try:
            delta_constrained_append(spark, root, bad)
        except DeltaWriteRejected:
            rejected += 1
    v2 = delta_constrained_append(
        spark,
        root,
        o.filter(F.col("o_orderpriority") == "1-URGENT").withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(5.0)
        ),
    )
    if rejected != 3 or (v1, v2) != (1, 2):
        raise AssertionError(
            f"constraint gate failed: rejected={rejected}, "
            f"versions=({v1}, {v2})"
        )
    live = sorted(
        act["add"]["path"]
        for _, act in delta_log.read_actions(log_dir)
        if "add" in act
    )
    return (
        spark.read.parquet(*(os.path.join(root, p) for p in live))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("price_cents").cast("bigint").alias("total_cents"),
        )
    )


# --- Iceberg position-delete WRITER (DELETE WHERE → pos-delete files) -----------


def iceberg_delete_where(
    spark: SparkSession,
    root: str,
    predicate,
    snap_id: int,
    seq: int,
    ts: int,
) -> int:
    """Execute `DELETE WHERE predicate` by EMITTING POSITION-DELETE
    FILES (spec §Position Delete Files) — the Iceberg twin of
    `_delta_delete_to_dv`, with the same fully-distributed shape:

    - the match runs over the live rows WITH THE CURRENT POSITION
      DELETES APPLIED FIRST (shared read path
      `_scan_apply_pos_deletes`), so an already-deleted row never
      re-enters a commit payload — re-running the same DELETE commits
      nothing;
    - matched (file, pos) pairs aggregate per PARTITION VALUE
      executor-side (`groupBy` + `applyInPandas`); each group writes
      one spec-ordered pos-delete parquet from the executor (delete
      files are partition-scoped under a partitioned spec) and
      returns one descriptor row — the driver collects O(partitions)
      descriptors, never positions;
    - the commit carries every prior manifest UNCHANGED plus one new
      DELETE manifest (content 1): O(deleted rows) total cost, zero
      data files rewritten.

    Returns the number of delete files committed (0 = no-op, no
    commit)."""
    meta_dir = os.path.join(root, "metadata")
    with iceberg_meta.update(root) as meta:
        snap = _iceberg_snapshot(meta)
        data_files, delete_files = iceberg_meta.plan(snap)
        rows = _scan_apply_pos_deletes(spark, data_files, delete_files)
        if rows is None:
            return 0
        hits = rows.filter(predicate).select("o_orderpriority", "_fp", "_pos")
        _meta_dir, _seq = meta_dir, seq

        def _write_posdel(pdf):
            import os as _os

            import pandas as _pd
            import pyarrow as _pa
            import pyarrow.parquet as _pq

            pval = pdf["o_orderpriority"].iloc[0]
            pairs = sorted(
                zip(pdf["_fp"], (int(x) for x in pdf["_pos"]))
            )  # spec: delete files sort by (file_path, pos)
            path = _os.path.join(
                _meta_dir,
                f"posdel-{str(pval).replace(' ', '_')}-s{_seq}.parquet",
            )
            _pq.write_table(
                _pa.table(
                    {
                        "file_path": _pa.array(
                            [p for p, _ in pairs], _pa.string()
                        ),
                        "pos": _pa.array([x for _, x in pairs], _pa.int64()),
                    }
                ),
                path,
            )
            return _pd.DataFrame({"pval": [str(pval)], "path": [path]})

        descs = sorted(
            (r["pval"], r["path"])
            for r in hits.groupBy("o_orderpriority")
            .applyInPandas(_write_posdel, schema="pval string, path string")
            .collect()  # O(touched partitions): the commit's delete files
        )
        if not descs:
            return 0
        dels = [
            entry(ADDED, snap_id, seq, path, pval, content=1)
            for pval, path in descs
        ]
        m_del = write_manifest(meta_dir, f"m{seq}-delete-where.avro", dels)
        # every prior manifest carried unchanged, plus the delete manifest
        ml = write_manifest_list(
            meta_dir,
            snap_id,
            iceberg_meta.manifests(snap)
            + [list_record(m_del, dels, snap_id, seq, content=1)],
            tag="1-delete-where",
        )
        iceberg_meta.add_snapshot(meta, snap_id, seq, ts, ml, "delete")
    return len(descs)


_POSDEL_WRITE_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM orders
WHERE o_orderpriority <> '1-URGENT'
  AND o_orderkey % 10 NOT IN (7, 4)
GROUP BY o_orderpriority
"""


@register("sink_iceberg_pos_delete", oracle=_POSDEL_WRITE_ORACLE)
def q_sink_iceberg_pos_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg DELETE WHERE emitting POSITION-DELETE files — the WRITE
    side of `src_iceberg_pos_delete` and the format twin of
    `sink_delta_delete_dv` (same row-level-delete duty, inverse
    layering: scannable parquet pairs instead of roaring bitmaps).
    TWO successive deletes land against the shared base — s4 drops
    o_orderkey % 10 == 7, s5 drops % 10 IN (7, 4) — the second's
    predicate OVERLAPS the first, so its matching scan must apply the
    current deletes first: s5's files may contain only the % 10 == 4
    rows (re-emitting the dead % 7 positions would churn every
    downstream incremental consumer; gated in
    tests/test_iceberg_protocol.py). Data parquet files stay
    byte-identical; both commits carry prior manifests unchanged.

    Graded read-back goes through the SAME shared
    `_scan_apply_pos_deletes` path as the reader key — writer and
    reader are held to one contract. Oracle: non-urgent rows with
    % 10 NOT IN (7, 4).
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    root = _tmp(sf_dir, "iceberg_posdel_write")
    _iceberg_stage(spark, o, root)
    _S4, _S5 = _S3 + 1, _S3 + 2
    iceberg_delete_where(
        spark, root, F.col("o_orderkey") % 10 == 7,
        _S4, 4, _T3 + 60_000,
    )
    iceberg_delete_where(
        spark, root, (F.col("o_orderkey") % 10).isin(7, 4),
        _S5, 5, _T3 + 120_000,
    )
    meta = iceberg_meta.load(root)
    data_files, delete_files = iceberg_meta.plan(_iceberg_snapshot(meta))
    df = _scan_apply_pos_deletes(spark, data_files, delete_files)
    if df is None:
        return local_rows(spark, 
            [], "o_orderpriority string, n_rows long, total_cents long"
        )
    return df.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("total_cents"),
    )


# --- Delta classic-checkpoint WRITER ---------------------------------------------


def delta_write_checkpoint(
    spark: SparkSession, root: str, parts: int = 1
) -> tuple[int, int]:
    """Write a CLASSIC CHECKPOINT for the table's latest version
    (delta-io PROTOCOL.md §Checkpoints): the full table state — latest
    `protocol` and `metaData` plus one `add` row per live file (with
    `dataChange: false`, checkpoint rows are not changes) — landed as
    parquet, plus the `_last_checkpoint` pointer. `parts=1` writes the
    single-file `<v>.checkpoint.parquet` form; `parts>1` writes the
    sharded `<v>.checkpoint.<i>.<n>.parquet` form (the one writers
    switch to when single-file production becomes the bottleneck),
    with `parts` recorded in `_last_checkpoint` so readers can
    validate completeness.

    The state assembly is DISTRIBUTED: live adds come from the same
    log-replay fold the readers use (`_delta_live_files`,
    max_by(is_add, u) — never a directory listing) and the shards are
    written by executors; the driver only renames them into the spec's
    naming scheme (a metadata op) and writes the bounded pointer file.
    At 100 TB the live-add state is millions of rows — exactly why it
    must never be collected.

    Returns (checkpoint version, total action rows)."""
    log_dir = os.path.join(root, "_delta_log")
    v, protocol, meta = delta_log.table_meta(log_dir)
    adds = (
        _delta_live_files(spark, log_dir)
        .filter(F.col("version") == v)
        .select(
            F.struct(
                F.col("path").alias("path"),
                F.lit(False).alias("dataChange"),
            ).alias("add")
        )
    )
    prot_df = spark.range(1).select(
        F.struct(
            F.lit(int(protocol.get("minReaderVersion", 1)))
            .cast("int")
            .alias("minReaderVersion"),
            F.lit(int(protocol.get("minWriterVersion", 2)))
            .cast("int")
            .alias("minWriterVersion"),
        ).alias("protocol")
    )
    meta_df = spark.range(1).select(
        F.struct(
            F.lit(meta.get("id", "")).alias("id"),
            F.lit(meta.get("schemaString", "")).alias("schemaString"),
        ).alias("metaData")
    )
    state = adds.unionByName(
        prot_df, allowMissingColumns=True
    ).unionByName(meta_df, allowMissingColumns=True)
    staging = os.path.join(log_dir, f".ckpt-{v}.staging")
    state.repartition(max(1, parts)).write.mode("overwrite").parquet(
        staging
    )
    shards = sorted(
        f for f in os.listdir(staging) if f.endswith(".parquet")
    )
    n = len(shards)
    if n == 1:
        names = [f"{v:020d}.checkpoint.parquet"]
    else:
        names = [
            f"{v:020d}.checkpoint.{i:010d}.{n:010d}.parquet"
            for i in range(1, n + 1)
        ]
    for shard, name in zip(shards, names):
        os.replace(
            os.path.join(staging, shard), os.path.join(log_dir, name)
        )
    import shutil

    shutil.rmtree(staging, ignore_errors=True)
    # action-row count from the renamed shards' parquet FOOTERS — a
    # driver-side metadata read of O(parts) files, instead of a whole
    # extra Spark job recomputing the state fold (guide §1.2: don't
    # compute what the write already materialized)
    import pyarrow.parquet as pq

    size = sum(
        pq.ParquetFile(os.path.join(log_dir, name)).metadata.num_rows
        for name in names
    )
    lc = {"version": v, "size": size}
    if n > 1:
        lc["parts"] = n
    delta_log.write_last_checkpoint(log_dir, lc)
    return v, size


_CKPT_WRITE_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM orders
WHERE o_orderpriority <> '1-URGENT'
GROUP BY o_orderpriority
"""


@register("sink_delta_checkpoint_write", oracle=_CKPT_WRITE_ORACLE)
def q_sink_delta_checkpoint_write(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delta CHECKPOINT WRITER — the write side of
    `src_delta_checkpoint` / the multipart reader path: after three
    JSON commits (non-urgent evens, non-urgent odds, urgent slice) the
    writer lands a TWO-PART classic checkpoint at v2 and the
    `_last_checkpoint` pointer; the graded flow then DELETES the
    covered v0–v2 commit files (the log-compaction sufficiency proof:
    the checkpoint must be a COMPLETE snapshot, because on a real
    table those commits age out) and appends v3 removing the urgent
    file. The read-back bootstraps through the production reader
    (`_delta_latest_live_files`: checkpoint shards + JSON tail) — a
    checkpoint that dropped an add, double-counted one, or mis-named a
    shard fails on rows or is refused by the completeness validator.

    Scale: state assembly is the distributed log-replay fold, shards
    are executor-written, and the driver handles only renames + the
    bounded pointer — nothing O(live files) ever reaches it.
    """
    head = {
        "metaData": {
            "id": "ckpt-write-fixture",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": "{}",
            "partitionColumns": [],
            "configuration": {},
        }
    }
    return _checkpoint_write_flow(
        spark,
        sf_dir,
        "delta_ckpt_write",
        [head],
        lambda root: delta_write_checkpoint(spark, root, parts=2),
    )


def _checkpoint_write_flow(
    spark: SparkSession, sf_dir: str, tag: str, head: list[dict], checkpoint
) -> DataFrame:
    """The graded flow both checkpoint writers share: three commits
    (non-urgent evens with a protocol action plus `head`, non-urgent
    odds, urgent slice), `checkpoint(root)` at v2, the covered commits
    DELETED (the sufficiency proof: on a real table they age out, so
    the checkpoint alone must reconstruct v2), a v3 removing the urgent
    file, then a read-back through the production reader."""
    import shutil

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    root = _tmp(sf_dir, tag)
    data_dir = os.path.join(root, "data")
    log_dir = os.path.join(root, "_delta_log")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(log_dir)

    def _append(version: int, df: DataFrame, sub: str, head=()) -> list[str]:
        out = os.path.join(data_dir, sub)
        df.repartition(1).write.mode("overwrite").parquet(out)
        rels = [
            f"data/{sub}/{f}"
            for f in sorted(os.listdir(out))
            if f.endswith(".parquet")
        ]
        delta_log.commit(
            log_dir,
            version,
            list(head)
            + [{"add": {"path": p, "dataChange": True}} for p in rels],
        )
        return rels

    live_src = o.filter(F.col("o_orderpriority") != "1-URGENT")
    protocol = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
    _append(
        0,
        live_src.filter(F.col("o_orderkey") % 2 == 0),
        "c0",
        [protocol] + head,
    )
    _append(1, live_src.filter(F.col("o_orderkey") % 2 == 1), "c1")
    urgent_rels = _append(
        2, o.filter(F.col("o_orderpriority") == "1-URGENT"), "c2"
    )

    v, _ = checkpoint(root)
    for i in range(v + 1):
        os.remove(delta_log.commit_path(log_dir, i))
    delta_log.commit(
        log_dir,
        3,
        [{"remove": {"path": p, "dataChange": True}} for p in urgent_rels],
    )

    fnames = _delta_latest_live_files(spark, root)
    all_files = {
        f: os.path.join(dp, f)
        for dp, _, fs in os.walk(data_dir)
        for f in fs
        if f.endswith(".parquet")
    }
    paths = sorted(all_files[f] for f in fnames)
    if not paths:
        return local_rows(spark, 
            [], "o_orderpriority string, n_rows long, total_cents long"
        )
    return (
        spark.read.parquet(*paths)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            ).alias("total_cents"),
        )
    )


# --- Delta V2 (sidecar) checkpoint WRITER ----------------------------------------


def delta_write_checkpoint_v2(
    spark: SparkSession, root: str, sidecars: int = 2
) -> tuple[int, int]:
    """Write a V2 CHECKPOINT (PROTOCOL.md §V2 Spec Checkpoints — the
    checkpoints-with-sidecar-files feature) for the latest version:
    the live add state lands as `sidecars` parquet shards under
    `_delta_log/_sidecars/` (EXECUTOR-written — checkpoint production
    parallelizes, which is the feature's whole reason to exist), and a
    small MANIFEST `<v>.checkpoint.<uuid>.parquet` holding the
    `checkpointMetadata` row plus one `sidecar` row per shard (bounded
    O(shards) metadata, driver-written like any commit finalize), plus
    the `_last_checkpoint` pointer. The manifest also carries an empty
    `add` column so readers that union manifest-adds with sidecar-adds
    (the spec allows adds in either place) see a well-formed schema
    even for an empty table.

    Returns (checkpoint version, number of sidecar shards)."""
    import shutil
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    log_dir = os.path.join(root, "_delta_log")
    v = _delta_max_version(log_dir)
    adds = (
        _delta_live_files(spark, log_dir)
        .filter(F.col("version") == v)
        .select(
            F.struct(
                F.col("path").alias("path"),
                F.lit(False).alias("dataChange"),
            ).alias("add")
        )
    )
    side_dir = os.path.join(log_dir, "_sidecars")
    os.makedirs(side_dir, exist_ok=True)
    staging = os.path.join(log_dir, f".ckpt-v2-{v}.staging")
    adds.repartition(max(1, sidecars)).write.mode("overwrite").parquet(
        staging
    )
    u = _uuid.uuid4()
    shard_names = []
    for i, shard in enumerate(
        sorted(f for f in os.listdir(staging) if f.endswith(".parquet"))
    ):
        name = f"{u}-{i:05d}.parquet"
        os.replace(
            os.path.join(staging, shard), os.path.join(side_dir, name)
        )
        shard_names.append(name)
    shutil.rmtree(staging, ignore_errors=True)

    n = len(shard_names)
    add_type = pa.struct([("path", pa.string()), ("dataChange", pa.bool_())])
    sidecar_type = pa.struct(
        [("path", pa.string()), ("sizeInBytes", pa.int64())]
    )
    manifest = pa.table(
        {
            "checkpointMetadata": pa.array(
                [{"version": v}] + [None] * n,
                pa.struct([("version", pa.int64())]),
            ),
            "sidecar": pa.array(
                [None]
                + [
                    {
                        "path": s,
                        "sizeInBytes": os.path.getsize(
                            os.path.join(side_dir, s)
                        ),
                    }
                    for s in shard_names
                ],
                sidecar_type,
            ),
            "add": pa.array([None] * (n + 1), add_type),
        }
    )
    pq.write_table(
        manifest,
        os.path.join(log_dir, f"{v:020d}.checkpoint.{u}.parquet"),
    )
    delta_log.write_last_checkpoint(log_dir, {"version": v})
    return v, n


@register("sink_delta_checkpoint_v2", oracle=_CKPT_WRITE_ORACLE)
def q_sink_delta_checkpoint_v2(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delta V2 CHECKPOINT WRITER — completes the checkpoint surface
    (classic single-file ✓, sharded multi-part ✓, v2 READ ✓, and now
    v2 WRITE): same graded flow as `sink_delta_checkpoint_write` —
    three commits, checkpoint at v2 (here: manifest + TWO
    executor-written sidecar shards), DELETE the covered commits (the
    sufficiency proof), append a remove tail, bootstrap through the
    production reader's v2 path (manifest → sidecars → JSON tail). A
    writer that drops an add between shards, mis-sizes a sidecar row,
    or names the manifest outside the `<v>.checkpoint.<uuid>.parquet`
    scheme fails on rows or is not discovered at all.

    Scale: the state fold and shard writes are the same distributed
    pipeline as the classic writer; the driver handles shard renames,
    the O(shards) manifest, and the bounded pointer — at a few million
    live files the shards are what make checkpoint production
    parallel, the exact bottleneck the feature exists to remove.
    """
    return _checkpoint_write_flow(
        spark,
        sf_dir,
        "delta_ckpt_v2_write",
        [],
        lambda root: delta_write_checkpoint_v2(spark, root, sidecars=2),
    )


# --- Iceberg ALTER TABLE writer (schema evolution) -------------------------------


def iceberg_alter_schema(
    root: str,
    add: list[tuple[str, str]] | None = None,
    rename: dict[int, str] | None = None,
) -> int:
    """ALTER TABLE — add columns and/or rename columns BY FIELD ID
    (spec §Schemas, §Schema Evolution): one new schema version appended
    to `schemas`, `current-schema-id` flipped, `last-column-id`
    advanced monotonically, and `schema.name-mapping.default` extended
    so files written under ANY historical name keep resolving (the
    rename stays metadata-only — field id 2 is field id 2 whatever the
    files call it). Pure metadata commit; no file is touched. Refuses
    unknown field ids, duplicate names, and id reuse — the failure
    modes that silently corrupt projection. Returns the new schema id.
    """
    with iceberg_meta.update(root) as tm:
        cur = next(
            s
            for s in tm["schemas"]
            if s["schema-id"] == tm["current-schema-id"]
        )
        fields = [dict(f) for f in cur["fields"]]
        names = {f["name"] for f in fields}
        last_id = tm.get("last-column-id", max(f["id"] for f in fields))
        mapping = json.loads(
            (tm.get("properties") or {}).get(
                "schema.name-mapping.default", "null"
            )
        ) or [{"field-id": f["id"], "names": [f["name"]]} for f in fields]
        by_id = {m["field-id"]: m for m in mapping}
        for fid, new_name in sorted((rename or {}).items()):
            fld = next((f for f in fields if f["id"] == fid), None)
            if fld is None:
                raise ValueError(f"no field with id {fid} in current schema")
            if new_name in names:
                raise ValueError(f"column name {new_name!r} already in use")
            names.discard(fld["name"])
            fld["name"] = new_name
            names.add(new_name)
            if new_name not in by_id[fid]["names"]:
                by_id[fid]["names"].append(new_name)
        for name, typ in add or []:
            if name in names:
                raise ValueError(f"column name {name!r} already in use")
            last_id += 1
            fields.append(
                {"id": last_id, "name": name, "required": False, "type": typ}
            )
            names.add(name)
            mapping.append({"field-id": last_id, "names": [name]})
        new_id = max(s["schema-id"] for s in tm["schemas"]) + 1
        tm["schemas"].append(
            {"type": "struct", "schema-id": new_id, "fields": fields}
        )
        tm["current-schema-id"] = new_id
        tm["last-column-id"] = last_id
        tm.setdefault("properties", {})["schema.name-mapping.default"] = (
            json.dumps(mapping)
        )
    return new_id


_EVO_WRITE_ORACLE = """
SELECT CASE WHEN o_orderkey % 3 <> 0 THEN o_orderstatus
            ELSE '<missing>' END AS order_status,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM orders
GROUP BY 1
"""


@register("sink_iceberg_schema_evolution", oracle=_EVO_WRITE_ORACLE)
def q_sink_iceberg_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg SCHEMA-EVOLUTION WRITER — the ALTER TABLE side of
    `src_iceberg_schema_evolution`: the v0 table (o_orderkey,
    o_totalprice) lands a first generation of files; `iceberg_alter_
    schema` then RENAMES field 2 to `price` and ADDS `o_orderstatus`
    (field 4) in one metadata-only commit; a second generation lands
    under the NEW physical names; and the read-back goes through the
    SAME shared name-mapping projection as the reader key — a writer
    that re-uses a field id, forgets the mapping entry for a historical
    name, or fails to advance last-column-id loses the old
    generation's prices or mislabels the added column, and fails the
    value hash.

    Graded split: keys % 3 == 0 are generation-1 (status reads
    '<missing>'), the rest generation-2. Validation refusals (unknown
    field id, duplicate name) are pinned in
    tests/test_iceberg_protocol.py.

    Scale: ALTER is one metadata.json write regardless of table size —
    the entire point of id-based projection; the generations read as
    one distributed scan per physical schema, not per file.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    root = _tmp(sf_dir, "iceberg_evo_write")
    data_dir = os.path.join(root, "data")
    meta_dir = os.path.join(root, "metadata")
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(meta_dir, exist_ok=True)

    def _flat(sub: str) -> list[str]:
        base = os.path.join(data_dir, sub)
        return [
            os.path.join(base, f)
            for f in sorted(os.listdir(base))
            if f.endswith(".parquet")
        ]

    # generation 1 under schema v0
    o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", "o_totalprice"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(data_dir, "s1")
    )
    e1 = [entry(ADDED, _S1, 1, p, None) for p in _flat("s1")]
    r1 = list_record(write_manifest(meta_dir, "m1-evo.avro", e1), e1, _S1, 1)
    l1 = write_manifest_list(meta_dir, _S1, [r1])
    schema_v0 = {
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
        "table-uuid": "9f2a7b4e-1d15-4d29-8c3a-iceberg-evow",
        "location": root,
        "last-sequence-number": 1,
        "last-updated-ms": _T1,
        "last-column-id": 2,
        "schemas": [schema_v0],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "properties": {},
        "current-snapshot-id": _S1,
        "snapshots": [
            iceberg_meta.snapshot_record(_S1, 1, _T1, l1, "append")
        ],
        "snapshot-log": [{"timestamp-ms": _T1, "snapshot-id": _S1}],
    }
    iceberg_meta.commit(meta_dir, 1, tm)

    # ALTER TABLE: rename field 2 → price, add o_orderstatus (field 3)
    iceberg_alter_schema(
        root, add=[("o_orderstatus", "string")], rename={2: "price"}
    )

    # generation 2 under the NEW physical names
    _S2loc = _S1 + 1
    o.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        "o_orderstatus",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(data_dir, "s2")
    )
    e2 = [entry(ADDED, _S2loc, 2, p, None) for p in _flat("s2")]
    m2 = write_manifest(meta_dir, "m2-evo.avro", e2)
    ml2 = write_manifest_list(
        meta_dir, _S2loc, [r1, list_record(m2, e2, _S2loc, 2)]
    )
    with iceberg_meta.update(root) as tm:
        iceberg_meta.add_snapshot(
            tm, _S2loc, 2, _T1 + 60_000, ml2, "append",
            schema_id=tm["current-schema-id"],
        )

    df = _scan_with_name_mapping(spark, iceberg_meta.load(root))
    if df is None:
        return local_rows(spark, 
            [], "order_status string, n_rows long, total_cents long"
        )
    return df.groupBy(
        F.coalesce(F.col("o_orderstatus"), F.lit("<missing>")).alias(
            "order_status"
        )
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.floor(F.col("price") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("total_cents"),
    )
