"""Iceberg table metadata (spec §Table Metadata, §File System Tables):
the one module that names, writes and parses `metadata/v<N>.metadata.json`
and `version-hint.text`.

- Writers edit the metadata inside `with` [[update]]: it loads the
  current version `b` and commits the edited metadata at `b + 1`. A
  metadata version lands put-if-absent through the Delta log's commit
  primitive (fsynced hidden temp file, then `os.link`), so of two
  writers that loaded the same base, the second gets
  :class:`CommitConflict` instead of silently replacing the first —
  the spec's rule that a commit lands only if its base is still
  current. [[commit]] publishes an explicit version, for writers that
  create a table or stage its history. The hint is then replaced
  atomically, best-effort: it is only a hint.
- Readers call [[load]] (or [[current_version]]). The current version is
  the hint's, or the highest strict `v<digits>.metadata.json` when the
  hint is missing or unparsable, walked forward while `v<N+1>` exists
  (HadoopTableOperations' rule), so a crash between the link and the
  hint update hides no commit.
- Streams tail the metadata files with [[stream]]: one schema and
  `mode=FAILFAST`, so a torn metadata file raises instead of becoming
  an all-null row that the consumer skips.

It also owns the Avro layer the metadata points at (spec §Manifests,
§Manifest Lists), through the OCF codec in iceberg_format.py:

- Writers build entries with [[entry]], write them with
  [[write_manifest]], describe each manifest in a list with
  [[list_record]] and write the list with [[write_manifest_list]]. A
  list record's counts come from the entries it is given; a manifest
  carried into a later list is passed on as the record the earlier
  list holds. [[snapshot_record]] builds a snapshot of the metadata.
- Readers walk a snapshot with [[manifests]] and [[entries]]. Scans
  plan with [[plan]]: the live data files (path, partition value,
  record count, data sequence number, value bounds) and delete files
  of a snapshot, pruned on manifest summaries and partition values.
  The last plan's manifest counts are kept in `_LAST_SCAN_REPORT`.
"""

from __future__ import annotations

import contextlib
import copy
import json
import os
import re
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from random_forest_using_hadoop_spark.delta_log import (  # noqa: F401
    CommitConflict,  # re-exported: the conflict writers catch
    _publish,
    _replace,
)
from random_forest_using_hadoop_spark.iceberg_format import ocf_read, ocf_write

_HINT = "version-hint.text"
_NAME = re.compile(r"v(\d+)\.metadata\.json")
# Hadoop's glob has no `+`: spell 1..12 digit versions as alternatives
_GLOB = (
    "{" + ",".join("v" + "[0-9]" * n for n in range(1, 13)) + "}"
    ".metadata.json"
)


def _dir(root: str) -> str:
    return os.path.join(root, "metadata")


def _name(version: int) -> str:
    return f"v{version}.metadata.json"


# --- reading ------------------------------------------------------------------


def list_versions(meta_dir: str) -> list[int]:
    """Sorted versions of the strict `v<digits>.metadata.json` files — a
    stray `vx.metadata.json` or `.bak` is not a version."""
    return sorted(
        int(m.group(1))
        for f in os.listdir(meta_dir)
        if (m := _NAME.fullmatch(f))
    )


def metadata_files(meta_dir: str) -> set[str]:
    """Paths of the table-metadata versions and the hint in `meta_dir`:
    the files an orphan sweep must never delete."""
    return {
        os.path.join(meta_dir, f)
        for f in os.listdir(meta_dir)
        if _NAME.fullmatch(f) or f == _HINT
    }


def current_version(meta_dir: str) -> int:
    """The hint's version, or the highest listed one when the hint is
    missing or unparsable, walked forward while the next one exists."""
    try:
        with open(os.path.join(meta_dir, _HINT)) as fh:
            v = int(fh.read().strip())
    except (FileNotFoundError, ValueError):
        versions = list_versions(meta_dir)
        if not versions:
            raise FileNotFoundError(
                f"no table metadata under {meta_dir}"
            ) from None
        v = versions[-1]
    while os.path.exists(os.path.join(meta_dir, _name(v + 1))):
        v += 1
    return v


def load(root: str) -> dict:
    """The CURRENT table metadata, refused at open unless its
    format-version is one this reader implements."""
    md = _dir(root)
    return _read(md, current_version(md))


def _read(meta_dir: str, version: int) -> dict:
    path = os.path.join(meta_dir, _name(version))
    with open(path) as fh:
        try:
            meta = json.load(fh)
        except json.JSONDecodeError as e:
            raise ValueError(
                f"{path}: malformed table metadata ({e.msg})"
            ) from None
    if meta.get("format-version") not in (2, 3):
        # fail AT OPEN, never mid-read with silently wrong semantics —
        # the same posture as the Delta reader-features gate
        raise ValueError(
            f"unsupported Iceberg format-version "
            f"{meta.get('format-version')!r}; this reader implements v2 "
            "and the v3 deletion-vector subset"
        )
    return meta


# --- writing ------------------------------------------------------------------


def commit(meta_dir: str, version: int, tm: dict) -> str:
    """Publish `tm` as metadata `version`; returns its path. Raises
    :class:`CommitConflict` if the version is already taken."""
    path = _publish(meta_dir, _name(version), json.dumps(tm))
    with contextlib.suppress(OSError):
        _replace(meta_dir, _HINT, str(version))
    return path


def snapshot_record(
    snapshot_id: int,
    seq: int,
    ts: int,
    manifest_list: str,
    operation: str,
    **extra,
) -> dict:
    """One snapshot record of the table metadata (schema 0 unless
    `schema_id` says otherwise); `extra` follows as in
    [[add_snapshot]]."""
    return {
        "snapshot-id": snapshot_id,
        "sequence-number": seq,
        "timestamp-ms": ts,
        "manifest-list": manifest_list,
        "summary": {"operation": operation},
        "schema-id": 0,
        **{k.replace("_", "-"): v for k, v in extra.items()},
    }


@contextlib.contextmanager
def update(root: str) -> Iterator[dict]:
    """Yield the current metadata (version `b`) for editing and commit
    it at `b + 1` when the block exits normally. An exception, or a
    block that leaves the metadata unchanged, commits nothing; a
    writer that committed `b + 1` meanwhile makes this one raise
    :class:`CommitConflict`."""
    md = _dir(root)
    base = current_version(md)
    tm = _read(md, base)
    loaded = copy.deepcopy(tm)
    yield tm
    if tm != loaded:
        commit(md, base + 1, tm)


def add_snapshot(
    tm: dict,
    snapshot_id: int,
    seq: int,
    ts: int,
    manifest_list: str,
    operation: str,
    branch: str | None = "main",
    **extra,
) -> dict:
    """Append a snapshot to `tm` and advance `branch` to it. On `main`
    the snapshot is logged and made current (and `refs.main` moves when
    a refs map exists). On another branch only that branch's ref moves
    (the refs map is created with `main` first if needed).
    `branch=None` stages the snapshot: appended, referenced by nothing
    until a ref is created for it. `extra` adds snapshot fields, `_`
    spelling the spec's `-` (`first_row_id=0` adds `first-row-id`)."""
    tm["snapshots"].append(
        snapshot_record(
            snapshot_id, seq, ts, manifest_list, operation, **extra
        )
    )
    if branch == "main":
        tm["snapshot-log"].append(
            {"timestamp-ms": ts, "snapshot-id": snapshot_id}
        )
        tm["current-snapshot-id"] = snapshot_id
    tm["last-sequence-number"] = seq
    if branch is not None and (branch != "main" or "refs" in tm):
        refs = tm.setdefault(
            "refs",
            {
                "main": {
                    "snapshot-id": tm["current-snapshot-id"],
                    "type": "branch",
                }
            },
        )
        ref = refs.setdefault(
            branch, {"snapshot-id": snapshot_id, "type": "branch"}
        )
        ref["snapshot-id"] = snapshot_id
    return tm


# --- manifests and manifest lists ---------------------------------------------

# manifest entry status (spec §Manifests)
EXISTING, ADDED, DELETED = 0, 1, 2

# The Avro schemas of manifests and manifest lists: the spec's field
# names and ids (field-id keys ride along as inert annotations; the
# codec is schema-driven and ignores unknown keys).
_MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
        {"name": "sequence_number", "type": ["null", "long"], "field-id": 3},
        {
            "name": "file_sequence_number",
            "type": ["null", "long"],
            "field-id": 4,
        },
        {
            "name": "data_file",
            "field-id": 2,
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int", "field-id": 134},
                    {"name": "file_path", "type": "string", "field-id": 100},
                    {"name": "file_format", "type": "string", "field-id": 101},
                    {
                        "name": "partition",
                        "field-id": 102,
                        "type": {
                            "type": "record",
                            "name": "r102",
                            "fields": [
                                {
                                    "name": "o_orderpriority",
                                    "type": ["null", "string"],
                                    "field-id": 1000,
                                }
                            ],
                        },
                    },
                    {"name": "record_count", "type": "long", "field-id": 103},
                    {
                        "name": "file_size_in_bytes",
                        "type": "long",
                        "field-id": 104,
                    },
                    # per-column value bounds (spec: map<field id, bytes>
                    # with single-value binary serialization) — Avro maps
                    # key on strings, so Iceberg models these as arrays
                    # of key/value records
                    {
                        "name": "lower_bounds",
                        "field-id": 125,
                        "type": [
                            "null",
                            {
                                "type": "array",
                                "items": {
                                    "type": "record",
                                    "name": "k126_v127",
                                    "fields": [
                                        {"name": "key", "type": "int"},
                                        {"name": "value", "type": "bytes"},
                                    ],
                                },
                            },
                        ],
                    },
                    {
                        "name": "upper_bounds",
                        "field-id": 128,
                        "type": ["null", {"type": "array", "items": "k126_v127"}],
                    },
                    # equality-delete key columns (content=2 files only)
                    {
                        "name": "equality_ids",
                        "field-id": 135,
                        "type": ["null", {"type": "array", "items": "int"}],
                    },
                ],
            },
        },
    ],
}

# v3 data_file fields (table spec v3): the deletion-vector coordinates
# and the row-lineage coordinate
_V3_FIELDS = {
    "dv": [
        {
            "name": "referenced_data_file",
            "type": ["null", "string"],
            "field-id": 143,
        },
        {"name": "content_offset", "type": ["null", "long"], "field-id": 144},
        {
            "name": "content_size_in_bytes",
            "type": ["null", "long"],
            "field-id": 145,
        },
    ],
    "lineage": [
        {"name": "first_row_id", "type": ["null", "long"], "field-id": 142}
    ],
}

_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}

# the manifest list's optional per-partition-field summaries (field 507:
# contains_null(509) and lower/upper bounds(510/511) as
# single-value-serialized bytes)
_SUMMARIES_FIELD = {
    "name": "partitions",
    "field-id": 507,
    "type": [
        "null",
        {
            "type": "array",
            "items": {
                "type": "record",
                "name": "r508",
                "fields": [
                    {
                        "name": "contains_null",
                        "type": "boolean",
                        "field-id": 509,
                    },
                    {
                        "name": "lower_bound",
                        "type": ["null", "bytes"],
                        "field-id": 510,
                    },
                    {
                        "name": "upper_bound",
                        "type": ["null", "bytes"],
                        "field-id": 511,
                    },
                ],
            },
        },
    ],
}


def _entry_schema(
    partition: list[tuple[str, str, int]] | None,
    tag: str,
    v3: str | None,
) -> dict:
    """The manifest-entry schema whose partition record carries the
    given (name, Avro type, field id) fields — each spec's manifests
    serialize their OWN partition tuple shape (spec §Manifests) — with
    `tag` appended to the data_file, partition and bound record names
    and the `v3` data_file fields added."""
    schema = copy.deepcopy(_MANIFEST_ENTRY_SCHEMA)
    data_file = schema["fields"][4]["type"]
    part = data_file["fields"][3]["type"]
    bound = data_file["fields"][6]["type"][1]["items"]
    for rec in (data_file, part, bound):
        rec["name"] += tag
    if partition is not None:
        part["fields"] = [
            {"name": n, "type": ["null", t], "field-id": fid}
            for n, t, fid in partition
        ]
    if v3 is not None:
        data_file["fields"].extend(copy.deepcopy(_V3_FIELDS[v3]))
    return schema


def entry(
    status: int,
    snap_id: int,
    seq: int,
    path: str,
    pval: str,
    bounds: tuple[list, list] | None = None,
    equality_ids: list[int] | None = None,
    content: int = 0,
    partition: dict | None = None,
    record_count: int | None = None,
) -> dict:
    """One manifest_entry record; record_count/file_size come from the
    parquet footer / filesystem — driver-side, bounded by file count
    (the stats a real writer records at commit time). `bounds` is
    (lower, upper) lists of {key, value} single-value-serialized pairs;
    `equality_ids` marks an equality-delete file's key columns;
    `partition` overrides the default single-field priority tuple for
    entries written under a different partition spec."""
    import pyarrow.parquet as pq

    return {
        "status": status,
        "snapshot_id": snap_id,
        "sequence_number": seq,
        "file_sequence_number": seq,
        "data_file": {
            "content": content,
            "file_path": path,
            "file_format": "PARQUET",
            "partition": (
                partition
                if partition is not None
                else {"o_orderpriority": pval}
            ),
            "record_count": (
                record_count
                if record_count is not None  # non-parquet (e.g. Puffin DV)
                else pq.ParquetFile(path).metadata.num_rows
            ),
            "file_size_in_bytes": os.path.getsize(path),
            "lower_bounds": bounds[0] if bounds else None,
            "upper_bounds": bounds[1] if bounds else None,
            "equality_ids": equality_ids,
        },
    }


def write_manifest(
    meta_dir: str,
    name: str,
    entries: list[dict],
    spec_id: int = 0,
    partition: list[tuple[str, str, int]] | None = None,
    tag: str = "",
    v3: str | None = None,
) -> str:
    """Write `entries` as manifest `name` under `meta_dir`; returns its
    path. `partition` lists the partition record's (name, Avro type,
    field id) fields (default: identity `o_orderpriority`); `tag`
    suffixes the schema's record names; `v3` adds the v3 data_file
    fields: `"dv"` the deletion-vector coordinates, `"lineage"`
    `first_row_id`."""
    path = os.path.join(meta_dir, name)
    ocf_write(
        path,
        _entry_schema(partition, tag, v3),
        entries,
        metadata={
            "format-version": "2",
            "content": "data",
            "partition-spec-id": str(spec_id),
        },
    )
    return path


def list_record(
    path: str,
    entries: list[dict],
    added_by: int,
    seq: int,
    content: int = 0,
    spec_id: int = 0,
    min_seq: int = 1,
    **extra,
) -> dict:
    """The manifest-list record of the manifest at `path` holding
    `entries`, added by snapshot `added_by` and listed by a snapshot
    of sequence number `seq`. Counts split by entry status. `extra`
    adds fields (`partitions` summaries).

    The record keeps the sequence number the manifest was COMMITTED
    under (spec §Manifest Lists): the one its ADDED/DELETED entries
    carry. A manifest holding ONLY EXISTING entries has no such stamp;
    its entries keep their ORIGINAL sequence numbers, so their minimum
    is a faithful lower bound. Only an entry-less manifest takes `seq`."""
    own_seq = max(
        (
            e["sequence_number"]
            for e in entries
            if e["status"] in (ADDED, DELETED)
            and e["sequence_number"] is not None
        ),
        default=None,
    )
    if own_seq is None:
        own_seq = min(
            (
                e["sequence_number"]
                for e in entries
                if e["sequence_number"] is not None
            ),
            default=seq,
        )

    def _of(status: int) -> list[dict]:
        return [e for e in entries if e["status"] == status]

    def _rows(status: int) -> int:
        return sum(e["data_file"]["record_count"] for e in _of(status))

    return {
        "manifest_path": path,
        "manifest_length": os.path.getsize(path),
        "partition_spec_id": spec_id,
        "content": content,
        "sequence_number": own_seq,
        "min_sequence_number": min_seq,
        "added_snapshot_id": added_by,
        "added_files_count": len(_of(ADDED)),
        "existing_files_count": len(_of(EXISTING)),
        "deleted_files_count": len(_of(DELETED)),
        "added_rows_count": _rows(ADDED),
        "existing_rows_count": _rows(EXISTING),
        "deleted_rows_count": _rows(DELETED),
        **extra,
    }


def write_manifest_list(
    meta_dir: str,
    snap_id: int,
    records: list[dict],
    tag: str = "1-fixture",
    format_version: int = 2,
) -> str:
    """Write `records` ([[list_record]]s, or records carried from an
    earlier list) as the manifest list `snap-<snap_id>-<tag>.avro`
    under `meta_dir`; returns its path. Records with `partitions`
    summaries get the schema that declares them."""
    schema = _MANIFEST_FILE_SCHEMA
    if any("partitions" in r for r in records):
        schema = copy.deepcopy(schema)
        schema["fields"].append(_SUMMARIES_FIELD)
    path = os.path.join(meta_dir, f"snap-{snap_id}-{tag}.avro")
    ocf_write(
        path, schema, records, metadata={"format-version": str(format_version)}
    )
    return path


def manifests(snapshot: dict) -> list[dict]:
    """The manifest-list records of `snapshot`."""
    return ocf_read(snapshot["manifest-list"])[1]


def entries(manifest: dict) -> list[dict]:
    """The entries of the manifest a list record names."""
    return ocf_read(manifest["manifest_path"])[1]


def metadata_paths(snapshot: dict) -> list[str]:
    """The manifest list of `snapshot`, then the manifests it names:
    the metadata files the snapshot keeps alive."""
    return [snapshot["manifest-list"]] + [
        m["manifest_path"] for m in manifests(snapshot)
    ]


# --- scan planning --------------------------------------------------------------


def _partition_value(part: dict | None, spec: dict | None):
    """Interpret one manifest entry's partition tuple UNDER A SPEC: an
    unpartitioned spec yields None, a single-field spec the field's
    value BY NAME, a multi-field spec the name-ordered value tuple.
    Without a spec (single-spec fixtures), fall back to first-value
    positional — exact there because the Avro writer schema preserves
    field order and every such table has one partition field."""
    part = part or {}
    if spec is None:
        return next(iter(part.values()), None)
    fields = spec.get("fields", [])
    if not fields:
        return None
    if len(fields) == 1:
        return part.get(fields[0]["name"])
    return tuple(part.get(f["name"]) for f in fields)


# ScanReport-style planning metrics for the LAST [[plan]] call (mirrors
# iceberg-core's ScanReport: skipped-manifest counts are the planner's
# own telemetry) — read by plan gates, never by queries.
_LAST_SCAN_REPORT: dict = {}


def plan(
    snapshot: dict,
    partition_pred=None,
    specs: dict[int, dict] | None = None,
    pred_spec_id: int | None = None,
    manifest_pred=None,
) -> tuple[list[dict], list[dict]]:
    """(data files, delete files) LIVE in a snapshot. Read the manifest
    list, then each manifest; keep entries whose status is not
    DELETED; data manifests (content 0) contribute data files, delete
    manifests (content 1) contribute delete files (content 1 =
    position, 2 = equality deletes). A data file is a dict of `path`,
    `pval` (partition value), `n` (record count), `seq` (data sequence
    number), `spec_id`, `first_row_id` and the entry's
    `lower_bounds` / `upper_bounds`.

    SPEC EVOLUTION (spec §Partition Evolution): each manifest carries
    the `partition_spec_id` it was written under, and its entries'
    partition tuples are meaningful ONLY under that spec — a table that
    evolved from partition-by-status to partition-by-priority has
    manifests of both, and interpreting a spec-0 tuple under spec-1
    names mis-prunes real files. Pass `specs` ({spec-id: spec}) to
    resolve each manifest's tuple by ITS spec's field names, and
    `pred_spec_id` to scope `partition_pred` to manifests of that spec
    alone — files written under other specs are never pruned by a
    predicate that doesn't speak their partitioning (they scan + row
    filter instead, exactly what iceberg-core plans).

    `partition_pred(pval) -> bool` prunes BOTH lists on manifest
    metadata alone — an excluded partition's files (and its
    partition-scoped delete files) are never handed to a scan, the
    planner behavior that makes a partition query O(selected) at
    100 TB. Driver-side and bounded: one row per manifest, one per
    file — the planner's working set.

    MANIFEST-LEVEL pruning (spec §Manifest Lists, field 507): a
    manifest-list entry may carry per-partition-field SUMMARIES
    (contains_null + lower/upper bounds). `manifest_pred(summaries) ->
    bool` is evaluated on that row alone — a False skips the WHOLE
    manifest without ever opening it, shrinking planning cost from
    O(files) to O(matching manifests) + O(files in them): the second
    pruning tier a million-file table needs. Entries without summaries
    are conservatively read. Skips are recorded in _LAST_SCAN_REPORT
    (manifests_total / manifests_skipped / skipped_paths), mirroring
    iceberg-core's ScanReport metrics."""
    listed = manifests(snapshot)
    data, deletes = [], []
    report = {
        "manifests_total": len(listed),
        "manifests_skipped": 0,
        "skipped_paths": [],
    }
    _LAST_SCAN_REPORT.clear()
    _LAST_SCAN_REPORT.update(report)
    for m in listed:
        spec_id = m.get("partition_spec_id", 0)
        spec = specs.get(spec_id) if specs is not None else None
        prunable = pred_spec_id is None or spec_id == pred_spec_id
        summaries = m.get("partitions")
        if (
            manifest_pred is not None
            and prunable
            and summaries
            and not manifest_pred(summaries)
        ):
            report["manifests_skipped"] += 1
            report["skipped_paths"].append(m["manifest_path"])
            _LAST_SCAN_REPORT.update(report)
            continue  # whole manifest skipped, never opened
        for e in entries(m):
            if e["status"] == DELETED:
                continue
            df = e["data_file"]
            pval = _partition_value(df["partition"], spec)
            # delete files with a NULL partition tuple are global (an
            # unpartitioned-spec write) — never pruned away
            if (
                partition_pred is not None
                and prunable
                and pval is not None
                and not partition_pred(pval)
            ):
                continue
            if m["content"] == 0 and df["content"] == 0:
                data.append(
                    {
                        "path": df["file_path"],
                        "pval": pval,
                        "n": df["record_count"],
                        "seq": e["sequence_number"],
                        "spec_id": spec_id,
                        # v3 row-lineage coordinate (absent pre-v3)
                        "first_row_id": df.get("first_row_id"),
                        "lower_bounds": df.get("lower_bounds"),
                        "upper_bounds": df.get("upper_bounds"),
                    }
                )
            elif m["content"] == 1 and df["content"] in (1, 2):
                deletes.append(
                    {
                        "path": df["file_path"],
                        "pval": pval,
                        "n": df["record_count"],
                        "seq": e["sequence_number"],
                        "content": df["content"],
                        "equality_ids": df.get("equality_ids"),
                        "spec_id": spec_id,
                        # v3 deletion-vector coordinates (absent pre-v3)
                        "format": df.get("file_format", "PARQUET"),
                        "referenced_data_file": df.get(
                            "referenced_data_file"
                        ),
                        "content_offset": df.get("content_offset"),
                        "content_size_in_bytes": df.get(
                            "content_size_in_bytes"
                        ),
                    }
                )
    return data, deletes


# --- streaming ----------------------------------------------------------------

_STREAM_SCHEMA = T.StructType(
    [
        T.StructField(
            "snapshots",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("snapshot-id", T.LongType()),
                        T.StructField("sequence-number", T.LongType()),
                        T.StructField("manifest-list", T.StringType()),
                    ]
                )
            ),
        )
    ]
)


def stream(spark: SparkSession, meta_dir: str) -> DataFrame:
    """A file stream over the metadata versions in `meta_dir`: one row
    per version with its `snapshots` (id, sequence number, manifest
    list), read with `mode=FAILFAST`."""
    return (
        spark.readStream.schema(_STREAM_SCHEMA)
        .option("mode", "FAILFAST")
        .option("pathGlobFilter", _GLOB)
        .json(meta_dir)
    )
