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
        {
            "snapshot-id": snapshot_id,
            "sequence-number": seq,
            "timestamp-ms": ts,
            "manifest-list": manifest_list,
            "summary": {"operation": operation},
            "schema-id": 0,
            **{k.replace("_", "-"): v for k, v in extra.items()},
        }
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
