"""The Delta transaction log (delta-io PROTOCOL.md §Delta Log Entries,
§Checkpoints, §Log Compaction Files): the one module that names,
writes and parses `_delta_log/` JSON commits.

- Writers call [[commit]]. A commit lands put-if-absent, as the
  protocol's mutual-exclusion rule for commit files requires: the
  actions go to a hidden temp file (leading `.`, no `.json` suffix, so
  neither the `*.json` glob nor Spark's file listing sees it), which
  is then hard-linked to `<version:020d>.json`. The link fails if the
  version exists, so a second writer gets :class:`CommitConflict`
  instead of silently replacing the first. The temp file is fsynced
  before the link, so a crash mid-write leaves no torn commit visible
  (the commit itself may be lost, never half-published).
- Driver-side readers fold [[read_actions]], [[table_meta]] or
  [[snapshot]]. A line that is not valid JSON raises a ValueError
  naming the file and line.
- Distributed readers use [[read_log]]: every action kind under the one
  [[_DELTA_ACTION_SCHEMA]], a `version` column from the file name, and
  `mode=FAILFAST`, so a damaged commit raises instead of becoming
  all-null rows that a `path IS NOT NULL` filter silently drops.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import re
import uuid
from typing import Iterable, Iterator, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class CommitConflict(FileExistsError):
    """Another writer already published this log file."""


# --- names --------------------------------------------------------------------


def commit_path(log_dir: str, version: int) -> str:
    return os.path.join(log_dir, f"{version:020d}.json")


def list_versions(log_dir: str) -> list[int]:
    """Sorted versions of the `<version>.json` commits in `log_dir` —
    one directory listing. Checkpoint, compaction and temp files are
    not commits. Raises on an empty log: a Delta table without a commit
    is not a table."""
    versions = sorted(
        int(f[:-5])
        for f in os.listdir(log_dir)
        if f.endswith(".json") and f[:-5].isdigit()
    )
    if not versions:
        raise FileNotFoundError(f"no commit json in {log_dir}")
    return versions


def _delta_max_version(log_dir: str) -> int:
    return list_versions(log_dir)[-1]


# --- writing ------------------------------------------------------------------


def _publish(log_dir: str, name: str, text: str) -> str:
    """Write `text` to `log_dir/name`, put-if-absent — the commit
    primitive of every lake format here. The temp file is fsynced
    before it is linked, so the published name never points at a partly
    written file; it is removed on every exit."""
    target = os.path.join(log_dir, name)
    tmp = os.path.join(log_dir, f".{name}.{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "w") as fh:
            fh.write(text)
            fh.flush()
            os.fsync(fh.fileno())
        os.link(tmp, target)
    except FileExistsError:
        raise CommitConflict(f"{target} already exists") from None
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
    return target


def _replace(log_dir: str, name: str, text: str) -> None:
    """Atomically replace the pointer file `log_dir/name` with `text`
    (temp file + `os.replace`). For hints that may move either way,
    never for commits."""
    tmp = os.path.join(log_dir, f".{name}.{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "w") as fh:
            fh.write(text)
        os.replace(tmp, os.path.join(log_dir, name))
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)


def _lines(actions: Iterable[dict]) -> str:
    return "".join(json.dumps(a) + "\n" for a in actions)


def commit(log_dir: str, version: int, actions: Iterable[dict]) -> str:
    """Publish commit `version` atomically; returns its path. Raises
    :class:`CommitConflict` if the version is already taken."""
    return _publish(log_dir, f"{version:020d}.json", _lines(actions))


def commit_compacted(
    log_dir: str, start: int, end: int, actions: Iterable[dict]
) -> str:
    """Publish a `<start>.<end>.compacted.json` log compaction file."""
    return _publish(
        log_dir, f"{start:020d}.{end:020d}.compacted.json", _lines(actions)
    )


def _delta_commit(
    log_dir: str,
    version: int,
    adds: set[str],
    removes: set[str],
    data_change: bool = True,
    remove_ts_ms: int | None = None,
) -> str:
    """Commit `adds` / `removes` of `data/<name>` files. `data_change`
    MUST be False for rearrangement-only commits (compaction/optimize)
    — it is the protocol's signal that lets streaming consumers skip
    re-emitted rows (stream_delta_commits grades exactly that).
    `remove_ts_ms` stamps each remove action's `deletionTimestamp`
    (epoch millis) — the field VACUUM's retention window is measured
    against."""
    rm_extra = (
        {} if remove_ts_ms is None else {"deletionTimestamp": remove_ts_ms}
    )
    return commit(
        log_dir,
        version,
        [{"commitInfo": {"operation": "WRITE"}}]
        + [
            {"add": {"path": f"data/{p}", "dataChange": data_change}}
            for p in sorted(adds)
        ]
        + [
            {
                "remove": {
                    "path": f"data/{p}",
                    "dataChange": data_change,
                    **rm_extra,
                }
            }
            for p in sorted(removes)
        ],
    )


def write_last_checkpoint(log_dir: str, meta: dict) -> None:
    """Point `_last_checkpoint` at a checkpoint. The pointer is a hint
    that may move backwards or forwards, so it is replaced atomically
    rather than published put-if-absent."""
    _replace(log_dir, "_last_checkpoint", json.dumps(meta))


def read_last_checkpoint(log_dir: str) -> dict | None:
    path = os.path.join(log_dir, "_last_checkpoint")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


# --- driver-side reading ------------------------------------------------------


def _parse(path: str) -> Iterator[dict]:
    with open(path) as fh:
        for n, line in enumerate(fh, 1):
            if not line.strip():
                continue
            try:
                yield json.loads(line)
            except json.JSONDecodeError as e:
                raise ValueError(
                    f"{path} line {n}: malformed Delta log action ({e.msg})"
                ) from None


def read_actions(
    log_dir: str, versions: Iterable[int] | None = None
) -> Iterator[tuple[int, dict]]:
    """`(version, action)` over the given commits (default: all), in
    version order."""
    for v in list_versions(log_dir) if versions is None else versions:
        for act in _parse(commit_path(log_dir, v)):
            yield v, act


def log_segment(log_dir: str) -> list[str]:
    """The MINIMAL file list reconstructing the latest snapshot
    (§Log Compaction Files): the `<start>.<end>.compacted.json` with
    the highest end ≤ latest whose start is 0 (the common single-range
    case), then the tail commits end+1..latest. Without a compaction
    file, every commit json. One directory listing."""
    commits = list_versions(log_dir)
    usable = []
    for f in os.listdir(log_dir):
        m = re.fullmatch(r"(\d+)\.(\d+)\.compacted\.json", f)
        if m and int(m.group(1)) == 0 and int(m.group(2)) <= commits[-1]:
            usable.append((int(m.group(2)), f))
    if not usable:
        return [os.path.basename(commit_path(log_dir, v)) for v in commits]
    end, cf = max(usable)
    return [cf] + [
        os.path.basename(commit_path(log_dir, v)) for v in commits if v > end
    ]


def read_segment(log_dir: str) -> Iterator[dict]:
    """Actions of [[log_segment]], in replay order."""
    for name in log_segment(log_dir):
        yield from _parse(os.path.join(log_dir, name))


class TableMeta(NamedTuple):
    version: int
    protocol: dict
    metadata: dict


class Snapshot(NamedTuple):
    version: int
    protocol: dict
    metadata: dict
    live: dict[str, dict]  # table-relative path → its current add action


def _replay(log_dir: str, live: dict[str, dict] | None) -> TableMeta:
    """The one driver-side fold: the latest version and the latest
    `protocol` and `metaData` actions (`{}` when absent). When `live`
    is given it is filled with the live files; within a version removes
    apply before adds, so the DV-rewrite shape remove(path) +
    add(path, new DV) resolves to the new add."""
    protocol: dict = {}
    metadata: dict = {}
    versions = list_versions(log_dir)  # one listing: version and actions agree
    for _, acts in itertools.groupby(
        read_actions(log_dir, versions), lambda t: t[0]
    ):
        adds: dict[str, dict] = {}
        for _, act in acts:
            if "protocol" in act:
                protocol = act["protocol"]
            elif "metaData" in act:
                metadata = act["metaData"]
            elif live is None:
                continue
            elif "add" in act:
                adds[act["add"]["path"]] = act["add"]
            elif "remove" in act:
                live.pop(act["remove"]["path"], None)
        if live is not None:
            live.update(adds)
    return TableMeta(versions[-1], protocol, metadata)


def table_meta(log_dir: str) -> TableMeta:
    """The latest version, `protocol` and `metaData` — constant driver
    memory whatever the live-file count, for writers that never need
    the file list."""
    return _replay(log_dir, None)


def snapshot(log_dir: str) -> Snapshot:
    """[[table_meta]] plus the live `{path: add}` map — bounded by
    live-file count, so only for callers that need per-file state."""
    live: dict[str, dict] = {}
    return Snapshot(*_replay(log_dir, live), live)


# Reader features this engine's Delta layer actually implements —
# checked against the log's `protocol` action (§Protocol Evolution): a
# table whose protocol demands an unimplemented reader feature MUST be
# refused, not half-read (silently ignoring e.g. deletion vectors would
# return deleted rows as live data).
_DELTA_READER_FEATURES = {
    "deletionVectors",
    "columnMapping",
    "changeDataFeed",
    "v2Checkpoint",
    "timestampNtz",
    "typeWidening",
    "variantType-preview",
    "variantType",
}
_DELTA_MAX_READER_VERSION = 3


def _delta_check_protocol(log_dir: str) -> None:
    """Enforce the spec's forward-compatibility rule: raise if the
    LATEST `protocol` action demands a minReaderVersion above ours or,
    at reader version 3, any `readerFeatures` entry this layer does not
    implement. Tables without a protocol action default to version 1
    (always readable)."""
    latest = table_meta(log_dir).protocol
    v = latest.get("minReaderVersion", 1)
    if v > _DELTA_MAX_READER_VERSION:
        raise ValueError(
            f"table requires minReaderVersion {v}; this reader implements "
            f"up to {_DELTA_MAX_READER_VERSION}"
        )
    if v >= 3:
        missing = set(latest.get("readerFeatures") or []) - _DELTA_READER_FEATURES
        if missing:
            raise ValueError(
                "table requires unimplemented reader features "
                f"{sorted(missing)}; refusing a partial read "
                f"(implemented: {sorted(_DELTA_READER_FEATURES)})"
            )


# --- distributed reading ------------------------------------------------------

_PATH = T.StructField("path", T.StringType())
_DATA_CHANGE = T.StructField("dataChange", T.BooleanType())

# Every action field a distributed reader consumes. Fields a commit
# omits read as null; actions not named here are ignored.
_DELTA_ACTION_SCHEMA = T.StructType(
    [
        T.StructField(
            "add",
            T.StructType(
                [
                    _PATH,
                    _DATA_CHANGE,
                    T.StructField(
                        "partitionValues",
                        T.MapType(T.StringType(), T.StringType()),
                    ),
                    T.StructField("stats", T.StringType()),
                    T.StructField(
                        "deletionVector",
                        T.StructType(
                            [
                                T.StructField("storageType", T.StringType()),
                                T.StructField("pathOrInlineDv", T.StringType()),
                                T.StructField("offset", T.LongType()),
                                T.StructField("sizeInBytes", T.IntegerType()),
                                T.StructField("cardinality", T.LongType()),
                            ]
                        ),
                    ),
                ]
            ),
        ),
        T.StructField("remove", T.StructType([_PATH, _DATA_CHANGE])),
        T.StructField("cdc", T.StructType([_PATH])),
        T.StructField(
            "metaData",
            T.StructType(
                [
                    T.StructField("schemaString", T.StringType()),
                    T.StructField(
                        "configuration",
                        T.MapType(T.StringType(), T.StringType()),
                    ),
                ]
            ),
        ),
    ]
)


def read_log(
    spark: SparkSession,
    log_dir: str,
    versions: Iterable[int] | None = None,
    stream: bool = False,
) -> DataFrame:
    """The log's actions as a DataFrame (one row per action, columns of
    [[_DELTA_ACTION_SCHEMA]] plus `version` from the file name), read
    with `mode=FAILFAST` so a torn commit fails the read. Batch reads
    take the given commits (default: all); `stream=True` tails the
    log directory as a file stream."""
    reader = (spark.readStream if stream else spark.read).schema(
        _DELTA_ACTION_SCHEMA
    ).option("mode", "FAILFAST")
    if stream:
        # only `<version>.json` commits, as the batch path lists them —
        # not checkpoints, compaction files or `_last_checkpoint`
        df = reader.option("pathGlobFilter", "[0-9]" * 20 + ".json").json(
            log_dir
        )
    else:
        vs = list_versions(log_dir) if versions is None else versions
        df = reader.json([commit_path(log_dir, v) for v in vs])
    return df.withColumn(
        "version",
        F.regexp_extract(F.input_file_name(), r"(\d+)\.json$", 1).cast("int"),
    )


def file_actions(df: DataFrame) -> DataFrame:
    """(version, path, is_add) for the add/remove rows of [[read_log]]."""
    return df.select(
        "version",
        F.coalesce(F.col("add.path"), F.col("remove.path")).alias("path"),
        F.col("add.path").isNotNull().alias("is_add"),
    ).filter(F.col("path").isNotNull())


def _delta_live_files(spark: SparkSession, log_dir: str) -> DataFrame:
    """(version, path, fname) live-file table for EVERY version of a
    Delta log, by distributed replay: read the commits once, project
    each action onto every version ≥ its commit via
    `explode(sequence(u, max_version))`, and keep the LAST action per
    (version, file) with `max_by(is_add, u)` — a file is live at v iff
    that action is an add. |actions| × |versions| metadata rows, never
    data."""
    _delta_check_protocol(log_dir)  # refuse tables we cannot read fully
    versions = list_versions(log_dir)  # bounds both the read and the fold
    max_v = versions[-1]
    return (
        file_actions(read_log(spark, log_dir, versions))
        .select(
            "path",
            "is_add",
            F.col("version").alias("u"),
            F.explode(F.sequence("version", F.lit(max_v))).alias("version"),
        )
        .groupBy("version", "path")
        .agg(F.max_by("is_add", "u").alias("live"))
        .filter("live")
        .select(
            "version",
            "path",  # table-root-relative — UNIQUE even when partition
            # dirs reuse one write job's part basenames
            F.element_at(F.split("path", "/"), -1).alias("fname"),
        )
    )


def _delta_multipart_checkpoint_files(
    log_dir: str, ckpt_v: int, lc_meta: dict
) -> list[str]:
    """Shard paths of a MULTI-PART classic checkpoint
    (`<v>.checkpoint.<i>.<n>.parquet`, parts numbered 1..n — the form
    writers switch to when single-file checkpoint production becomes
    the bottleneck), validated for COMPLETENESS: every file must agree
    on n, parts 1..n must all be present, and `_last_checkpoint`'s
    `parts` field (when recorded) must match — a missing shard means
    the snapshot state is incomplete and must be refused, never
    half-read (reading a subset silently drops live files). Returns []
    when no multi-part shard exists for `ckpt_v`."""
    pat = re.compile(
        rf"{ckpt_v:020d}\.checkpoint\.(\d{{10}})\.(\d{{10}})\.parquet"
    )
    found: dict[int, tuple[int, str]] = {}
    for f in os.listdir(log_dir):
        m = pat.fullmatch(f)
        if m:
            found[int(m.group(1))] = (int(m.group(2)), f)
    if not found:
        return []
    totals = {n for n, _ in found.values()}
    if len(totals) != 1:
        raise ValueError(
            f"multi-part checkpoint {ckpt_v} shards disagree on part "
            f"count: {sorted(totals)}"
        )
    (n_total,) = totals
    declared = lc_meta.get("parts")
    if declared is not None and int(declared) != n_total:
        raise ValueError(
            f"_last_checkpoint declares {declared} parts but shards "
            f"declare {n_total}"
        )
    missing = sorted(set(range(1, n_total + 1)) - set(found))
    if missing:
        raise ValueError(
            f"multi-part checkpoint {ckpt_v} is missing shards "
            f"{missing} of {n_total}; refusing an incomplete snapshot"
        )
    return [os.path.join(log_dir, found[i][1]) for i in range(1, n_total + 1)]


def _delta_latest_live_files(spark: SparkSession, root: str) -> set[str]:
    """File names (basenames) live at the LATEST version of a Delta
    table — the production single-snapshot read path. Bootstraps from
    `_last_checkpoint` when present: load the checkpoint parquet's add
    rows (entering the replay fold as version-`ckpt_v` adds), stack
    ONLY the post-checkpoint JSON tail, and keep `max_by(is_add, u)`
    per file — O(live files + tail), never O(history). A checkpoint AT
    the latest version has an empty tail, which must read as exactly
    the checkpoint's contents. Handles ALL THREE checkpoint forms: the
    classic single `<v>.checkpoint.parquet` file, the sharded classic
    `<v>.checkpoint.<i>.<n>.parquet` form (completeness-validated —
    see [[_delta_multipart_checkpoint_files]]), and the v2Checkpoint
    feature's `<v>.checkpoint.<uniqueStr>.parquet` manifest whose file
    actions live in `sidecar`-referenced parquet files (read
    distributed).
    Without a checkpoint, falls back to full-history replay via
    [[_delta_live_files]]. Returns a driver-side set: the live-file
    list is the scheduler-class metadata a scan plan needs."""
    log_dir = os.path.join(root, "_delta_log")
    _delta_check_protocol(log_dir)  # refuse tables we cannot read fully
    max_v = _delta_max_version(log_dir)
    lc_meta = read_last_checkpoint(log_dir)
    if lc_meta is None:
        live = _delta_live_files(spark, log_dir).filter(
            F.col("version") == max_v
        )
        return {r["fname"] for r in live.select("fname").collect()}
    ckpt_v = int(lc_meta["version"])
    classic = os.path.join(log_dir, f"{ckpt_v:020d}.checkpoint.parquet")
    multi = _delta_multipart_checkpoint_files(log_dir, ckpt_v, lc_meta)
    if os.path.exists(classic):
        ckpt_src = spark.read.parquet(classic)
    elif multi:
        # multi-part classic checkpoint: ONE distributed read over all
        # n shards (completeness already validated)
        ckpt_src = spark.read.parquet(*multi)
    else:
        # V2 checkpoint: the manifest is `<v>.checkpoint.<uniqueStr>.
        # parquet` and its file actions live in `sidecar`-referenced
        # parquet files under _delta_log/_sidecars/ — read the manifest
        # (bounded), then ONE distributed read over every sidecar.
        # Manifests without sidecars carry their adds directly, so the
        # union covers both.
        manifests = [
            f
            for f in os.listdir(log_dir)
            if f.startswith(f"{ckpt_v:020d}.checkpoint.")
            and f.endswith(".parquet")
        ]
        if not manifests:
            raise FileNotFoundError(
                f"_last_checkpoint names version {ckpt_v} but no classic "
                "or v2 checkpoint file exists for it"
            )
        manifest = spark.read.parquet(
            *[os.path.join(log_dir, m) for m in sorted(manifests)]
        )
        cols = set(manifest.columns)
        sidecars = []
        if "sidecar" in cols:
            sidecars = [
                r["p"]
                for r in manifest.select(F.col("sidecar.path").alias("p"))
                .filter(F.col("p").isNotNull())
                .collect()  # bounded: one row per sidecar file
            ]
        parts = []
        if "add" in cols:
            parts.append(manifest.filter(F.col("add.path").isNotNull()))
        if sidecars:
            parts.append(
                spark.read.parquet(
                    *[
                        os.path.join(log_dir, "_sidecars", s)
                        for s in sorted(sidecars)
                    ]
                ).filter(F.col("add.path").isNotNull())
            )
        if not parts:
            raise ValueError(
                f"v2 checkpoint for version {ckpt_v} carries neither adds "
                "nor sidecars"
            )
        ckpt_src = parts[0].select("add")
        for p in parts[1:]:
            ckpt_src = ckpt_src.unionByName(p.select("add"))
    actions = ckpt_src.select(
        F.col("add.path").alias("path"),
        F.lit(True).alias("is_add"),
        F.lit(ckpt_v).alias("u"),
    ).filter(
        # a spec checkpoint carries protocol/metaData (and possibly
        # remove-tombstone) rows alongside the adds — their null
        # add.path must not survive as a phantom live file
        F.col("path").isNotNull()
    )
    tail = range(ckpt_v + 1, max_v + 1)
    if tail:  # empty when the checkpoint IS the latest version
        actions = actions.unionByName(
            file_actions(read_log(spark, log_dir, tail)).withColumnRenamed(
                "version", "u"
            )
        )
    live = (
        actions.groupBy("path")
        .agg(F.max_by("is_add", "u").alias("live"))
        .filter("live")
        .select(F.element_at(F.split("path", "/"), -1).alias("fname"))
    )
    return {r["fname"] for r in live.collect()}
