"""The Hudi timeline (hudi.apache.org/tech-specs §Timeline, §File
Layout): the one module that names, writes and parses `.hoodie/` files,
base-file slice names and log-file names.

- [[create]] writes `hoodie.properties`.
- A writer [[begin]]s an instant (requested and inflight markers),
  writes its base files with [[write_slices]]
  (`<file_id>_0-1-0_<instant>.parquet`) and then [[complete]]s it. A
  slice is visible only once its instant is completed, so the slice
  names and the timeline are one contract. Every timeline file lands
  put-if-absent through the Delta log's commit primitive, so of two
  completions of one instant the second gets `CommitConflict`.
- Readers list [[completed]] instants, [[read]] an instant's metadata
  and resolve [[base_files]]. Streams tail the completed commits with
  [[stream]]: strict `<14 digits>.commit` names and `mode=FAILFAST`,
  so a torn completed instant raises instead of becoming a null row.
- A file group's log files are named by [[log_name]]
  (`.<file_id>_<base instant>.log.1_0-1-0`, `-cdc.log` for the
  change-data log) and listed by [[log_files]]; [[file_id]] parses a
  base file's group.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from random_forest_using_hadoop_spark.delta_log import _publish

_HOODIE = ".hoodie"
_TOKEN = "0-1-0"  # the write token of every slice this engine writes
_BASE = re.compile(
    r"(?P<file_id>.+)_(?P<token>\d+-\d+-\d+)_(?P<instant>\d{14})\.parquet"
)
_LOG = re.compile(
    r"\..+_(?P<instant>\d{14})(?P<cdc>-cdc)?"
    r"\.log\.\d+_\d+-\d+-\d+"
)
# the inflight marker per action; requested is `.<action>.requested`
_INFLIGHT = {"commit": ".inflight", "deltacommit": ".inflight"}


def _dir(root: str) -> str:
    return os.path.join(root, _HOODIE)


def _markers(instant: str, action: str) -> tuple[str, str]:
    return (
        f"{instant}.{action}.requested",
        instant + _INFLIGHT.get(action, f".{action}.inflight"),
    )


# --- writing ------------------------------------------------------------------


def create(root: str, name: str, table_type: str, **props: str) -> None:
    """Write the table's `hoodie.properties`: name, type, table version
    6, then `props` (`_` spelling the key's `.`: `cdc_enabled="true"`
    is `hoodie.table.cdc.enabled=true`)."""
    os.makedirs(_dir(root), exist_ok=True)
    lines = {"name": name, "type": table_type, "version": "6", **props}
    _publish(
        _dir(root),
        "hoodie.properties",
        "".join(
            f"hoodie.table.{k.replace('_', '.')}={v}\n"
            for k, v in lines.items()
        ),
    )


def begin(root: str, instant: str, action: str) -> None:
    """Move `instant` to requested, then inflight."""
    for marker in _markers(instant, action):
        _publish(_dir(root), marker, "")


def complete(root: str, instant: str, action: str, payload: dict) -> str:
    """Publish the completed `<instant>.<action>` with its metadata;
    returns its path. Raises `delta_log.CommitConflict` if the instant
    is already completed."""
    return _publish(_dir(root), f"{instant}.{action}", json.dumps(payload))


def discard(root: str, instant: str, action: str) -> None:
    """Remove the requested and inflight markers of an instant that
    never completed (the timeline half of a rollback)."""
    for marker in _markers(instant, action):
        with contextlib.suppress(FileNotFoundError):
            os.remove(os.path.join(_dir(root), marker))


def slice_path(root: str, part: str, file_id: str, instant: str) -> str:
    """Path of the base file of `file_id`'s slice at `instant`."""
    name = f"{file_id}_{_TOKEN}_{instant}.parquet"
    return os.path.join(root, part, name)


def log_name(file_id: str, base_instant: str, cdc: bool = False) -> str:
    """Name of the first log file of `file_id`'s group on its slice at
    `base_instant`; `cdc` names the group's change-data log."""
    kind = "-cdc.log" if cdc else ".log"
    return f".{file_id}_{base_instant}{kind}.1_{_TOKEN}"


def write_slices(
    df: DataFrame,
    root: str,
    instant: str,
    part: str | Column,
    file_id: str | Column | None = None,
) -> list[str]:
    """Write `df` as the base files of `instant` and return their paths.
    With a string `part` the whole frame is one slice, written even when
    empty; with columns, one distributed job writes one slice per
    distinct (part, file_id) group. `file_id` defaults to `fg-<part>`,
    one file group per partition. Each group lands in a scratch
    directory and is renamed into its slice name; a group that wrote
    other than one file raises."""
    scratch = os.path.join(root, f"_scratch_{instant}")
    shutil.rmtree(scratch, ignore_errors=True)
    if isinstance(part, str):
        df.coalesce(1).write.mode("overwrite").parquet(scratch)
        groups = [(part, file_id or f"fg-{part}", scratch)]
    else:
        if file_id is None:
            file_id = F.concat(F.lit("fg-"), part)
        df.withColumn("_part", part).withColumn(
            "_fid", file_id
        ).repartition("_part", "_fid").write.partitionBy(
            "_part", "_fid"
        ).mode("overwrite").parquet(scratch)
        groups = [
            (
                p[len("_part=") :],
                f[len("_fid=") :],
                os.path.join(scratch, p, f),
            )
            for p in sorted(os.listdir(scratch))
            if p.startswith("_part=")
            for f in sorted(os.listdir(os.path.join(scratch, p)))
        ]
    paths = []
    for p, fid, src in groups:
        files = [f for f in os.listdir(src) if f.endswith(".parquet")]
        if len(files) != 1:
            raise ValueError(
                f"slice {fid} of {instant}: expected 1 base file, "
                f"got {files}"
            )
        os.makedirs(os.path.join(root, p), exist_ok=True)
        paths.append(slice_path(root, p, fid, instant))
        os.rename(os.path.join(src, files[0]), paths[-1])
    shutil.rmtree(scratch, ignore_errors=True)
    return paths


# --- reading ------------------------------------------------------------------


def completed(root: str, actions: tuple[str, ...] = ("commit",)) -> list[str]:
    """Sorted instants completed by one of `actions` — files named
    exactly `<14 digits>.<action>`. Markers alone mean the write never
    completed: its files are garbage that no snapshot includes."""
    names = re.compile(r"(\d{14})\.(?:%s)" % "|".join(actions))
    return sorted(
        m.group(1)
        for f in os.listdir(_dir(root))
        if (m := names.fullmatch(f))
    )


def is_pending(root: str, instant: str, action: str) -> bool:
    """Whether a requested or inflight marker of `instant` exists."""
    return any(
        os.path.exists(os.path.join(_dir(root), m))
        for m in _markers(instant, action)
    )


def read(root: str, instant: str, action: str) -> dict:
    """The metadata of the completed `<instant>.<action>`."""
    path = os.path.join(_dir(root), f"{instant}.{action}")
    with open(path) as fh:
        try:
            return json.load(fh)
        except json.JSONDecodeError as e:
            raise ValueError(
                f"{path}: malformed timeline instant ({e.msg})"
            ) from None


def base_files(root: str) -> list[dict]:
    """All base files with their (partition, file_id, instant) parsed
    from the slice names. O(files) driver-side — the listing a real
    reader gets from the commit metadata / metadata table instead of a
    filesystem walk; both are planner-class metadata."""
    out = []
    for part in sorted(os.listdir(root)):
        pdir = os.path.join(root, part)
        if part == _HOODIE or not os.path.isdir(pdir):
            continue
        for f in sorted(os.listdir(pdir)):
            if m := _BASE.fullmatch(f):
                out.append(
                    {
                        "partition": part,
                        "file_id": m.group("file_id"),
                        "instant": m.group("instant"),
                        "path": os.path.join(pdir, f),
                    }
                )
    return out


def file_id(path: str) -> str:
    """The file group of a base file, parsed from its slice name."""
    return _BASE.fullmatch(os.path.basename(path)).group("file_id")


def log_files(root: str, part: str, upto: str | None = None) -> list[dict]:
    """`part`'s log files, sorted by path, with the base instant and
    the change-data flag their names carry — only those whose base
    instant is at or before `upto` when it is given. Log files are
    dot-prefixed, so Spark's file sources skip them; readers list them
    here."""
    pdir = os.path.join(root, part)
    if not os.path.isdir(pdir):
        return []
    out = []
    for f in sorted(os.listdir(pdir)):
        m = _LOG.fullmatch(f)
        if m and (upto is None or m.group("instant") <= upto):
            out.append(
                {
                    "path": os.path.join(pdir, f),
                    "instant": m.group("instant"),
                    "cdc": m.group("cdc") is not None,
                }
            )
    return out


# --- streaming ----------------------------------------------------------------

_STREAM_SCHEMA = T.StructType(
    [T.StructField("operationType", T.StringType())]
)


def stream(spark: SparkSession, root: str) -> DataFrame:
    """A file stream over the completed commits of the timeline: one
    row per `<14 digits>.commit` with its `operationType` and `instant`,
    read with `mode=FAILFAST`."""
    return (
        spark.readStream.schema(_STREAM_SCHEMA)
        .option("mode", "FAILFAST")
        .option("pathGlobFilter", "[0-9]" * 14 + ".commit")
        .json(_dir(root))
        .withColumn(
            "instant",
            F.regexp_extract(
                F.input_file_name(), r"(\d{14})\.commit$", 1
            ),
        )
    )
