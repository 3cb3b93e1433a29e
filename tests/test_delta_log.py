"""The Delta transaction-log module: put-if-absent commits, torn-commit
detection, crash safety, and the guard that keeps every other package
module from naming or opening `_delta_log/` files itself."""

from __future__ import annotations

import ast
import multiprocessing
import os
import shutil
import sys
import threading
from pathlib import Path

import pytest

import random_forest_using_hadoop_spark as engine
from random_forest_using_hadoop_spark import delta_log
from random_forest_using_hadoop_spark.delta_log import (
    CommitConflict,
    _delta_commit,
    _delta_latest_live_files,
    _delta_live_files,
)
from random_forest_using_hadoop_spark.operators.scans import _tmp
from tests import _race_worker
from tests.conftest import SF_DIR

PKG = Path(engine.__file__).parent


def _fresh_log(tag: str) -> tuple[str, str]:
    root = _tmp(SF_DIR, tag)
    shutil.rmtree(root, ignore_errors=True)
    log_dir = os.path.join(root, "_delta_log")
    os.makedirs(log_dir)
    return root, log_dir


def _write_parquet(path: str, k: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({"k": [k]}), path)


def test_concurrent_commits_of_one_version_exactly_one_wins(tmp_path):
    """Writers racing for the same version (two threads, then more
    threads than there are cores, then twice as many processes as
    cores — `os.link` is the cross-process primitive every lake format
    here commits through): exactly one publishes, every other one gets
    CommitConflict, the winner's actions survive intact and no temp
    file is left behind."""
    log_dir = str(tmp_path)
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for version in range(20):
            n_writers = 2 if version < 10 else 2 * (os.cpu_count() or 4)
            barrier = threading.Barrier(n_writers)
            outcome: dict[int, object] = {}

            def writer(i: int) -> None:
                barrier.wait()
                try:
                    delta_log.commit(
                        log_dir, version, [{"commitInfo": {"writer": i}}]
                    )
                    outcome[i] = "won"
                except CommitConflict as e:
                    outcome[i] = e

            threads = [
                threading.Thread(target=writer, args=(i,))
                for i in range(n_writers)
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=30)
                assert not t.is_alive()
            winners = [i for i, r in outcome.items() if r == "won"]
            losers = [
                r for r in outcome.values() if isinstance(r, CommitConflict)
            ]
            assert len(winners) == 1, outcome
            assert len(losers) == n_writers - 1, outcome
            (action,) = [
                a for _, a in delta_log.read_actions(log_dir, [version])
            ]
            assert action == {"commitInfo": {"writer": winners[0]}}
    finally:
        sys.setswitchinterval(switch)

    ctx = multiprocessing.get_context("spawn")
    n_writers = 2 * (os.cpu_count() or 4)
    for version in range(20, 23):
        barrier = ctx.Barrier(n_writers)
        procs = [
            ctx.Process(
                target=_race_worker.publish,
                args=(barrier, log_dir, version, i),
            )
            for i in range(n_writers)
        ]
        for p in procs:
            p.start()
        for p in procs:
            p.join(timeout=120)
            assert not p.is_alive()
        codes = [p.exitcode for p in procs]
        assert sorted(codes) == [0] + [3] * (n_writers - 1), codes
        (action,) = [
            a for _, a in delta_log.read_actions(log_dir, [version])
        ]
        assert action == {"commitInfo": {"writer": codes.index(0)}}
    assert sorted(os.listdir(log_dir)) == [
        f"{v:020d}.json" for v in range(23)
    ], "a temp file or stray commit was left in the log"


def test_error_between_data_write_and_commit_keeps_previous_snapshot(
    spark, monkeypatch
):
    """A writer that dies after its data lands but before its commit
    publishes leaves the table at the previous snapshot: the orphan
    file is on disk but no reader sees it."""
    from random_forest_using_hadoop_spark.operators.lake_r15 import (
        _stage_constrained_table,
        delta_constrained_append,
    )

    root = _tmp(SF_DIR, "delta_log_crash_unit")
    _stage_constrained_table(root)
    sch = "o_orderkey long, o_totalprice double, o_orderpriority string"
    assert delta_constrained_append(
        spark, root, spark.createDataFrame([(1, 2.0, "X")], sch)
    ) == 1
    before = _delta_latest_live_files(spark, root)
    assert len(before) == 1

    def crash(*_a, **_k):
        raise RuntimeError("writer died before its commit")

    monkeypatch.setattr(delta_log, "commit", crash)
    with pytest.raises(RuntimeError, match="writer died"):
        delta_constrained_append(
            spark, root, spark.createDataFrame([(2, 3.0, "Y")], sch)
        )
    monkeypatch.undo()
    orphan = os.path.join(root, "data", "c2")
    assert any(f.endswith(".parquet") for f in os.listdir(orphan))
    assert delta_log.list_versions(os.path.join(root, "_delta_log")) == [0, 1]
    assert _delta_latest_live_files(spark, root) == before


def test_failed_commit_leaves_no_temp_file(tmp_path):
    """An action that cannot be serialised fails the commit before
    anything is published, and its temp file is removed too."""
    log_dir = str(tmp_path)
    with pytest.raises(TypeError):
        delta_log.commit(log_dir, 0, [{"commitInfo": {"bad": object()}}])
    assert os.listdir(log_dir) == []


def test_unpublished_temp_file_is_invisible(spark):
    """A crash inside commit leaves at most a hidden temp file: neither
    the driver-side nor the distributed reader counts it as a commit."""
    root, log_dir = _fresh_log("delta_log_tmp_unit")
    _write_parquet(os.path.join(root, "data", "a.parquet"), 1)
    _delta_commit(log_dir, 0, {"a.parquet"}, set())
    with open(os.path.join(log_dir, f".{1:020d}.json.dead.tmp"), "w") as fh:
        fh.write('{"remove": {"path": "data/a.parquet"}}\n')
    assert delta_log.list_versions(log_dir) == [0]
    assert _delta_latest_live_files(spark, root) == {"a.parquet"}
    rows = delta_log.read_log(spark, log_dir).collect()
    assert {r["version"] for r in rows} == {0}


def test_torn_commit_raises_instead_of_dropping_the_remove(spark):
    """v0 adds a and b; v1's `remove a` line is cut mid-string. A
    permissive read turns the torn line into an all-null row that the
    `path IS NOT NULL` filters drop, so `a` reads as live. Every
    reader must raise instead."""
    root, log_dir = _fresh_log("delta_log_torn_unit")
    for name, k in (("a", 1), ("b", 2)):
        path = os.path.join(root, "data", f"{name}.parquet")
        _write_parquet(path, k)
    _delta_commit(log_dir, 0, {"a.parquet", "b.parquet"}, set())
    with open(os.path.join(log_dir, f"{1:020d}.json"), "w") as fh:
        fh.write('{"remove": {"path": "data/a.parq')
    torn = f"{1:020d}.json"

    with pytest.raises(ValueError, match=rf"{torn} line 1"):
        list(delta_log.read_actions(log_dir))
    with pytest.raises(ValueError, match=rf"{torn} line 1"):
        delta_log.snapshot(log_dir)
    with pytest.raises(ValueError, match=torn):
        _delta_latest_live_files(spark, root)
    # readers that never pass the protocol gate fail on the distributed
    # read itself (stats skipping used to return [a, b] here)
    from random_forest_using_hadoop_spark.operators.delta_ext import (
        _stats_surviving_files,
    )

    with pytest.raises(Exception, match=torn):
        _stats_surviving_files(spark, log_dir, 0, 10**9)
    with pytest.raises(Exception, match=torn):
        delta_log.read_log(spark, log_dir).collect()

    ckpt = str(Path(root) / "_stream_ckpt")
    query = (
        delta_log.read_log(spark, log_dir, stream=True)
        .writeStream.foreachBatch(lambda df, _id: df.collect())
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        with pytest.raises(Exception, match=torn):
            query.awaitTermination()
    finally:
        query.stop()


def test_stream_reads_only_commit_files(spark):
    """The log stream tails `<version>.json` commits only, like the
    batch reader: a checkpoint parquet and a compaction file in the
    same directory neither fail the FAILFAST read nor come back as
    rows without a version."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root, log_dir = _fresh_log("delta_log_stream_unit")
    _delta_commit(log_dir, 0, {"a.parquet", "b.parquet"}, set())
    _delta_commit(log_dir, 1, {"c.parquet"}, {"a.parquet"})
    pq.write_table(
        pa.table({"add": [{"path": "data/b.parquet"}]}),
        os.path.join(log_dir, f"{1:020d}.checkpoint.parquet"),
    )
    delta_log.commit_compacted(
        log_dir, 0, 1, [{"add": {"path": "data/b.parquet"}}]
    )
    rows: list = []
    query = (
        delta_log.read_log(spark, log_dir, stream=True)
        .writeStream.foreachBatch(
            lambda df, _id: rows.extend(delta_log.file_actions(df).collect())
        )
        .option("checkpointLocation", str(Path(root) / "_stream_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        query.awaitTermination()
    finally:
        query.stop()
    assert sorted((r["version"], r["path"], r["is_add"]) for r in rows) == [
        (0, "data/a.parquet", True),
        (0, "data/b.parquet", True),
        (1, "data/a.parquet", False),
        (1, "data/c.parquet", True),
    ]


def test_replay_helpers_agree_on_live_files(spark):
    """snapshot() (driver fold) and _delta_live_files (distributed fold)
    are two replays of one log; they must agree at the latest version,
    and table_meta() must agree with snapshot() on everything but the
    file list."""
    root, log_dir = _fresh_log("delta_log_agree_unit")
    delta_log.commit(
        log_dir,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {"id": "t0"}},
            {"add": {"path": "data/a.parquet"}},
            {"add": {"path": "data/b.parquet"}},
        ],
    )
    delta_log.commit(
        log_dir,
        1,
        [
            {"metaData": {"id": "t1"}},
            {"remove": {"path": "data/a.parquet"}},
            {"add": {"path": "data/c.parquet"}},
        ],
    )
    snap = delta_log.snapshot(log_dir)
    assert snap.version == 1
    assert delta_log.table_meta(log_dir) == (
        1,
        {"minReaderVersion": 1, "minWriterVersion": 2},
        {"id": "t1"},
    )
    assert snap[:3] == delta_log.table_meta(log_dir)
    assert set(snap.live) == {"data/b.parquet", "data/c.parquet"}
    dist = {
        r["path"]
        for r in _delta_live_files(spark, log_dir).collect()
        if r["version"] == 1
    }
    assert dist == set(snap.live)


# --- guard: the log format lives in delta_log.py alone ----------------------


def _is_log_path(expr: ast.AST, names: set[str]) -> bool:
    """`expr` names a `_delta_log` directory or a file under one: a
    known log-path variable, or `os.path.join(<log path>, ...)`, or any
    expression spelling "_delta_log"."""
    if "_delta_log" in ast.unparse(expr):
        return True
    if isinstance(expr, ast.Name):
        return expr.id in names
    return (
        isinstance(expr, ast.Call)
        and ast.unparse(expr.func) == "os.path.join"
        and bool(expr.args)
        and _is_log_path(expr.args[0], names)
    )


def _log_names(tree: ast.AST) -> set[str]:
    """Variables that hold a `_delta_log` path (or a path under one)."""
    names = {"log_dir"}
    assigns = [
        (t.id, n.value)
        for n in ast.walk(tree)
        if isinstance(n, ast.Assign)
        for t in n.targets
        if isinstance(t, ast.Name)
    ]
    while True:
        grown = {name for name, v in assigns if _is_log_path(v, names)}
        if grown <= names:
            return names
        names |= grown


def test_only_delta_log_names_or_opens_log_files():
    """No package module other than delta_log.py spells a commit file
    name or opens a file under `_delta_log/` — every commit and log
    read goes through the one module."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "delta_log.py":
            continue
        src = path.read_text()
        rel = path.relative_to(PKG.parent)
        for n, line in enumerate(src.splitlines(), 1):
            if ":020d}.json" in line:
                offenders.append(f"{rel}:{n}: commit file name")
        tree = ast.parse(src)
        names = _log_names(tree)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "open"
                and node.args
            ):
                if _is_log_path(node.args[0], names):
                    arg = ast.unparse(node.args[0])
                    offenders.append(f"{rel}:{node.lineno}: open({arg})")
    assert not offenders, "\n".join(offenders)


# --- guard: every writer commits at its base + 1 -----------------------------

_COMMITS = {"commit", "_delta_commit", "complete"}
_LISTINGS = {"_delta_max_version", "list_versions", "current_version"}


def _callee(func: ast.AST) -> str:
    if isinstance(func, ast.Attribute):
        return func.attr
    return func.id if isinstance(func, ast.Name) else ""


def test_no_commit_version_comes_from_a_listing_at_commit_time():
    """The version (or instant) a writer publishes must be one past the
    base it read its state from. A version computed inside the commit
    call from a fresh listing (`_delta_max_version(...) + 1`) lets a
    writer that planned from an older base land on top of a newer
    commit without a CommitConflict — the lost-update hole."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and _callee(node.func) in _COMMITS
                and len(node.args) > 1
            ):
                continue
            for sub in ast.walk(node.args[1]):
                if (
                    isinstance(sub, ast.Call)
                    and _callee(sub.func) in _LISTINGS
                ):
                    offenders.append(
                        f"{path.relative_to(PKG.parent)}:{node.lineno}: "
                        f"{ast.unparse(node.args[1])}"
                    )
    assert not offenders, "\n".join(offenders)
