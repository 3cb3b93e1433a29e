"""Hudi COW timeline/file-slice mechanism pins (operators/hudi.py,
hudi_timeline.py).

The two Hudi keys are oracle-graded on content; these tests pin the
MECHANISM — completed-instant filtering, file-slice resolution, and
incomplete-write invisibility — directly against the staged fixture,
so a regression that happens to preserve totals (e.g. a resolver that
prefers newest file regardless of timeline state on a fixture where
the poison slice were missing) still fails. The timeline's commit
rule (one winner per instant, torn instants raise) and the guard that
keeps every other package module off `.hoodie/` are pinned here too.
"""

from __future__ import annotations

import ast
import os
import sys
import threading
from pathlib import Path

import pytest

import random_forest_using_hadoop_spark as engine
from random_forest_using_hadoop_spark import hudi_timeline
from random_forest_using_hadoop_spark.delta_log import CommitConflict
from random_forest_using_hadoop_spark.operators.hudi import (
    _hudi_snapshot_files,
    _hudi_stage,
)
from tests.conftest import SF_DIR

engine.load_all()
PKG = Path(engine.__file__).parent


@pytest.fixture(scope="module")
def staged(spark):
    return _hudi_stage(spark, SF_DIR)


def test_timeline_excludes_incomplete_instants(staged):
    root, prios, (c1, c2, c3) = staged
    assert hudi_timeline.completed(root) == [c1, c2]
    # c3 wrote its data file and both pre-commit markers — a listing
    # sees 7 base files, the timeline admits only 6
    assert len(hudi_timeline.base_files(root)) == len(prios) + 2
    assert hudi_timeline.is_pending(root, c3, "commit")
    assert os.path.exists(os.path.join(root, ".hoodie", f"{c3}.inflight"))
    assert not os.path.exists(os.path.join(root, ".hoodie", f"{c3}.commit"))


def test_snapshot_picks_latest_completed_slice_per_group(staged):
    root, prios, (c1, c2, c3) = staged
    latest = _hudi_snapshot_files(root)
    assert len(latest) == len(prios)
    urgent = [f for f in latest if "fg-1-URGENT" in f]
    assert len(urgent) == 1 and f"_{c2}.parquet" in urgent[0]
    assert not any(f"_{c3}.parquet" in f for f in latest)
    # time travel to c1: every group at its first slice
    asof = _hudi_snapshot_files(root, as_of=c1)
    assert len(asof) == len(prios)
    assert all(f"_{c1}.parquet" in f for f in asof)


def test_empty_timeline_refuses(tmp_path):
    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, ".hoodie"))
    with pytest.raises(ValueError, match="no completed commits"):
        _hudi_snapshot_files(root)


def test_incremental_range_is_slice_bounded(staged):
    root, prios, (c1, c2, c3) = staged
    completed = set(hudi_timeline.completed(root))
    in_range = [
        bf
        for bf in hudi_timeline.base_files(root)
        if c1 < bf["instant"] <= c2 and bf["instant"] in completed
    ]
    # exactly the one slice c2 rewrote — never O(table)
    assert [bf["file_id"] for bf in in_range] == ["fg-1-URGENT"]


# --- the timeline's commit rule ----------------------------------------------


def test_concurrent_completions_of_one_instant_exactly_one_wins(tmp_path):
    """Writers racing to complete the same instant (two, then twice as
    many as there are cores): exactly one publishes, every other one
    gets CommitConflict, the winner's metadata is what reads back, and
    no temp file is left in `.hoodie/`."""
    root = str(tmp_path)
    hudi_timeline.create(root, "t", "COPY_ON_WRITE")
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    instants = []
    try:
        for i in range(10):
            instant = f"2024010100{i:04d}"
            instants.append(instant)
            hudi_timeline.begin(root, instant, "commit")
            n_writers = 2 if i < 5 else 2 * (os.cpu_count() or 4)
            barrier = threading.Barrier(n_writers)
            outcome: dict[int, object] = {}

            def writer(w: int) -> None:
                barrier.wait()
                try:
                    hudi_timeline.complete(
                        root, instant, "commit", {"writer": w}
                    )
                    outcome[w] = "won"
                except CommitConflict as e:
                    outcome[w] = e

            threads = [
                threading.Thread(target=writer, args=(w,))
                for w in range(n_writers)
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=30)
                assert not t.is_alive()
            winners = [w for w, r in outcome.items() if r == "won"]
            assert len(winners) == 1, outcome
            assert sum(
                isinstance(r, CommitConflict) for r in outcome.values()
            ) == n_writers - 1, outcome
            assert hudi_timeline.read(root, instant, "commit") == {
                "writer": winners[0]
            }
    finally:
        sys.setswitchinterval(switch)
    assert hudi_timeline.completed(root) == instants
    assert not any(
        f.startswith(".") for f in os.listdir(os.path.join(root, ".hoodie"))
    ), "a temp file was left in the timeline"


def test_torn_instant_raises_and_temp_files_stay_hidden(spark, tmp_path):
    """A completed instant cut mid-write must raise — in `read` and in
    the FAILFAST timeline stream — instead of reading as a null row.
    A hidden temp file and a marker are never listed or streamed."""
    root = str(tmp_path / "t")
    hudi_timeline.create(root, "t", "COPY_ON_WRITE")
    c1, c2, c3 = "20240101000000", "20240102000000", "20240103000000"
    for instant in (c1, c2):
        hudi_timeline.begin(root, instant, "commit")
        hudi_timeline.complete(
            root, instant, "commit", {"operationType": "INSERT"}
        )
    hdir = Path(root) / ".hoodie"
    (hdir / f".{c3}.commit.0a1b.tmp").write_text('{"operationTy')
    (hdir / f"{c3}.commit.requested").write_text("")
    assert hudi_timeline.completed(root) == [c1, c2]

    def _drain(tag: str) -> list:
        rows: list = []
        query = (
            hudi_timeline.stream(spark, root)
            .writeStream.foreachBatch(
                lambda df, _id: rows.extend(df.collect())
            )
            .option("checkpointLocation", str(tmp_path / tag))
            .trigger(availableNow=True)
            .start()
        )
        try:
            query.awaitTermination()
        finally:
            query.stop()
        return rows

    rows = _drain("ok")
    assert sorted((r["instant"], r["operationType"]) for r in rows) == [
        (c1, "INSERT"),
        (c2, "INSERT"),
    ]
    (hdir / f"{c3}.commit").write_text('{"operationType": "UPS')
    with pytest.raises(ValueError, match=f"{c3}.commit"):
        hudi_timeline.read(root, c3, "commit")
    with pytest.raises(Exception, match="(?i)malformed"):
        _drain("torn")


# --- guard: the timeline format lives in hudi_timeline.py alone --------------

_SPELLINGS = (
    ".hoodie",
    "_0-1-0_",
    ".commit.requested",
    ".inflight",
    ".log.",
    "-cdc.log",
)


def _docstrings(tree: ast.AST) -> set[int]:
    """ids of the docstring constants — prose, exempt like comments."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                out.add(id(body[0].value))
    return out


def test_only_hudi_timeline_names_or_opens_timeline_files():
    """No package module other than hudi_timeline.py spells `.hoodie`
    (so none can open or list a timeline path), the slice write token
    `_0-1-0_`, an instant's `.commit.requested` / `.inflight` marker
    or a log-file name (`.log.`, `-cdc.log`) in code — every timeline
    write, read, slice name and log name goes through the one module."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "hudi_timeline.py":
            continue
        tree = ast.parse(path.read_text())
        prose = _docstrings(tree)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in prose
                and any(sp in node.value for sp in _SPELLINGS)
            ):
                offenders.append(
                    f"{path.relative_to(PKG.parent)}:{node.lineno}: "
                    f"{node.value!r}"
                )
    assert not offenders, "\n".join(offenders)
