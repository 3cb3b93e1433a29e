"""The Iceberg table-metadata module: put-if-absent metadata commits,
torn-metadata detection, the manifest-list record rules, and the
guards that keep every other package module from naming or opening
Iceberg metadata files, manifests or manifest lists itself."""

from __future__ import annotations

import ast
import os
import re
import sys
import threading
from pathlib import Path

import pytest

import random_forest_using_hadoop_spark as engine
from random_forest_using_hadoop_spark import iceberg_meta
from random_forest_using_hadoop_spark.iceberg_meta import CommitConflict

PKG = Path(engine.__file__).parent


def _table(tmp_path: Path) -> tuple[str, str]:
    root = str(tmp_path)
    meta_dir = os.path.join(root, "metadata")
    os.makedirs(meta_dir)
    return root, meta_dir


def test_concurrent_commits_of_one_version_exactly_one_wins(tmp_path):
    """Writers racing for the same metadata version (two, then twice as
    many as there are cores; from version 11 on, writers that all
    loaded the same base inside `update`): exactly one publishes, every
    other one gets CommitConflict, the winner's metadata is what loads,
    and no temp file is left behind."""
    root, meta_dir = _table(tmp_path)
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for version in range(1, 16):
            n_writers = 2 if version <= 5 else 2 * (os.cpu_count() or 4)
            barrier = threading.Barrier(n_writers)
            outcome: dict[int, object] = {}

            def writer(i: int) -> None:
                try:
                    if version <= 10:
                        barrier.wait()
                        iceberg_meta.commit(
                            meta_dir, version, {"format-version": 2, "w": i}
                        )
                    else:
                        with iceberg_meta.update(root) as tm:
                            barrier.wait()  # every writer holds one base
                            tm["w"] = i
                    outcome[i] = "won"
                except CommitConflict as e:
                    outcome[i] = e

            # writer ids are unique across versions, so every `update`
            # winner changes the metadata it loaded
            threads = [
                threading.Thread(target=writer, args=(100 * version + i,))
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
            assert iceberg_meta.load(root) == {
                "format-version": 2,
                "w": winners[0],
            }
    finally:
        sys.setswitchinterval(switch)
    assert set(os.listdir(meta_dir)) == {
        os.path.basename(p) for p in iceberg_meta.metadata_files(meta_dir)
    }, "a temp file was left in the metadata directory"
    assert iceberg_meta.list_versions(meta_dir) == list(range(1, 16))


def test_two_writers_of_one_base_conflict_instead_of_losing_a_snapshot(
    tmp_path,
):
    """Two writers load v1 and each add a snapshot. The first commits
    v2; the second, built on v1, must get CommitConflict rather than
    publish v3 and silently drop the first writer's snapshot."""
    root, meta_dir = _table(tmp_path)
    iceberg_meta.commit(
        meta_dir,
        1,
        {
            "format-version": 2,
            "current-snapshot-id": -1,
            "last-sequence-number": 0,
            "snapshots": [],
            "snapshot-log": [],
        },
    )
    first, second = iceberg_meta.update(root), iceberg_meta.update(root)
    tm1, tm2 = first.__enter__(), second.__enter__()
    iceberg_meta.add_snapshot(tm1, 11, 1, 1000, "l11.avro", "append")
    iceberg_meta.add_snapshot(tm2, 22, 1, 2000, "l22.avro", "append")
    first.__exit__(None, None, None)
    with pytest.raises(CommitConflict):
        second.__exit__(None, None, None)
    meta = iceberg_meta.load(root)
    assert iceberg_meta.list_versions(meta_dir) == [1, 2]
    assert [s["snapshot-id"] for s in meta["snapshots"]] == [11]
    assert meta["current-snapshot-id"] == 11


def test_update_commits_nothing_on_error_or_without_a_change(tmp_path):
    """An exception inside `update`, or a block that leaves the
    metadata as loaded, publishes no version."""
    root, meta_dir = _table(tmp_path)
    iceberg_meta.commit(meta_dir, 1, {"format-version": 2, "v": 1})
    with pytest.raises(RuntimeError):
        with iceberg_meta.update(root) as tm:
            tm["v"] = 2
            raise RuntimeError("writer died before its commit")
    with iceberg_meta.update(root) as tm:
        tm["v"] = 1
    assert iceberg_meta.list_versions(meta_dir) == [1]
    with iceberg_meta.update(root) as tm:
        tm["v"] = 2
    assert iceberg_meta.list_versions(meta_dir) == [1, 2]


def test_add_snapshot_moves_only_its_branch():
    """On `main` a snapshot is logged, made current and moves
    `refs.main` when refs exist; on another branch only that branch's
    ref moves (the refs map is created with `main` first); a staged
    snapshot (`branch=None`) is referenced by nothing."""
    def table() -> dict:
        return {
            "current-snapshot-id": 1,
            "last-sequence-number": 1,
            "snapshots": [{"snapshot-id": 1}],
            "snapshot-log": [{"timestamp-ms": 0, "snapshot-id": 1}],
        }

    tm = iceberg_meta.add_snapshot(table(), 2, 2, 10, "l2", "append")
    assert (tm["current-snapshot-id"], len(tm["snapshot-log"])) == (2, 2)
    assert "refs" not in tm

    tm = iceberg_meta.add_snapshot(
        table(), 2, 2, 10, "l2", "append", branch="audit"
    )
    assert (tm["current-snapshot-id"], len(tm["snapshot-log"])) == (1, 1)
    assert tm["last-sequence-number"] == 2
    assert tm["refs"] == {
        "main": {"snapshot-id": 1, "type": "branch"},
        "audit": {"snapshot-id": 2, "type": "branch"},
    }
    iceberg_meta.add_snapshot(tm, 3, 3, 20, "l3", "append")
    assert tm["refs"]["main"] == {"snapshot-id": 3, "type": "branch"}
    assert tm["refs"]["audit"]["snapshot-id"] == 2

    tm = iceberg_meta.add_snapshot(
        table(), 2, 2, 10, "l2", "append", branch=None
    )
    assert [s["snapshot-id"] for s in tm["snapshots"]] == [1, 2]
    assert (tm["current-snapshot-id"], len(tm["snapshot-log"])) == (1, 1)
    assert "refs" not in tm


def test_unserialisable_metadata_leaves_no_file(tmp_path):
    """A commit whose metadata JSON cannot be serialised raises and
    leaves neither a version, a hint nor a temp file."""
    _, meta_dir = _table(tmp_path)
    with pytest.raises(TypeError):
        iceberg_meta.commit(meta_dir, 1, {"x": object()})
    assert os.listdir(meta_dir) == []


def test_torn_metadata_raises_in_load_and_stream(spark, tmp_path):
    """A metadata version cut mid-write must raise — in `load` and in
    the FAILFAST stream — instead of reading as an all-null row whose
    snapshots the consumer silently skips. Files that are not strict
    `v<digits>.metadata.json` versions are never read by the stream."""
    root, meta_dir = _table(tmp_path)
    for v in (1, 2):
        iceberg_meta.commit(
            meta_dir,
            v,
            {
                "format-version": 2,
                "snapshots": [
                    {
                        "snapshot-id": 10 + s,
                        "sequence-number": s,
                        "manifest-list": f"l{s}.avro",
                    }
                    for s in range(1, v + 1)
                ],
            },
        )
    (Path(meta_dir) / "vx.metadata.json").write_text('{"snapsh')
    (Path(meta_dir) / ".v3.metadata.json.0a1b.tmp").write_text('{"snap')

    def _drain(tag: str) -> list:
        rows: list = []
        query = (
            iceberg_meta.stream(spark, meta_dir)
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

    rows = _drain("ckpt_ok")
    assert sorted(
        tuple(
            (s["snapshot-id"], s["sequence-number"], s["manifest-list"])
            for s in r["snapshots"]
        )
        for r in rows
    ) == [((11, 1, "l1.avro"),), ((11, 1, "l1.avro"), (12, 2, "l2.avro"))]

    (Path(meta_dir) / "v3.metadata.json").write_text(
        '{"format-version": 2, "snapshots": [{"snapshot-id": 1'
    )
    with pytest.raises(ValueError, match="v3.metadata.json"):
        iceberg_meta.load(root)
    with pytest.raises(Exception, match="(?i)malformed"):
        _drain("ckpt_torn")


def test_list_record_rules(tmp_path):
    """One manifest-list record per manifest: counts split by entry
    status; a carried manifest keeps the sequence number it was
    committed under (its ADDED/DELETED entries'), an EXISTING-only
    manifest takes the minimum entry sequence number, and an
    entry-less manifest takes the list's. Written records and entries
    read back unchanged through `manifests` and `entries`."""
    meta_dir = str(tmp_path)

    def _entries(*specs: tuple[int, int, int]) -> list[dict]:
        out = []
        for i, (status, seq, n) in enumerate(specs):
            path = os.path.join(meta_dir, f"f{len(specs)}-{i}-{seq}.bin")
            Path(path).write_bytes(b"x" * (i + 1))
            out.append(
                iceberg_meta.entry(status, 7, seq, path, "2-HIGH",
                                   record_count=n)
            )
        return out

    A, E, D = iceberg_meta.ADDED, iceberg_meta.EXISTING, iceberg_meta.DELETED
    cases = [
        # (entries (status, seq, rows), list seq, record seq, counts)
        ([(A, 2, 3), (A, 2, 4), (E, 1, 5), (D, 2, 7)], 2, 2,
         (2, 1, 1, 7, 5, 7)),
        ([(A, 2, 3)], 5, 2, (1, 0, 0, 3, 0, 0)),  # carried into seq 5
        ([(E, 1, 1), (D, 3, 2)], 5, 3, (0, 1, 1, 0, 1, 2)),
        ([(E, 4, 1), (E, 2, 1)], 5, 2, (0, 2, 0, 0, 2, 0)),  # EXISTING-only
        ([], 6, 6, (0, 0, 0, 0, 0, 0)),  # entry-less
    ]
    records = []
    for i, (specs, list_seq, want_seq, counts) in enumerate(cases):
        entries = _entries(*specs)
        path = iceberg_meta.write_manifest(meta_dir, f"m{i}.avro", entries)
        rec = iceberg_meta.list_record(path, entries, 7, list_seq)
        assert rec["sequence_number"] == want_seq, i
        assert rec["min_sequence_number"] == 1
        assert rec["manifest_length"] == os.path.getsize(path)
        assert tuple(
            rec[f"{k}_{u}_count"]
            for u in ("files", "rows")
            for k in ("added", "existing", "deleted")
        ) == counts, i
        assert iceberg_meta.entries(rec) == entries
        records.append(rec)
    listed = iceberg_meta.write_manifest_list(meta_dir, 7, records)
    snapshot = iceberg_meta.snapshot_record(7, 6, 0, listed, "append")
    assert iceberg_meta.manifests(snapshot) == records


# --- guard: the metadata format lives in iceberg_meta.py alone ---------------

_SPELLINGS = (".metadata.json", "version-hint.text")


def _docstrings(tree: ast.AST) -> set[int]:
    """ids of the docstring constants of the module, classes and
    functions — prose, exempt from the guard like comments are."""
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


def _is_meta_path(expr: ast.AST, names: set[str]) -> bool:
    """`expr` names an Iceberg `metadata/` directory or a file under
    one: a known metadata-path variable, `os.path.join(..., "metadata",
    ...)`, or `os.path.join(<metadata path>, ...)`."""
    if isinstance(expr, ast.Name):
        return expr.id in names
    if not (
        isinstance(expr, ast.Call)
        and ast.unparse(expr.func) == "os.path.join"
        and expr.args
    ):
        return False
    return _is_meta_path(expr.args[0], names) or any(
        isinstance(a, ast.Constant) and a.value == "metadata"
        for a in expr.args
    )


def _meta_names(tree: ast.AST) -> set[str]:
    """Variables that hold an Iceberg metadata path."""
    names = {"meta_dir"}
    assigns = [
        (t.id, n.value)
        for n in ast.walk(tree)
        if isinstance(n, ast.Assign)
        for t in n.targets
        if isinstance(t, ast.Name)
    ]
    while True:
        grown = {name for name, v in assigns if _is_meta_path(v, names)}
        if grown <= names:
            return names
        names |= grown


def _json_opens(tree: ast.AST, names: set[str]) -> list[ast.AST]:
    """`open(<metadata path>)` calls whose file object goes through
    `json.load` / `json.dump`: `with open(p) as fh: json.load(fh)` and
    `json.load(open(p))`."""
    def is_open(call: ast.AST) -> bool:
        return (
            isinstance(call, ast.Call)
            and ast.unparse(call.func) == "open"
            and bool(call.args)
            and _is_meta_path(call.args[0], names)
        )

    def json_calls(node: ast.AST):
        for n in ast.walk(node):
            if isinstance(n, ast.Call) and ast.unparse(n.func) in (
                "json.load",
                "json.dump",
            ):
                yield n

    hits = [
        arg
        for call in json_calls(tree)
        for arg in call.args
        if is_open(arg)
    ]
    for node in ast.walk(tree):
        if not isinstance(node, ast.With):
            continue
        for item in node.items:
            if not (is_open(item.context_expr) and item.optional_vars):
                continue
            fh = ast.unparse(item.optional_vars)
            if any(
                ast.unparse(a) == fh
                for n in node.body
                for call in json_calls(n)
                for a in call.args
            ):
                hits.append(item.context_expr)
    return hits


def test_only_iceberg_meta_names_or_opens_metadata_files():
    """No package module other than iceberg_meta.py spells a metadata
    file name or the version hint in code, or opens a file under an
    Iceberg `metadata/` directory for JSON — every commit and metadata
    read goes through the one module."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "iceberg_meta.py":
            continue
        tree = ast.parse(path.read_text())
        rel = path.relative_to(PKG.parent)
        prose = _docstrings(tree)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in prose
                and any(s in node.value for s in _SPELLINGS)
            ):
                offenders.append(f"{rel}:{node.lineno}: {node.value!r}")
        for call in _json_opens(tree, _meta_names(tree)):
            offenders.append(f"{rel}:{call.lineno}: {ast.unparse(call)}")
    assert not offenders, "\n".join(offenders)



# --- guard: manifests and manifest lists live in iceberg_meta.py alone -------

_MANIFEST_SPELLINGS = ("manifest-list", "manifest_path")
_SCHEMA_NAME = re.compile(r"MANIFEST\w*SCHEMA|ENTRY_SCHEMA|entry_schema")


def test_only_iceberg_meta_writes_or_walks_manifests():
    """No package module other than iceberg_meta.py calls the Avro path
    reader `ocf_read`, names a manifest or manifest-list schema, or
    spells `manifest-list` / `manifest_path` in code — every manifest
    write, list-record build, walk and scan plan goes through the one
    module. The executor-side `ocf_read_bytes` / `ocf_write` of Hudi
    logs and Avro sources are not manifests and stay."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "iceberg_meta.py":
            continue
        tree = ast.parse(path.read_text())
        rel = path.relative_to(PKG.parent)
        prose = _docstrings(tree)
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and ast.unparse(node.func).split(
                "."
            )[-1] == "ocf_read":
                offenders.append(f"{rel}:{node.lineno}: ocf_read call")
            names = (
                [node.id] if isinstance(node, ast.Name)
                else [node.attr] if isinstance(node, ast.Attribute)
                else [a.asname or a.name for a in node.names]
                if isinstance(node, (ast.Import, ast.ImportFrom))
                else [node.name] if isinstance(node, ast.FunctionDef)
                else []
            )
            offenders += [
                f"{rel}:{node.lineno}: schema name {n}"
                for n in names
                if _SCHEMA_NAME.search(n)
            ]
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in prose
                and any(s in node.value for s in _MANIFEST_SPELLINGS)
            ):
                offenders.append(f"{rel}:{node.lineno}: {node.value!r}")
    assert not offenders, "\n".join(offenders)
