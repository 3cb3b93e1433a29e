"""Delta-protocol layer unit tests (r10).

The four Delta keys are oracle-graded on CONTENT (per-version rows and
cent totals); these tests pin the MECHANISM — staged commit layout,
dataChange flags, and remove-honoring live-set replay — directly
against the shared staging helpers, so a regression that happens to
preserve totals on the fixture (e.g. compaction marked dataChange:true,
or a replay that unions adds without removes on a corpus where v0 is
empty) still fails.
"""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

import random_forest_using_hadoop_spark as engine
from random_forest_using_hadoop_spark.delta_log import (
    _delta_commit,
    _delta_latest_live_files,
    _delta_live_files,
    _delta_max_version,
    snapshot,
)
from random_forest_using_hadoop_spark.operators.scans import (
    _delta_list_files,
    _delta_stage_history,
    _tmp,
)
from random_forest_using_hadoop_spark.sources import load_table
from tests.conftest import SF_DIR

engine.load_all()  # the CDC test resolves stream_delta_commits by key


def _stage(spark):
    o = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = _tmp(SF_DIR, "delta_unit")
    return root, _delta_stage_history(spark, o, root)


def test_staged_commit_layout_and_datachange_flags(spark):
    root, (v0, v1, v2) = _stage(spark)
    log_dir = os.path.join(root, "_delta_log")
    names = sorted(os.listdir(log_dir))
    assert names == [f"{v:020d}.json" for v in range(3)]
    actions = {}
    for v, name in enumerate(names):
        with open(os.path.join(log_dir, name)) as fh:
            actions[v] = [json.loads(ln) for ln in fh if ln.strip()]
    # v0/v1: append commits — adds only, dataChange true
    for v, adds in ((0, v0), (1, v1)):
        got = [a["add"] for a in actions[v] if "add" in a]
        assert {g["path"] for g in got} == {f"data/{p}" for p in adds}
        assert all(g["dataChange"] is True for g in got)
        assert not [a for a in actions[v] if "remove" in a]
    # v2: compaction — rearrangement only, dataChange FALSE on BOTH
    # action kinds (the protocol signal stream_delta_commits relies on)
    got_add = [a["add"] for a in actions[2] if "add" in a]
    got_rm = [a["remove"] for a in actions[2] if "remove" in a]
    assert {g["path"] for g in got_add} == {f"data/{p}" for p in v2}
    assert {g["path"] for g in got_rm} == {f"data/{p}" for p in v0}
    assert all(g["dataChange"] is False for g in got_add + got_rm)


def _live_by_version(spark, root) -> dict[int, set]:
    live = _delta_live_files(
        spark, os.path.join(root, "_delta_log")
    ).collect()
    by_v: dict[int, set] = {}
    for r in live:
        by_v.setdefault(r["version"], set()).add(r["fname"])
    return by_v


def test_log_replay_live_sets_honor_removes(spark):
    """Replay with the readers' shared helper (_delta_live_files:
    explode version projection + max_by(is_add, u)) and assert the
    per-version live FILE SETS — v2 must drop every v0 file even though
    its content equals v1's, which the value oracles alone cannot
    distinguish from an adds-only union when v0 is empty on a
    degenerate corpus."""
    root, (v0, v1, v2) = _stage(spark)
    by_v = _live_by_version(spark, root)
    assert by_v.get(0, set()) == v0
    assert by_v.get(1, set()) == v0 | v1
    assert by_v.get(2, set()) == v1 | v2, "v2 must drop all v0 files"
    assert not (by_v.get(2, set()) & v0), "removed files leaked into v2"


def test_replay_version_bound_derived_from_log(spark):
    """The replay's version ceiling comes from the log LISTING, not a
    fixture constant (r10 verdict task 2): staging a 4th commit must
    surface version 3 in the replay with its live set — under the old
    `max_v = 2` constant the extra version silently vanished."""
    root, (v0, v1, v2) = _stage(spark)
    log_dir = os.path.join(root, "_delta_log")
    assert _delta_max_version(log_dir) == 2
    # v3: remove the compacted file (arbitrary fourth commit)
    _delta_commit(log_dir, 3, set(), v2)
    assert _delta_max_version(log_dir) == 3
    by_v = _live_by_version(spark, root)
    assert set(by_v) >= {0, 1, 2, 3}, "version 3 must appear in replay"
    assert by_v[3] == v1, "v3 = v2 minus the compacted file"


# --- adversarial staged histories (r10 verdict task 4) -----------------------
#
# The shipped staging exercises one healthy history; these pin the
# degenerate protocol shapes a generic reader must survive: a
# metadata-only empty v0, a remove-everything commit, a checkpoint AT
# the latest version (empty JSON tail), and a multi-file compaction.
# Each is graded through the same oracle shape as the registered keys:
# live-set replay plus a content audit (rows + exact cent totals) of
# the files the replay selects, against totals computed independently
# from the rows staged into each file.


def _write_micro_parquet(path: str, rows) -> None:
    """Write (k, cents) rows as one parquet FILE via pyarrow — no Spark
    job, so staging a multi-commit history costs milliseconds instead
    of one Spark write job per file (the r11 suite-latency fix)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "k": pa.array([r[0] for r in rows], pa.int32()),
                "cents": pa.array([r[1] for r in rows], pa.int64()),
            }
        ),
        path,
    )


def _stage_micro(spark, root, commits):
    """Stage a micro Delta table from a spec list. Each commit is
    (adds, removes, data_change) where adds maps file-tag → list of
    (k, cents) rows; returns {file-tag → basename}."""
    import shutil

    data_dir = os.path.join(root, "data")
    log_dir = os.path.join(root, "_delta_log")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(log_dir, exist_ok=True)
    os.makedirs(data_dir, exist_ok=True)
    names: dict[str, str] = {}
    for v, (adds, removes, data_change) in enumerate(commits):
        add_names = set()
        for tag, rows in adds.items():
            names[tag] = f"{tag}.parquet"
            _write_micro_parquet(os.path.join(data_dir, names[tag]), rows)
            add_names.add(names[tag])
        _delta_commit(
            log_dir,
            v,
            add_names,
            {names[t] for t in removes},
            data_change=data_change,
        )
    return names


def _audit(spark, root, fnames) -> tuple[int, int]:
    """(row count, cent total) over the given live files — the content
    side of the oracle shape the registered delta keys grade."""
    if not fnames:
        return (0, 0)
    df = spark.read.parquet(
        *[os.path.join(root, "data", f) for f in sorted(fnames)]
    )
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("c")
    ).collect()[0]
    return (row["n"], row["c"] or 0)


def test_adversarial_empty_v0(spark):
    """Commit 0 with NO adds (metadata-only table creation): replay
    must emit an empty live set at v0 and only v1's files at v1."""
    root = _tmp(SF_DIR, "delta_adv_empty")
    names = _stage_micro(
        spark,
        root,
        [
            ({}, set(), True),  # v0: no data at all
            ({"a": [(1, 10), (2, 20)]}, set(), True),
        ],
    )
    by_v = _live_by_version(spark, root)
    assert by_v.get(0, set()) == set()
    assert by_v.get(1, set()) == {names["a"]}
    assert _audit(spark, root, by_v.get(0, set())) == (0, 0)
    assert _audit(spark, root, by_v.get(1, set())) == (2, 30)
    assert _delta_latest_live_files(spark, root) == {names["a"]}


def test_adversarial_remove_everything(spark):
    """A commit that removes EVERY live file (full delete): the latest
    snapshot must be empty even though every staged data file still
    exists on disk — a directory-listing reader fails this."""
    root = _tmp(SF_DIR, "delta_adv_rmall")
    names = _stage_micro(
        spark,
        root,
        [
            ({"a": [(1, 10)], "b": [(2, 20)]}, set(), True),
            ({}, {"a", "b"}, True),
        ],
    )
    by_v = _live_by_version(spark, root)
    assert by_v.get(0, set()) == {names["a"], names["b"]}
    assert by_v.get(1, set()) == set(), "remove-everything must empty v1"
    assert _audit(spark, root, by_v.get(1, set())) == (0, 0)
    assert _delta_latest_live_files(spark, root) == set()


def test_adversarial_multifile_compaction(spark):
    """Many-to-many compaction (4 files → 2, dataChange false): the
    post-compaction live set is exactly the 2 rewritten files and the
    content audit is IDENTICAL across the boundary."""
    root = _tmp(SF_DIR, "delta_adv_compact")
    parts = {f"p{i}": [(i, 10 * i)] for i in range(4)}
    names = _stage_micro(
        spark,
        root,
        [
            (parts, set(), True),
            (
                {  # rewrite: same 4 rows repacked into 2 files
                    "c0": [(0, 0), (1, 10)],
                    "c1": [(2, 20), (3, 30)],
                },
                {"p0", "p1", "p2", "p3"},
                False,  # compaction: dataChange false on the commit
            ),
        ],
    )
    by_v = _live_by_version(spark, root)
    assert by_v[0] == {names[f"p{i}"] for i in range(4)}
    assert by_v[1] == {names["c0"], names["c1"]}
    assert _audit(spark, root, by_v[0]) == _audit(spark, root, by_v[1]) == (
        4,
        60,
    ), "compaction must be content-neutral"


def test_adversarial_checkpoint_at_latest_version(spark):
    """_last_checkpoint pointing AT the latest version leaves an EMPTY
    json tail: the bootstrap read must return exactly the checkpoint's
    contents instead of failing on a zero-file read."""
    import json as _json

    root = _tmp(SF_DIR, "delta_adv_ckpt")
    names = _stage_micro(
        spark,
        root,
        [
            ({"a": [(1, 10)], "b": [(2, 20)]}, set(), True),
            ({"c": [(3, 30)]}, {"a"}, True),
        ],
    )
    log_dir = os.path.join(root, "_delta_log")
    live = {names["b"], names["c"]}
    # classic single-FILE checkpoint at v1 (the latest version),
    # written directly via pyarrow (no Spark staging job needed)
    import pyarrow as pa
    import pyarrow.parquet as pq

    ckpt = os.path.join(log_dir, f"{1:020d}.checkpoint.parquet")
    pq.write_table(
        pa.table(
            {
                "add": pa.array(
                    [{"path": f"data/{f}"} for f in sorted(live)],
                    type=pa.struct([("path", pa.string())]),
                )
            }
        ),
        ckpt,
    )
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
        fh.write(_json.dumps({"version": 1}))
    assert os.path.isfile(ckpt), "classic checkpoint must be a single file"
    assert _delta_latest_live_files(spark, root) == live
    # live rows: b=(2,20) + c=(3,30); a's (1,10) was removed at v1
    assert _audit(spark, root, live) == (2, 50)


def _write_ckpt_shard(log_dir, v, part, n_parts, fnames):
    """One `<v>.checkpoint.<part>.<n>.parquet` shard holding add
    actions for `fnames` (pyarrow, no Spark job)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "add": pa.array(
                    [{"path": f"data/{f}"} for f in sorted(fnames)],
                    type=pa.struct([("path", pa.string())]),
                )
            }
        ),
        os.path.join(
            log_dir, f"{v:020d}.checkpoint.{part:010d}.{n_parts:010d}.parquet"
        ),
    )


def test_multipart_classic_checkpoint_bootstrap(spark):
    """MULTI-PART classic checkpoint (`<v>.checkpoint.<i>.<n>.parquet`):
    the bootstrap must union ALL shards (reading one loses live files),
    then apply the post-checkpoint JSON tail on top."""
    import json as _json

    root = _tmp(SF_DIR, "delta_adv_ckpt_multi")
    names = _stage_micro(
        spark,
        root,
        [
            ({"a": [(1, 10)], "b": [(2, 20)], "c": [(3, 30)]}, set(), True),
            ({"d": [(4, 40)]}, {"a"}, True),
        ],
    )
    log_dir = os.path.join(root, "_delta_log")
    live_v1 = {names["b"], names["c"], names["d"]}
    # checkpoint at v1 sharded into 2 parts (parts numbered 1..n)
    _write_ckpt_shard(log_dir, 1, 1, 2, {names["b"], names["c"]})
    _write_ckpt_shard(log_dir, 1, 2, 2, {names["d"]})
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
        fh.write(_json.dumps({"version": 1, "parts": 2}))
    assert _delta_latest_live_files(spark, root) == live_v1
    assert _audit(spark, root, live_v1) == (3, 90)
    # post-checkpoint tail applies on top of the sharded state
    _delta_commit(log_dir, 2, set(), {names["b"]})
    assert _delta_latest_live_files(spark, root) == {names["c"], names["d"]}


def test_multipart_checkpoint_missing_shard_refused(spark):
    """An INCOMPLETE multi-part checkpoint (a shard lost or not yet
    uploaded) must be refused loudly — half-reading it silently drops
    live files from the snapshot."""
    import json as _json

    import pytest

    root = _tmp(SF_DIR, "delta_adv_ckpt_multi_bad")
    names = _stage_micro(
        spark, root, [({"a": [(1, 10)], "b": [(2, 20)]}, set(), True)]
    )
    log_dir = os.path.join(root, "_delta_log")
    # only shard 2-of-3 exists
    _write_ckpt_shard(log_dir, 0, 2, 3, {names["a"]})
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
        fh.write(_json.dumps({"version": 0}))
    with pytest.raises(ValueError, match="missing shards"):
        _delta_latest_live_files(spark, root)
    # declared parts in _last_checkpoint must also agree
    _write_ckpt_shard(log_dir, 0, 1, 3, {names["a"]})
    _write_ckpt_shard(log_dir, 0, 3, 3, {names["b"]})
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
        fh.write(_json.dumps({"version": 0, "parts": 2}))
    with pytest.raises(ValueError, match="parts"):
        _delta_latest_live_files(spark, root)


def test_registered_checkpoint_is_single_file(spark):
    """The src_delta_checkpoint key writes the spec's classic
    checkpoint as ONE parquet file (r10 ADVICE: the Spark-directory
    form could not bootstrap an external reader), and the oracle-shaped
    result still reconciles."""
    from random_forest_using_hadoop_spark.registry import REGISTRY

    out = {
        r["snapshot"]: (r["n_rows"], r["total_cents"])
        for r in REGISTRY["src_delta_checkpoint"].fn(spark, SF_DIR).collect()
    }
    root = _tmp(SF_DIR, "delta_ckpt")
    ckpt = os.path.join(
        root, "_delta_log", "00000000000000000002.checkpoint.parquet"
    )
    assert os.path.isfile(ckpt), "checkpoint must be a single parquet FILE"
    # oracle shape: checkpoint_v2 sees ALL orders, latest_v3 only evens
    assert out["checkpoint_v2"][0] > out["latest_v3"][0] > 0


def test_cdc_emits_datachange_versions_only(spark):
    """End-to-end CDC tail over the staged history: v0/v1 emitted,
    the dataChange:false compaction v2 skipped (the driver oracle
    grades the values; this pins the version set in-suite)."""
    from random_forest_using_hadoop_spark.registry import REGISTRY

    out = REGISTRY["stream_delta_commits"].fn(spark, SF_DIR).collect()
    assert {r["version"] for r in out} == {0, 1}


def test_cdc_batch_stats_constant_jobs(spark):
    """_cdc_version_stats must issue a CONSTANT number of Spark jobs
    however many commit versions one micro-batch carries (r10 verdict
    task 3): a compaction-heavy availableNow replay can deliver many
    versions in ONE batch, and the old per-version read loop issued
    ≥1 sequential job per version. 8 single-file versions here: the
    single read + broadcast action-map join + one grouped agg plans a
    handful of AQE stage jobs (measured ≤5), far under the 8+ the
    loop shape needs."""
    import shutil

    from random_forest_using_hadoop_spark.streaming.ops import (
        _cdc_version_stats,
    )

    import pyarrow as pa
    import pyarrow.parquet as pq

    root = _tmp(SF_DIR, "delta_cdc_jobs")
    data_dir = os.path.join(root, "data")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(data_dir, exist_ok=True)
    n_versions = 8
    acts, expect = [], {}
    for v in range(n_versions):
        fname = f"v{v}.parquet"
        pq.write_table(
            pa.table(
                {
                    "o_orderkey": pa.array([v], pa.int32()),
                    "o_totalprice": pa.array([float(v) + 0.25], pa.float64()),
                }
            ),
            os.path.join(data_dir, fname),
        )
        acts.append({"path": f"data/{fname}", "version": v})
        expect[v] = (1, v * 100 + 25)
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "cdc_stats_test")
    try:
        got = _cdc_version_stats(spark, root, acts)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == expect
    jobs = set(sc.statusTracker().getJobIdsForGroup("cdc_stats_test"))
    assert 0 < len(jobs) < n_versions, (
        f"{len(jobs)} jobs for {n_versions} versions — "
        "per-version job loop regressed"
    )


def test_protocol_gate_accepts_supported_features(spark):
    """A protocol action within our reader surface (version 3 with
    deletionVectors/columnMapping) must pass; absence of any protocol
    action defaults to version 1 and must also pass."""
    from random_forest_using_hadoop_spark.delta_log import (
        _delta_check_protocol,
    )

    root, _ = _stage(spark)
    log_dir = os.path.join(root, "_delta_log")
    _delta_check_protocol(log_dir)  # no protocol action: version-1 table
    with open(os.path.join(log_dir, f"{3:020d}.json"), "w") as fh:
        fh.write(
            json.dumps(
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": [
                            "deletionVectors",
                            "columnMapping",
                        ],
                    }
                }
            )
            + "\n"
        )
    _delta_check_protocol(log_dir)
    assert _live_by_version(spark, root)  # replay still proceeds


def test_protocol_gate_refuses_unimplemented_surface(spark):
    """The spec's forward-compatibility rule: a table demanding an
    unknown reader feature (or a reader version above ours) must be
    REFUSED — half-reading it (e.g. ignoring a future feature)
    silently returns wrong data. The LATEST protocol action wins, so an
    upgrade commit flips an until-then readable table. (typeWidening,
    timestampNtz, and variantType-preview all moved OUT of this test as
    r12 implemented them — a synthetic future feature name stands in,
    which is exactly the shape the rule exists for.)"""
    import pytest

    from random_forest_using_hadoop_spark.delta_log import (
        _delta_check_protocol,
        _delta_live_files,
    )

    root, _ = _stage(spark)
    log_dir = os.path.join(root, "_delta_log")
    with open(os.path.join(log_dir, f"{3:020d}.json"), "w") as fh:
        fh.write(
            json.dumps(
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": ["futureFeature-v9"],
                    }
                }
            )
            + "\n"
        )
    with pytest.raises(ValueError, match="futureFeature-v9"):
        _delta_check_protocol(log_dir)
    with pytest.raises(ValueError, match="futureFeature-v9"):
        _delta_live_files(spark, log_dir)  # the gate guards the reader
    with open(os.path.join(log_dir, f"{4:020d}.json"), "w") as fh:
        fh.write(
            json.dumps({"protocol": {"minReaderVersion": 99}}) + "\n"
        )
    with pytest.raises(ValueError, match="minReaderVersion 99"):
        _delta_check_protocol(log_dir)


def test_txn_retry_writes_no_commit(spark):
    """sink_delta_txn_idempotent's mechanism: after the full history is
    staged (base + two txn batches + one SKIPPED retry), the log must
    hold exactly three commits — a writer that ignored txn state would
    have written a fourth whose content double-applies batch 1. Also
    pins _delta_txn_version's view of the log."""
    from random_forest_using_hadoop_spark.operators.delta_ext import (
        _delta_txn_version,
    )
    from random_forest_using_hadoop_spark.registry import REGISTRY

    REGISTRY["sink_delta_txn_idempotent"].fn(spark, SF_DIR).collect()
    log_dir = os.path.join(_tmp(SF_DIR, "delta_txn"), "_delta_log")
    commits = [f for f in os.listdir(log_dir) if f.endswith(".json")]
    assert sorted(commits) == [f"{v:020d}.json" for v in range(3)], (
        f"retry wrote an extra commit: {sorted(commits)}"
    )
    assert _delta_txn_version(log_dir, "stream-app-1") == 2
    assert _delta_txn_version(log_dir, "other-app") == -1


def test_timestamp_resolution_rule(spark):
    """Time-travel resolution per spec: latest commit mtime ≤ request;
    a request before the first commit has no table state and raises."""
    import pytest

    from random_forest_using_hadoop_spark.operators.delta_ext import (
        _delta_resolve_timestamp,
    )
    from random_forest_using_hadoop_spark.registry import REGISTRY

    REGISTRY["src_delta_time_travel_ts"].fn(spark, SF_DIR).collect()
    log_dir = os.path.join(_tmp(SF_DIR, "delta_tt"), "_delta_log")
    base = 1_000_000_000
    assert _delta_resolve_timestamp(log_dir, base) == 0  # exact boundary
    assert _delta_resolve_timestamp(log_dir, base + 99) == 0
    assert _delta_resolve_timestamp(log_dir, base + 150) == 1
    assert _delta_resolve_timestamp(log_dir, base + 10_000) == 2
    with pytest.raises(ValueError, match="did not exist"):
        _delta_resolve_timestamp(log_dir, base - 1)


def test_adversarial_v2_checkpoint_at_latest_version(spark):
    """V2-checkpoint bootstrap through the shared reader: a manifest +
    two sidecar shards AT the latest version (empty JSON tail) must
    reconstruct exactly the sidecars' union — reading only the manifest
    or only one shard loses files."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    root = _tmp(SF_DIR, "delta_adv_ckpt_v2")
    names = _stage_micro(
        spark,
        root,
        [
            ({"a": [(1, 10)], "b": [(2, 20)], "c": [(3, 30)]}, set(), True),
            ({"d": [(4, 40)]}, {"a"}, True),
        ],
    )
    live = {names["b"], names["c"], names["d"]}
    log_dir = os.path.join(root, "_delta_log")
    side_dir = os.path.join(log_dir, "_sidecars")
    os.makedirs(side_dir, exist_ok=True)
    add_type = pa.struct([("path", pa.string())])
    shards = [sorted(live)[0::2], sorted(live)[1::2]]
    for i, shard in enumerate(shards):
        pq.write_table(
            pa.table(
                {
                    "add": pa.array(
                        [{"path": f"data/{f}"} for f in shard], add_type
                    )
                }
            ),
            os.path.join(side_dir, f"shard-{i:05d}.parquet"),
        )
    pq.write_table(
        pa.table(
            {
                "sidecar": pa.array(
                    [{"path": f"shard-{i:05d}.parquet"} for i in range(2)],
                    pa.struct([("path", pa.string())]),
                )
            }
        ),
        os.path.join(log_dir, "00000000000000000001.checkpoint.adv01.parquet"),
    )
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
        fh.write(_json.dumps({"version": 1}))
    assert _delta_latest_live_files(spark, root) == live
    assert _audit(spark, root, live) == (3, 90)


def test_vacuum_respects_retention_and_liveness(spark):
    """VACUUM file mechanics on a micro table: (1) live files are never
    candidates regardless of retention; (2) tombstones younger than the
    window survive; (3) old tombstones (and legacy tombstones with no
    deletionTimestamp) are deleted; (4) the latest snapshot reads
    identically before and after."""
    from random_forest_using_hadoop_spark.operators.delta_ext import (
        _delta_vacuum,
    )

    now = 1_700_000_000.0
    root = _tmp(SF_DIR, "delta_adv_vacuum")
    names = _stage_micro(
        spark,
        root,
        [
            ({"a": [(1, 10)], "b": [(2, 20)]}, set(), True),
            ({"c": [(3, 30)]}, {"a"}, True),  # remove a (no timestamp)
        ],
    )
    log_dir = os.path.join(root, "_delta_log")
    # v2: remove b with a YOUNG tombstone (1 h old)
    _delta_commit(
        log_dir,
        2,
        set(),
        {names["b"]},
        remove_ts_ms=int((now - 3600) * 1000),
    )
    live = {names["c"]}
    before = _audit(spark, root, live)
    # 7-day retention: only the legacy (timestamp-less) tombstone goes
    deleted = _delta_vacuum(spark, root, retention_s=7 * 86400, now_s=now)
    assert deleted == [names["a"]]
    assert os.path.exists(os.path.join(root, "data", names["b"]))
    # zero retention: the young tombstone goes too; live file survives
    deleted = _delta_vacuum(spark, root, retention_s=0, now_s=now)
    assert deleted == [names["b"]]
    assert os.path.exists(os.path.join(root, "data", names["c"]))
    assert _audit(spark, root, live) == before == (1, 30)


def test_vacuum_untracked_files_age_by_mtime(spark):
    """A data file with NO remove action anywhere (untracked — e.g. an
    in-flight writer's uncommitted output) must be aged by modification
    time, not treated as anciently removed: a FRESH untracked file
    survives a retention-window vacuum; one older than the window is
    debris and goes."""
    import shutil

    from random_forest_using_hadoop_spark.operators.delta_ext import (
        _delta_vacuum,
    )

    now = 1_700_000_000.0
    root = _tmp(SF_DIR, "delta_adv_vacuum_untracked")
    names = _stage_micro(spark, root, [({"a": [(1, 10)]}, set(), True)])
    data_dir = os.path.join(root, "data")
    fresh = os.path.join(data_dir, "part-inflight-fresh.parquet")
    stale = os.path.join(data_dir, "part-abandoned-stale.parquet")
    shutil.copy(os.path.join(data_dir, names["a"]), fresh)
    shutil.copy(os.path.join(data_dir, names["a"]), stale)
    os.utime(fresh, (now - 3600, now - 3600))  # 1 h old: in-flight
    os.utime(stale, (now - 8 * 86400, now - 8 * 86400))  # 8 d: debris
    deleted = _delta_vacuum(spark, root, retention_s=7 * 86400, now_s=now)
    assert deleted == [os.path.basename(stale)]
    assert os.path.exists(fresh)
    assert os.path.exists(os.path.join(data_dir, names["a"]))  # live


def test_in_commit_timestamp_overrides_mtime(spark):
    """Time-travel resolution must prefer commitInfo.inCommitTimestamp
    over file mtime when present (the inCommitTimestamp feature exists
    because mtimes break under log re-upload/clock skew): a commit
    whose mtime says 'early' but whose ICT says 'late' must resolve as
    LATE."""
    from random_forest_using_hadoop_spark.operators.delta_ext import (
        _delta_commit_time,
        _delta_resolve_timestamp,
    )

    root = _tmp(SF_DIR, "delta_adv_ict")
    names = _stage_micro(
        spark,
        root,
        [
            ({"a": [(1, 10)]}, set(), True),
            ({"b": [(2, 20)]}, set(), True),
        ],
    )
    del names
    log_dir = os.path.join(root, "_delta_log")
    base = 2_000_000_000
    # v0: mtime-only commit at base
    os.utime(os.path.join(log_dir, f"{0:020d}.json"), (base, base))
    # v1: mtime claims base+10 (e.g. a re-uploaded log file), but the
    # commit carries ICT = base+1000 — ICT must win
    v1 = os.path.join(log_dir, f"{1:020d}.json")
    lines = open(v1).read().splitlines()
    lines[0] = json.dumps(
        {
            "commitInfo": {
                "operation": "WRITE",
                "inCommitTimestamp": (base + 1000) * 1000,
            }
        }
    )
    with open(v1, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.utime(v1, (base + 10, base + 10))
    assert _delta_commit_time(log_dir, 0) == base
    assert _delta_commit_time(log_dir, 1) == base + 1000
    # a request between the fake mtime and the true ICT sees only v0
    assert _delta_resolve_timestamp(log_dir, base + 500) == 0
    assert _delta_resolve_timestamp(log_dir, base + 1000) == 1


def test_clustering_domain_discovery_and_tombstone(tmp_path):
    """delta.clustering domainMetadata: later commits supersede, and a
    removed:true tombstone un-clusters the table (empty column list —
    the reader then plans without skipping instead of mis-skipping)."""
    import json
    import os

    from random_forest_using_hadoop_spark.operators.delta_ext import (
        _delta_clustering_columns,
    )

    log_dir = str(tmp_path / "_delta_log")
    os.makedirs(log_dir)

    def _commit(v: int, lines: list[dict]) -> None:
        with open(os.path.join(log_dir, f"{v:020d}.json"), "w") as fh:
            fh.write("\n".join(json.dumps(x) for x in lines) + "\n")

    dm = lambda cols, removed=False: {  # noqa: E731
        "domainMetadata": {
            "domain": "delta.clustering",
            "configuration": json.dumps({"clusteringColumns": cols}),
            "removed": removed,
        }
    }
    _commit(0, [dm([["o_custkey"]])])
    assert _delta_clustering_columns(log_dir) == ["o_custkey"]
    # re-cluster on a different (nested-name) key: later commit wins
    _commit(1, [dm([["event", "ts"]])])
    assert _delta_clustering_columns(log_dir) == ["event.ts"]
    # tombstone: clustering removed
    _commit(2, [dm([], removed=True)])
    assert _delta_clustering_columns(log_dir) == []
    # an unrelated domain never masquerades as clustering
    _commit(
        3,
        [
            {
                "domainMetadata": {
                    "domain": "custom.app",
                    "configuration": "{}",
                    "removed": False,
                }
            }
        ],
    )
    assert _delta_clustering_columns(log_dir) == []


# --- r14: DELETE via deletion-vector WRITE path --------------------------------


def _file_digests(data_dir):
    import hashlib

    out = {}
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            with open(os.path.join(data_dir, f), "rb") as fh:
                out[f] = hashlib.md5(fh.read()).hexdigest()
    return out


def test_dv_delete_leaves_data_files_byte_identical(spark):
    """The whole point of the DV write path: a DELETE commits a
    deletion vector against the UNTOUCHED file. Both deletes of the
    graded key must leave every data parquet byte-identical to its
    pre-delete state — a rewrite (the replaceWhere shape) here means
    the sink silently fell back to O(file) cost."""
    from random_forest_using_hadoop_spark.operators.lake_r14 import (
        _delta_delete_to_dv,
    )

    o = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = _tmp(SF_DIR, "delta_dv_write_unit")
    data_dir = os.path.join(root, "data")
    log_dir = os.path.join(root, "_delta_log")
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(log_dir)
    o.coalesce(2).write.mode("append").parquet(data_dir)
    with open(os.path.join(log_dir, f"{0:020d}.json"), "w") as fh:
        fh.write(
            "\n".join(
                json.dumps({"add": {"path": f"data/{p}", "dataChange": True}})
                for p in sorted(_delta_list_files(data_dir))
            )
            + "\n"
        )
    before = _file_digests(data_dir)
    v1 = _delta_delete_to_dv(spark, root, F.col("o_orderkey") % 10 == 7)
    v2 = _delta_delete_to_dv(spark, root, F.col("o_orderkey") % 10 == 4)
    assert (v1, v2) == (1, 2)
    assert _file_digests(data_dir) == before, (
        "DELETE rewrote a data file instead of emitting a DV"
    )
    # live snapshot: every file carries a DV whose cardinality equals
    # the file's matching rows for BOTH predicates (merge rule)
    live = {
        p: a.get("deletionVector") for p, a in snapshot(log_dir).live.items()
    }
    assert set(live) == {f"data/{p}" for p in before}
    total_card = sum(dv["cardinality"] for dv in live.values() if dv)
    expected = (
        load_table(spark, SF_DIR, "orders")
        .filter((F.col("o_orderkey") % 10).isin(7, 4))
        .count()
    )
    assert total_card == expected


def test_dv_delete_merge_is_union_not_replace(spark):
    """Second DELETE on the same file must UNION positions with the
    existing DV (and never re-delete an already-dead row): deleting the
    same predicate twice is a no-op commit, and two disjoint deletes
    accumulate."""
    from random_forest_using_hadoop_spark.delta_format import dv_read
    from random_forest_using_hadoop_spark.operators.lake_r14 import (
        _delta_delete_to_dv,
    )

    o = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = _tmp(SF_DIR, "delta_dv_merge_unit")
    data_dir = os.path.join(root, "data")
    log_dir = os.path.join(root, "_delta_log")
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(log_dir)
    o.coalesce(1).write.mode("append").parquet(data_dir)
    (fname,) = _delta_list_files(data_dir)
    with open(os.path.join(log_dir, f"{0:020d}.json"), "w") as fh:
        fh.write(
            json.dumps({"add": {"path": f"data/{fname}", "dataChange": True}})
            + "\n"
        )
    _delta_delete_to_dv(spark, root, F.col("o_orderkey") % 10 == 7)
    pos_first = set(
        dv_read(
            snapshot(log_dir).live[f"data/{fname}"]["deletionVector"], root
        )
    )
    # repeat delete: zero new matches → NO new commit version
    v = _delta_delete_to_dv(spark, root, F.col("o_orderkey") % 10 == 7)
    assert v == 1, "idempotent re-delete must not commit"
    # disjoint second delete: union grows, superset of the first
    _delta_delete_to_dv(spark, root, F.col("o_orderkey") % 10 == 4)
    pos_both = set(
        dv_read(
            snapshot(log_dir).live[f"data/{fname}"]["deletionVector"], root
        )
    )
    assert pos_first < pos_both
    n7 = o.filter(F.col("o_orderkey") % 10 == 7).count()
    n74 = o.filter((F.col("o_orderkey") % 10).isin(7, 4)).count()
    assert (len(pos_first), len(pos_both)) == (n7, n74)


def test_stats_skipping_keeps_files_with_partial_stats(spark, tmp_path):
    """A file whose add.stats JSON parses but lacks min/max for the
    probed column must be KEPT (r13 advice finding): real writers stat
    only the first N columns, so a null bound means 'unknown', and the
    tri-valued overlap predicate would otherwise evaluate to NULL and
    silently prune a live file."""
    from random_forest_using_hadoop_spark.operators.delta_ext import (
        _stats_surviving_files,
        _stats_surviving_files_for,
    )

    log_dir = str(tmp_path / "_delta_log")
    os.makedirs(log_dir)
    adds = [
        # (path, stats json): a disjoint-range file (prunable), an
        # overlapping file, a stats-less file, and the hazard cases —
        # stats present but bounds missing for the probed column,
        # entirely or one-sided
        ("data/disjoint.parquet",
         '{"numRecords":10,"minValues":{"o_orderkey":1000},'
         '"maxValues":{"o_orderkey":2000}}'),
        ("data/overlap.parquet",
         '{"numRecords":10,"minValues":{"o_orderkey":1},'
         '"maxValues":{"o_orderkey":50}}'),
        ("data/nostats.parquet", None),
        ("data/othercols.parquet",
         '{"numRecords":10,"minValues":{"o_custkey":7},'
         '"maxValues":{"o_custkey":9}}'),
        ("data/onesided.parquet",
         '{"numRecords":10,"minValues":{"o_orderkey":1},'
         '"maxValues":{}}'),
    ]
    with open(os.path.join(log_dir, f"{0:020d}.json"), "w") as fh:
        for path, stats in adds:
            act = {"add": {"path": path, "dataChange": True}}
            if stats is not None:
                act["add"]["stats"] = stats
            fh.write(json.dumps(act) + "\n")
    expected = sorted(
        p for p, _ in adds if p != "data/disjoint.parquet"
    )
    assert _stats_surviving_files(spark, log_dir, 1, 100) == expected
    assert (
        _stats_surviving_files_for(spark, log_dir, "o_orderkey", 1, 100)
        == expected
    )


def test_restore_is_metadata_only_and_reversible(spark):
    """sink_delta_restore's contract: the restore commit touches ZERO
    data bytes (every parquet under data/ byte-identical across the
    restore), flips the live set to EXACTLY the target version's, and
    leaves the rolled-back version time-travel-readable."""
    import hashlib

    from random_forest_using_hadoop_spark.delta_log import _delta_live_files

    o = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = _tmp(SF_DIR, "delta_restore_unit")
    log_dir = os.path.join(root, "_delta_log")
    data_dir = os.path.join(root, "data")
    _delta_stage_history(spark, o, root)

    def _digests():
        return {
            f: hashlib.md5(
                open(os.path.join(data_dir, f), "rb").read()
            ).hexdigest()
            for f in sorted(os.listdir(data_dir))
            if f.endswith(".parquet")
        }

    def _by_v():
        out: dict[int, set] = {}
        for r in _delta_live_files(spark, log_dir).collect():
            out.setdefault(r["version"], set()).add(r["fname"])
        return out

    before = _digests()
    by_v = _by_v()
    target, current = by_v[1], by_v[2]
    # the key's restore diff, applied in place
    _delta_commit(log_dir, 3, target - current, current - target)
    assert _digests() == before, "restore wrote or rewrote data bytes"
    by_v = _by_v()
    assert by_v[3] == by_v[1], "restore must reproduce v1's live set"
    assert by_v[2] != by_v[1], "v2 (the undone compaction) still readable"


def test_shallow_clone_copies_no_data(spark):
    """sink_delta_clone's contract: the clone commit is pure metadata —
    its v0 adds reference the SOURCE's files by absolute path, the
    clone's data directory holds ONLY its own v1 append, and the
    source's log gains no version from the clone's lifecycle."""
    from random_forest_using_hadoop_spark.delta_log import _delta_max_version

    engine.REGISTRY["sink_delta_clone"].fn(spark, SF_DIR).collect()
    src_root = _tmp(SF_DIR, "delta_clone_src")
    clone_root = _tmp(SF_DIR, "delta_clone")
    v0_adds = []
    with open(
        os.path.join(clone_root, "_delta_log", f"{0:020d}.json")
    ) as fh:
        for line in fh:
            add = json.loads(line).get("add")
            if add:
                v0_adds.append(add["path"])
    assert v0_adds and all(
        os.path.isabs(p) and p.startswith(src_root) for p in v0_adds
    ), v0_adds
    clone_files = _delta_list_files(os.path.join(clone_root, "data"))
    assert len(clone_files) == 1, (
        f"clone data dir must hold only its own append: {clone_files}"
    )
    assert _delta_max_version(os.path.join(src_root, "_delta_log")) == 2


def test_dv_delete_build_is_distributed_and_wide(spark):
    """r14 verdict hardening: the DV build must never materialize
    deleted-row positions on the driver — a 100 TB DELETE collects
    O(touched-files) descriptors, not O(deleted rows) tuples. Gates:
    (a) source: exactly ONE .collect() in _delta_delete_to_dv and it
    returns the per-file descriptor rows of the applyInPandas
    aggregation; (b) behavior at width: 16 files / 250k rows / 125k
    matched positions commit 16 remove+add pairs, one DV FILE per
    touched data file (written by the executor that built it), and the
    DV-applied read-back equals the predicate complement."""
    import inspect
    import shutil

    from random_forest_using_hadoop_spark.delta_format import (
        dv_read,
        dv_resolve_path,
    )
    from random_forest_using_hadoop_spark.operators.lake_r14 import (
        _delta_delete_to_dv,
    )

    src = inspect.getsource(_delta_delete_to_dv)
    assert src.count(".collect()") == 1, (
        "positions must stay executor-side; only the descriptor "
        "aggregation may collect"
    )
    assert src.index("applyInPandas") < src.index(".collect()")

    root = _tmp(SF_DIR, "delta_dv_wide_unit")
    data_dir = os.path.join(root, "data")
    log_dir = os.path.join(root, "_delta_log")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(log_dir)
    spark.range(250_000).select(
        F.col("id").alias("o_orderkey"),
        (F.col("id") % 1000).cast("double").alias("o_totalprice"),
    ).repartition(16).write.mode("append").parquet(data_dir)
    files = sorted(_delta_list_files(data_dir))
    assert len(files) == 16
    with open(os.path.join(log_dir, f"{0:020d}.json"), "w") as fh:
        fh.write(
            "\n".join(
                json.dumps({"add": {"path": f"data/{p}", "dataChange": True}})
                for p in files
            )
            + "\n"
        )
    v = _delta_delete_to_dv(spark, root, F.col("o_orderkey") % 2 == 0)
    assert v == 1
    live = {
        p: a.get("deletionVector") for p, a in snapshot(log_dir).live.items()
    }
    descs = {p: dv for p, dv in live.items() if dv}
    assert len(descs) == 16, "every file holds evens → every file touched"
    # one DV file per touched data file, each written where its group ran
    dv_paths = {dv_resolve_path(dv, root) for dv in descs.values()}
    assert len(dv_paths) == 16
    assert all(os.path.exists(p) for p in dv_paths)
    assert sum(dv["cardinality"] for dv in descs.values()) == 125_000
    # read-back through the DV contract equals the predicate complement
    del_rows = [
        (os.path.join(root, rel), pos)
        for rel, dv in descs.items()
        for pos in dv_read(dv, root)
    ]
    from random_forest_using_hadoop_spark.operators.scans import (
        _norm_file_uri,
    )

    data = spark.read.parquet(
        *sorted(os.path.join(root, p) for p in live)
    ).select(
        "o_orderkey",
        _norm_file_uri(F.input_file_name()).alias("_fp"),
        F.col("_metadata.row_index").alias("_pos"),
    )
    dv_frame = spark.createDataFrame(del_rows, "_fp string, _pos long")
    kept = data.join(F.broadcast(dv_frame), ["_fp", "_pos"], "left_anti")
    assert kept.count() == 125_000
    assert kept.filter(F.col("o_orderkey") % 2 == 0).count() == 0


def test_check_constraint_writer_gate(spark):
    """Writer-side enforcement semantics (PROTOCOL.md §CHECK
    Constraints / §Generated Columns): a violating batch leaves the
    log UNCHANGED; NULL passes a CHECK (SQL tri-valued rule — only
    FALSE violates); a table demanding an unimplemented writer
    feature is refused outright; a supplied generated column that
    agrees with its expression is accepted."""
    from random_forest_using_hadoop_spark.operators.lake_r15 import (
        DeltaWriteRejected,
        _stage_constrained_table,
        delta_constrained_append,
    )

    root = _tmp(SF_DIR, "delta_check_unit")
    log_dir = _stage_constrained_table(root)
    sch = (
        "o_orderkey long, o_totalprice double, o_orderpriority string"
    )

    def _log_files():
        return sorted(
            f for f in os.listdir(log_dir) if f.endswith(".json")
        )

    before = _log_files()
    with pytest.raises(DeltaWriteRejected, match="price_range"):
        delta_constrained_append(
            spark, root, spark.createDataFrame([(1, -1.0, "X")], sch)
        )
    assert _log_files() == before, "rejected batch must not commit"
    # NULL price: CHECK evaluates NULL → passes (key_present holds)
    v = delta_constrained_append(
        spark, root, spark.createDataFrame([(1, None, "X")], sch)
    )
    assert v == 1
    # supplied generated column that AGREES is accepted
    v = delta_constrained_append(
        spark,
        root,
        spark.createDataFrame(
            [(2, 10.0, "X", 1000)],
            sch + ", price_cents long",
        ),
    )
    assert v == 2
    # unimplemented writer feature → refuse before any validation
    with open(os.path.join(log_dir, f"{3:020d}.json"), "w") as fh:
        fh.write(
            json.dumps(
                {
                    "protocol": {
                        "minReaderVersion": 1,
                        "minWriterVersion": 7,
                        "writerFeatures": [
                            "checkConstraints",
                            "identityColumns",
                        ],
                    }
                }
            )
            + "\n"
        )
    with pytest.raises(DeltaWriteRejected, match="identityColumns"):
        delta_constrained_append(
            spark, root, spark.createDataFrame([(3, 1.0, "X")], sch)
        )


def test_checkpoint_writer_multipart_contract(spark):
    """delta_write_checkpoint's contract: shards follow the spec's
    `<v>.checkpoint.<i>.<n>.parquet` naming with `parts` recorded in
    _last_checkpoint; the state rows carry protocol + metaData
    alongside the adds; deleting one shard makes the completeness
    validator REFUSE the read (never a silent partial snapshot); and
    the writer never collects state (executor-written shards,
    driver-side renames only)."""
    import inspect

    from random_forest_using_hadoop_spark.operators.lake_r15 import (
        delta_write_checkpoint,
    )
    from random_forest_using_hadoop_spark.delta_log import (
        _delta_latest_live_files,
    )

    assert ".collect()" not in inspect.getsource(delta_write_checkpoint)

    engine.REGISTRY["sink_delta_checkpoint_write"].fn(spark, SF_DIR).collect()
    root = _tmp(SF_DIR, "delta_ckpt_write")
    log_dir = os.path.join(root, "_delta_log")
    with open(os.path.join(log_dir, "_last_checkpoint")) as fh:
        lc = json.load(fh)
    assert lc["parts"] == 2 and lc["version"] == 2
    shards = sorted(
        f for f in os.listdir(log_dir) if ".checkpoint." in f
    )
    assert shards == [
        f"{2:020d}.checkpoint.{1:010d}.{2:010d}.parquet",
        f"{2:020d}.checkpoint.{2:010d}.{2:010d}.parquet",
    ]
    # state carries protocol + metaData rows alongside adds
    both = spark.read.parquet(*(os.path.join(log_dir, s) for s in shards))
    assert both.filter(F.col("protocol").isNotNull()).count() == 1
    assert both.filter(F.col("metaData").isNotNull()).count() == 1
    assert lc["size"] == both.count()
    # a missing shard must refuse, not half-read
    os.remove(os.path.join(log_dir, shards[1]))
    with pytest.raises(ValueError, match="missing shards"):
        _delta_latest_live_files(spark, root)


def test_merge_schema_append_refuses_type_change(spark):
    """delta_append_merge_schema auto-merges ONLY additive changes: a
    batch that re-types an existing column must be refused before any
    data lands, and the graded key's own staging leaves the log with
    exactly one metaData action per schema change (v0 create + v1
    evolution; the v2 schema-stable append carries none)."""
    from random_forest_using_hadoop_spark.operators.lake_r15b import (
        delta_append_merge_schema,
    )

    engine.REGISTRY["sink_delta_schema_evolution"].fn(spark, SF_DIR).collect()
    root = _tmp(SF_DIR, "delta_schema_evo")
    log_dir = os.path.join(root, "_delta_log")
    bad = spark.range(3).select(
        F.col("id").alias("o_orderkey"),
        F.lit("oops").alias("o_totalprice"),  # double → string re-type
    )
    n_before = len(_delta_list_files(os.path.join(root, "data")))
    with pytest.raises(ValueError, match="cannot change column"):
        delta_append_merge_schema(bad, root, 3)
    assert len(_delta_list_files(os.path.join(root, "data"))) == n_before
    meta_actions = []
    for f in sorted(os.listdir(log_dir)):
        if f.endswith(".json") and f.split(".", 1)[0].isdigit():
            with open(os.path.join(log_dir, f)) as fh:
                meta_actions += [
                    f
                    for ln in fh
                    if ln.strip() and "metaData" in json.loads(ln)
                ]
    assert meta_actions == [f"{0:020d}.json", f"{1:020d}.json"]


def test_in_commit_timestamp_beats_adversarial_mtime(spark):
    """The ICT fixture's commits carry commitInfo.inCommitTimestamp
    with REVERSED file mtimes; _delta_commit_time must return the ICT
    (epoch ms / 1000) — not the mtime — and the protocol action must
    demand minWriterVersion 7 with the inCommitTimestamp writer
    feature while the reader version stays 1 (ICT is writer-only)."""
    from random_forest_using_hadoop_spark.operators.delta_ext import (
        _delta_commit_time,
    )

    engine.REGISTRY["src_delta_in_commit_timestamp"].fn(
        spark, SF_DIR
    ).collect()
    root = _tmp(SF_DIR, "delta_ict")
    log_dir = os.path.join(root, "_delta_log")
    t0 = _delta_commit_time(log_dir, 0)
    t2 = _delta_commit_time(log_dir, 2)
    assert t0 == 1_700_000_000_000 / 1000.0
    assert t2 == (1_700_000_000_000 + 400_000) / 1000.0
    # mtimes are reversed: commit 0's file is NEWER than commit 2's
    m0 = os.path.getmtime(os.path.join(log_dir, f"{0:020d}.json"))
    m2 = os.path.getmtime(os.path.join(log_dir, f"{2:020d}.json"))
    assert m0 > m2
    with open(os.path.join(log_dir, f"{0:020d}.json")) as fh:
        acts = [json.loads(ln) for ln in fh if ln.strip()]
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    assert proto["minReaderVersion"] == 1
    assert proto["minWriterVersion"] == 7
    assert proto["writerFeatures"] == ["inCommitTimestamp"]


def test_rename_column_refusals(spark):
    """delta_rename_column must refuse: a missing source column, a
    logical-name collision, and any table NOT in columnMapping.mode =
    name (without the mapping, a rename orphans the files' columns)."""
    from random_forest_using_hadoop_spark.operators.lake_r15b import (
        delta_rename_column,
    )

    engine.REGISTRY["sink_delta_column_mapping_rename"].fn(
        spark, SF_DIR
    ).collect()
    root = _tmp(SF_DIR, "delta_cmap_rename")
    with pytest.raises(ValueError, match="no such column"):
        delta_rename_column(root, "nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        delta_rename_column(root, "price", "o_orderkey")
    # a table with metaData but NO column mapping refuses outright
    engine.REGISTRY["sink_delta_schema_evolution"].fn(spark, SF_DIR).collect()
    unmapped = _tmp(SF_DIR, "delta_schema_evo")
    with pytest.raises(ValueError, match="columnMapping.mode"):
        delta_rename_column(unmapped, "o_orderkey", "k")
    # and a log with no metaData action at all is not a table
    plain = _tmp(SF_DIR, "delta_unit")
    _stage(spark)
    with pytest.raises(ValueError, match="no metaData"):
        delta_rename_column(plain, "o_orderkey", "k")
