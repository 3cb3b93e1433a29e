"""Iceberg v2 reader semantics on the staged fixture (iceberg_ext.py):
snapshot self-containment, entry-status handling, time-travel
resolution rules, version-hint discovery + fallback, format-version
gate, and metadata-only pruning. Uses the sf0.001 fixture (cheap) —
the DuckDB value grading happens through the registry keys."""

from __future__ import annotations

import json
import os

import pytest

import random_forest_using_hadoop_spark as engine  # noqa: F401  (registry)
from random_forest_using_hadoop_spark import iceberg_meta
from random_forest_using_hadoop_spark.operators.iceberg_ext import (
    _iceberg_snapshot,
    _iceberg_stage,
    _S1,
    _S2,
    _S3,
    _T1,
    _T2,
    _T3,
)
from random_forest_using_hadoop_spark.operators.scans import _tmp
from random_forest_using_hadoop_spark.sources import load_table
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def staged(spark):
    from pyspark.sql import functions as F  # noqa: F401

    root = _tmp(SF_DIR, "iceberg_proto_test")
    o = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    _iceberg_stage(spark, o, root)
    return root, iceberg_meta.load(root)


def test_version_hint_and_fallback(staged):
    root, meta = staged
    assert meta["current-snapshot-id"] == _S3
    assert len(meta["snapshots"]) == 3
    # fallback path: remove the hint → highest vN.metadata.json wins;
    # so does a torn (empty) or garbage hint, and a stale hint is
    # walked forward to the last committed version
    hint = os.path.join(root, "metadata", "version-hint.text")
    os.rename(hint, hint + ".bak")
    try:
        again = iceberg_meta.load(root)
        assert again["current-snapshot-id"] == _S3
        for text in ("", "\n", "v3", "garbage"):
            with open(hint, "w") as fh:
                fh.write(text)
            assert iceberg_meta.load(root)["current-snapshot-id"] == _S3
        with open(hint, "w") as fh:
            fh.write("1")
        assert iceberg_meta.load(root)["current-snapshot-id"] == _S3
    finally:
        os.replace(hint + ".bak", hint)


def test_snapshot_self_containment(staged):
    """Each snapshot's manifest list is the COMPLETE state: s1 = evens
    only, s2 = both parities, s3 drops the 1-URGENT partition even
    though its files still exist on disk."""
    root, meta = staged
    f1, f2, f3 = (
        iceberg_meta.plan(_iceberg_snapshot(meta, snapshot_id=sid))[0]
        for sid in (_S1, _S2, _S3)
    )
    assert {d["path"] for d in f1} < {d["path"] for d in f2}
    assert all("/s1/" in d["path"] for d in f1)
    vals3 = {d["pval"] for d in f3}
    assert "1-URGENT" not in vals3
    # the deleted partition's files are still on disk (no vacuum ran)
    gone = [d["path"] for d in f2 if d["pval"] == "1-URGENT"]
    assert gone and all(os.path.exists(p) for p in gone)
    # record counts in manifests match the snapshot algebra
    assert sum(d["n"] for d in f3) == sum(
        d["n"] for d in f2 if d["pval"] != "1-URGENT"
    )


def test_time_travel_resolution_rules(staged):
    _, meta = staged
    # between s1 and s2 → s1; exactly at s2 → s2; after s3 → s3
    assert _iceberg_snapshot(meta, as_of_ms=_T1 + 1)["snapshot-id"] == _S1
    assert _iceberg_snapshot(meta, as_of_ms=_T2)["snapshot-id"] == _S2
    assert _iceberg_snapshot(meta, as_of_ms=_T3 + 10**9)["snapshot-id"] == _S3
    with pytest.raises(ValueError, match="no snapshot"):
        _iceberg_snapshot(meta, as_of_ms=_T1 - 1)
    with pytest.raises(ValueError, match="unknown snapshot"):
        _iceberg_snapshot(meta, snapshot_id=42)


def test_partition_pred_prunes_metadata_only(staged):
    _, meta = staged
    snap = _iceberg_snapshot(meta)
    pruned = iceberg_meta.plan(snap, partition_pred=lambda v: v == "2-HIGH")[0]
    assert pruned and all(d["pval"] == "2-HIGH" for d in pruned)
    allf = iceberg_meta.plan(snap)[0]
    assert len(pruned) < len(allf)


def test_position_delete_files_partitioned_from_data(spark):
    """After the registered pos-delete key stages s4, the planner
    must split data vs delete files, the delete files must carry the
    spec's (file_path, pos) schema, and every referenced file_path must
    be a LIVE data file of the snapshot (delete files are
    partition-scoped and never reference dropped partitions)."""
    import pyarrow.parquet as pq

    from random_forest_using_hadoop_spark import REGISTRY

    REGISTRY["src_iceberg_pos_delete"].fn(spark, SF_DIR).collect()
    root = _tmp(SF_DIR, "iceberg_posdel")
    meta = iceberg_meta.load(root)
    snap = _iceberg_snapshot(meta)
    data, deletes = iceberg_meta.plan(snap)
    assert data and deletes
    assert snap["summary"]["operation"] == "delete"
    data_paths = {d["path"] for d in data}
    data_pvals = {d["pval"] for d in data}
    assert "1-URGENT" not in data_pvals  # dropped at s3, before s4
    for d in deletes:
        assert d["seq"] == 4 and d["content"] == 1
        t = pq.read_table(d["path"])
        assert t.column_names == ["file_path", "pos"]
        assert t.num_rows == d["n"]
        refs = set(t.column("file_path").to_pylist())
        assert refs <= data_paths, "delete refs must be live data files"
        assert d["pval"] in data_pvals


def test_position_delete_sequence_rule(spark):
    """The ordering rule: a delete file applies only to data files with
    data sequence number ≤ the delete's. Rewriting the staged delete
    manifest's sequence number to 0 (older than every data file) must
    restore the deleted rows in the read."""
    import json as _json

    from pyspark.sql import functions as F

    from random_forest_using_hadoop_spark import REGISTRY
    from random_forest_using_hadoop_spark.iceberg_format import (
        ocf_read,
        ocf_write,
    )

    with_deletes = (
        REGISTRY["src_iceberg_pos_delete"].fn(spark, SF_DIR)
        .agg(F.sum("n_rows").alias("n"))
        .collect()[0]["n"]
    )
    root = _tmp(SF_DIR, "iceberg_posdel")
    meta_dir = os.path.join(root, "metadata")
    mpath = os.path.join(meta_dir, "m4-deletes.avro")
    schema, entries, _ = ocf_read(mpath)
    for e in entries:
        e["sequence_number"] = 0  # now OLDER than every data file
    ocf_write(mpath, schema, entries)
    # read the edited table directly (re-running the key would restage
    # over the edit)
    meta = iceberg_meta.load(root)
    snap = _iceberg_snapshot(meta)
    from random_forest_using_hadoop_spark.operators.iceberg_ext import (
        _scan_with_partition,
    )

    data, deletes = iceberg_meta.plan(snap)
    assert all(d["seq"] == 0 for d in deletes)
    # every data file has seq ≥ 1 > 0 → no delete applies; the naive
    # row count equals the full snapshot
    full = _scan_with_partition(spark, data).count()
    # with correctly-applied seq-0 deletes nothing is dropped, so the
    # key's earlier result must be strictly smaller than the full scan
    assert with_deletes < full


def test_format_version_gate(staged, tmp_path):
    """A v4 (or v1) table must be refused, not half-read — the same
    forward-compatibility stance as the Delta protocol gate. (v3 became
    readable in r13 with the deletion-vector subset.)"""
    root, _ = staged
    meta_dir = os.path.join(str(tmp_path), "metadata")
    os.makedirs(meta_dir)
    with open(os.path.join(root, "metadata", "v3.metadata.json")) as fh:
        meta = json.load(fh)
    meta["format-version"] = 4
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as fh:
        fh.write("1")
    with pytest.raises(ValueError, match="format-version"):
        iceberg_meta.load(str(tmp_path))


def test_partition_value_resolves_by_spec_field_names():
    """Spec-aware tuple resolution: value BY NAME under a known spec
    (never first-value positional), None for an unpartitioned spec,
    name-ordered tuple for a multi-field spec, positional fallback only
    when no spec is supplied."""
    from random_forest_using_hadoop_spark.iceberg_meta import (
        _partition_value,
    )

    part = {"o_orderstatus": "O", "o_orderpriority": "2-HIGH"}
    spec1 = {
        "spec-id": 1,
        "fields": [{"name": "o_orderpriority", "transform": "identity"}],
    }
    assert _partition_value(part, spec1) == "2-HIGH"
    assert _partition_value(part, {"spec-id": 0, "fields": []}) is None
    spec2 = {
        "spec-id": 2,
        "fields": [
            {"name": "o_orderpriority"},
            {"name": "o_orderstatus"},
        ],
    }
    assert _partition_value(part, spec2) == ("2-HIGH", "O")
    assert _partition_value({"x": 7}, None) == 7
    assert _partition_value(None, spec1) is None


def test_metadata_discovery_skips_stray_version_files(tmp_path):
    """A stray 'vx.metadata.json' (editor backup, partial upload) must
    not crash hint-less discovery; the highest REAL version wins."""
    import json

    meta_dir = tmp_path / "metadata"
    meta_dir.mkdir()
    for v in (1, 2):
        (meta_dir / f"v{v}.metadata.json").write_text(
            json.dumps({"format-version": 2, "v": v})
        )
    (meta_dir / "vx.metadata.json").write_text("{}")
    (meta_dir / "v3.metadata.json.bak").write_text("{}")
    assert iceberg_meta.load(str(tmp_path))["v"] == 2
    # a stale hint (a crash between the commit and the hint update) is
    # walked forward: v2 stays visible and the next commit takes v3
    # instead of conflicting on v2
    (meta_dir / "version-hint.text").write_text("1")
    assert iceberg_meta.load(str(tmp_path))["v"] == 2
    root = str(tmp_path)
    with iceberg_meta.update(root) as tm:
        tm["v"] = 3
    assert iceberg_meta.current_version(str(meta_dir)) == 3
    assert iceberg_meta.load(root)["v"] == 3
    assert (meta_dir / "version-hint.text").read_text() == "3"


def test_format_version_gate_refuses_unknown(tmp_path):
    """A format-version the reader can't honor fails AT OPEN, not
    mid-read with silently wrong semantics. v2 and the v3
    deletion-vector subset are readable; anything newer is refused."""
    import json

    import pytest

    meta_dir = tmp_path / "metadata"
    meta_dir.mkdir()
    (meta_dir / "version-hint.text").write_text("1")
    for ok in (2, 3):
        (meta_dir / "v1.metadata.json").write_text(
            json.dumps({"format-version": ok})
        )
        assert iceberg_meta.load(str(tmp_path))["format-version"] == ok
    (meta_dir / "v1.metadata.json").write_text(
        json.dumps({"format-version": 4})
    )
    with pytest.raises(ValueError, match="format-version"):
        iceberg_meta.load(str(tmp_path))


def test_avro_int_range_gate():
    """Avro 'int' is 32-bit: the codec must refuse out-of-range values
    at write time (the varint would round-trip internally but misread
    in a conforming foreign reader)."""
    import pytest

    from random_forest_using_hadoop_spark.iceberg_format import encode_value

    out = bytearray()
    encode_value("int", 2**31 - 1, out, {})
    encode_value("int", -(2**31), out, {})
    with pytest.raises(ValueError, match="32-bit"):
        encode_value("int", 2**31, out, {})
    with pytest.raises(ValueError, match="32-bit"):
        encode_value("int", -(2**31) - 1, out, {})
    big = bytearray()
    encode_value("long", 2**40, big, {})  # long stays unbounded


def test_snapshot_ref_resolution_rules():
    """Refs resolve through the metadata `refs` map only: unknown refs
    fail loudly, and ref resolution excludes id/timestamp modes (the
    spec's modes are mutually exclusive)."""
    import pytest

    from random_forest_using_hadoop_spark.operators.iceberg_ext import (
        _iceberg_snapshot,
    )

    meta = {
        "snapshots": [
            {"snapshot-id": 10, "timestamp-ms": 1000},
            {"snapshot-id": 20, "timestamp-ms": 2000},
        ],
        "snapshot-log": [
            {"snapshot-id": 10, "timestamp-ms": 1000},
            {"snapshot-id": 20, "timestamp-ms": 2000},
        ],
        "current-snapshot-id": 20,
        "refs": {
            "main": {"snapshot-id": 20, "type": "branch"},
            "pin": {"snapshot-id": 10, "type": "tag"},
        },
    }
    assert _iceberg_snapshot(meta, ref="pin")["snapshot-id"] == 10
    assert _iceberg_snapshot(meta, ref="main")["snapshot-id"] == 20
    with pytest.raises(ValueError, match="unknown snapshot ref"):
        _iceberg_snapshot(meta, ref="nope")
    with pytest.raises(ValueError, match="excludes"):
        _iceberg_snapshot(meta, snapshot_id=10, ref="pin")
    # a refs-less table still resolves current/id/timestamp
    del meta["refs"]
    assert _iceberg_snapshot(meta)["snapshot-id"] == 20
    with pytest.raises(ValueError, match="unknown snapshot ref"):
        _iceberg_snapshot(meta, ref="main")


def test_upsert_eqdelete_file_written_by_executor(spark):
    """r14 verdict hardening: the upsert commit's equality-delete file
    must be WRITTEN by an executor (single-partition parquet write +
    driver rename), never collected through the driver — a
    backfill-sized batch's keys are data, not metadata. Gates: (a)
    source: no .collect() anywhere in _iceberg_upsert_commit; (b) the
    staged eq file reads back as exactly the batch's sorted key set."""
    import inspect

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from random_forest_using_hadoop_spark.operators.lake_r14 import (
        _iceberg_upsert_commit,
    )

    assert ".collect()" not in inspect.getsource(_iceberg_upsert_commit)

    spark_df = engine.REGISTRY["sink_iceberg_upsert"].fn(spark, SF_DIR)
    spark_df.collect()  # run the key: stages base + two upsert commits
    root = _tmp(SF_DIR, "iceberg_upsert")
    o = load_table(spark, SF_DIR, "orders")
    live = o.filter(F.col("o_orderpriority") != "1-URGENT")
    for seq, mod in ((4, 5), (5, 3)):
        eq_path = os.path.join(root, "metadata", f"eqdel-s{seq}.parquet")
        got = pq.read_table(eq_path).column("o_orderkey").to_pylist()
        want = sorted(
            r["o_orderkey"]
            for r in live.filter(F.col("o_orderkey") % mod == 0)
            .select("o_orderkey")
            .collect()
        )
        assert got == want, f"s{seq} eq-delete keys diverge"
        # no staging directory left behind
        assert not os.path.exists(
            os.path.join(root, "metadata", f"eqdel-s{seq}.staging")
        )


def test_ref_lifecycle_expiry_is_reachability_driven(spark):
    """sink_iceberg_ref_lifecycle's physical contract: ref expiry drops
    old-audit + tmp-branch; snapshot expiry then removes s1 and s5 from
    metadata, deletes s5's whole tree (list + manifest + data files)
    and s1's manifest list — but KEEPS s1's data files, which retained
    s2/s3 manifests still reference (reachability, not ownership,
    drives cleanup). Second expiry run is a no-op."""
    import glob

    from random_forest_using_hadoop_spark.iceberg_format import ocf_read
    from random_forest_using_hadoop_spark.operators.iceberg_ext import (
        _S1,
        _S2,
        _S3,
        _T3,
    )
    from random_forest_using_hadoop_spark.operators.lake_r15 import (
        iceberg_create_ref,
        iceberg_expire_snapshots,
    )

    engine.REGISTRY["sink_iceberg_ref_lifecycle"].fn(spark, SF_DIR).collect()
    root = _tmp(SF_DIR, "iceberg_ref_lifecycle")
    meta = iceberg_meta.load(root)
    assert set(meta["refs"]) == {"main", "keep-audit", "wap-branch"}
    ids = {s["snapshot-id"] for s in meta["snapshots"]}
    assert ids == {_S2, _S3, _S3 + 1}
    assert _S1 not in {e["snapshot-id"] for e in meta["snapshot-log"]}
    # s5's tree is gone from disk
    assert glob.glob(os.path.join(root, "data", "s5tmp", "**", "*.parquet"),
                     recursive=True) == []
    assert not os.path.exists(os.path.join(root, "metadata", "m-s5tmp.avro"))
    assert glob.glob(
        os.path.join(root, "metadata", f"snap-{_S3 + 2}-*.avro")
    ) == []
    assert glob.glob(
        os.path.join(root, "metadata", f"snap-{_S1}-*.avro")
    ) == []
    # s1's DATA files survive: retained manifests still reference them
    retained_files = set()
    for s in meta["snapshots"]:
        _, ms, _ = ocf_read(s["manifest-list"])
        for m in ms:
            _, es, _ = ocf_read(m["manifest_path"])
            retained_files |= {
                e["data_file"]["file_path"] for e in es
            }
    s1_files = {p for p in retained_files if "/data/s1/" in p}
    assert s1_files and all(os.path.exists(p) for p in s1_files)
    # idempotent: nothing else is expirable
    again = iceberg_expire_snapshots(root, older_than_ms=_T3 + 300_000)
    assert again == {"expired_snapshots": 0, "deleted_files": 0}
    # writer refuses duplicates and unknown snapshots
    with pytest.raises(ValueError, match="already exists"):
        iceberg_create_ref(root, "keep-audit", _S2, "tag")
    with pytest.raises(ValueError, match="not in table metadata"):
        iceberg_create_ref(root, "ghost", 42, "tag")


def test_pos_delete_writer_applies_current_deletes_first(spark):
    """sink_iceberg_pos_delete's write contract: the second DELETE's
    predicate overlaps the first (% 10 IN (7,4) after % 10 == 7), so
    its files may contain ONLY the newly-dead % 4 positions; data
    parquets stay byte-identical; re-running a DELETE whose rows are
    all dead commits NOTHING; and only the per-partition descriptor
    aggregation may collect."""
    import hashlib
    import inspect

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from random_forest_using_hadoop_spark.operators.iceberg_ext import (
        _S3,
        _T3,
        _iceberg_snapshot,
    )
    from random_forest_using_hadoop_spark.operators.lake_r15 import (
        iceberg_delete_where,
    )

    src = inspect.getsource(iceberg_delete_where)
    assert src.count(".collect()") == 1
    assert src.index("applyInPandas") < src.index(".collect()")

    def _digests(paths):
        out = {}
        for p in sorted(paths):
            with open(p, "rb") as fh:
                out[p] = hashlib.md5(fh.read()).hexdigest()
        return out

    engine.REGISTRY["sink_iceberg_pos_delete"].fn(spark, SF_DIR).collect()
    root = _tmp(SF_DIR, "iceberg_posdel_write")
    meta = iceberg_meta.load(root)
    data_files, delete_files = iceberg_meta.plan(_iceberg_snapshot(meta))
    assert {d["seq"] for d in delete_files} == {4, 5}
    # s5 files: every position's row is % 10 == 4 (never a re-emitted 7)
    live_paths = {d["path"] for d in data_files}
    keyed = {}
    for p in live_paths:
        keyed[p] = pq.read_table(p).column("o_orderkey").to_pylist()
    for d in delete_files:
        if d["seq"] != 5:
            continue
        t = pq.read_table(d["path"])
        for fp, pos in zip(
            t.column("file_path").to_pylist(), t.column("pos").to_pylist()
        ):
            assert keyed[fp][pos] % 10 == 4, (
                f"s5 re-emitted an already-dead position: key "
                f"{keyed[fp][pos]}"
            )
    # re-running the same DELETE: zero files, zero commits
    meta_dir = os.path.join(root, "metadata")
    before = (_digests(live_paths), iceberg_meta.current_version(meta_dir))
    n = iceberg_delete_where(
        spark, root, (F.col("o_orderkey") % 10).isin(7, 4),
        _S3 + 3, 6, _T3 + 180_000,
    )
    assert n == 0
    assert (
        _digests(live_paths), iceberg_meta.current_version(meta_dir)
    ) == before


def test_alter_schema_writer_refusals_and_mapping(spark):
    """iceberg_alter_schema's contract: rename keeps the field ID and
    extends the name mapping with the historical name intact; add
    advances last-column-id monotonically and never reuses an id;
    unknown field ids and duplicate names are refused with the
    metadata untouched."""
    from random_forest_using_hadoop_spark.operators.lake_r15 import (
        iceberg_alter_schema,
    )

    engine.REGISTRY["sink_iceberg_schema_evolution"].fn(
        spark, SF_DIR
    ).collect()
    root = _tmp(SF_DIR, "iceberg_evo_write")
    tm = iceberg_meta.load(root)
    cur = next(
        s for s in tm["schemas"] if s["schema-id"] == tm["current-schema-id"]
    )
    by_name = {f["name"]: f for f in cur["fields"]}
    assert by_name["price"]["id"] == 2, "rename must keep the field id"
    assert by_name["o_orderstatus"]["id"] == 3
    assert tm["last-column-id"] == 3
    mapping = {
        m["field-id"]: m["names"]
        for m in json.loads(
            tm["properties"]["schema.name-mapping.default"]
        )
    }
    assert mapping[2] == ["o_totalprice", "price"], (
        "historical physical name must stay resolvable"
    )
    meta_dir = os.path.join(root, "metadata")
    v_before = iceberg_meta.current_version(meta_dir)
    with pytest.raises(ValueError, match="no field with id"):
        iceberg_alter_schema(root, rename={42: "ghost"})
    with pytest.raises(ValueError, match="already in use"):
        iceberg_alter_schema(root, add=[("price", "double")])
    with pytest.raises(ValueError, match="already in use"):
        iceberg_alter_schema(root, rename={1: "price"})
    assert iceberg_meta.current_version(meta_dir) == v_before, (
        "refusals must not commit"
    )
    # a further add must not reuse id 3
    iceberg_alter_schema(root, add=[("note", "string")])
    tm = iceberg_meta.load(root)
    cur = next(
        s for s in tm["schemas"] if s["schema-id"] == tm["current-schema-id"]
    )
    assert {f["name"]: f["id"] for f in cur["fields"]}["note"] == 4


def test_sort_order_writer_contract(spark):
    """sink_iceberg_sort_order's mechanism pins: the ALTER commits an
    additive sort order (order 0 preserved, default flipped to 1); a
    WRITE ORDERED BY an unknown field id is refused; and every
    committed data file is SORTED WITHIN the file on the declared
    column (read one file directly — the range shuffle alone cannot
    fake local sortedness)."""
    import pyarrow.parquet as pq

    import random_forest_using_hadoop_spark as eng
    from random_forest_using_hadoop_spark.iceberg_format import ocf_read
    from random_forest_using_hadoop_spark.operators.lake_r15b import (
        iceberg_set_sort_order,
    )

    eng.load_all()
    eng.REGISTRY["sink_iceberg_sort_order"].fn(spark, SF_DIR).collect()
    root = _tmp(SF_DIR, "iceberg_sort_order")
    tm = iceberg_meta.load(root)
    assert [o["order-id"] for o in tm["sort-orders"]] == [0, 1]
    assert tm["default-sort-order-id"] == 1
    assert tm["sort-orders"][1]["fields"][0]["source-id"] == 2
    with pytest.raises(ValueError, match="unknown field id"):
        iceberg_set_sort_order(root, source_id=99)

    mpath = os.path.join(root, "metadata", "m1-sorted.avro")
    _, entries, _ = ocf_read(mpath)
    assert len(entries) >= 2
    # within-file sortedness, checked on the widest file
    widest = max(
        entries, key=lambda e: e["data_file"]["record_count"]
    )["data_file"]["file_path"]
    vals = pq.read_table(widest, columns=["o_totalprice"]).column(
        "o_totalprice"
    ).to_pylist()
    assert vals == sorted(vals)


def test_puffin_stats_drive_broadcast_decision(spark):
    """The statistics file is only useful if a planner CONSUMES it:
    with autoBroadcastJoinThreshold disabled (so Spark itself would
    pick sort-merge), a join whose small side's ndv — read from the
    committed Puffin footer via iceberg_ndv_map, no data scan —
    is under the dim cap gets an explicit broadcast hint and plans a
    BroadcastHashJoin; the high-ndv side must NOT qualify. Also pins
    the footer structure: two theta-type blobs, ndv property present,
    and the fixture's exact priority ndv (5)."""
    from pyspark.sql import functions as F

    import random_forest_using_hadoop_spark as eng
    from random_forest_using_hadoop_spark.iceberg_format import (
        puffin_read_footer,
    )
    from random_forest_using_hadoop_spark.operators.lake_r15b import (
        iceberg_ndv_map,
    )

    eng.load_all()
    eng.REGISTRY["src_iceberg_puffin_stats"].fn(spark, SF_DIR).collect()
    root = _tmp(SF_DIR, "iceberg_puffin_stats")
    ndv = iceberg_ndv_map(root)
    assert ndv["o_orderpriority"] == 5
    assert ndv["o_orderkey"] > 100  # KMV estimate of a high-card key

    tm = iceberg_meta.load(root)
    footer = puffin_read_footer(tm["statistics"][0]["statistics-path"])
    assert len(footer["blobs"]) == 2
    assert all(
        b["type"] == "apache-datasketches-theta-v1" for b in footer["blobs"]
    )

    o = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    dim = o.select("o_orderpriority").distinct().withColumn(
        "prio_class", F.substring("o_orderpriority", 1, 1)
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        build = (
            F.broadcast(dim) if ndv["o_orderpriority"] <= 1000 else dim
        )
        plan = (
            o.join(build, "o_orderpriority")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan
        # the high-ndv side must not qualify for the dim cap
        assert not ndv["o_orderkey"] <= 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
