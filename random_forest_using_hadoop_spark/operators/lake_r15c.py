"""Round-15c Hudi table services: the CLEANER (reclaim superseded file
slices under a retention policy) and CLUSTERING (a `replacecommit`
that rewrites many small file groups into one sorted group) — the two
background maintenance loops every long-lived Hudi deployment runs,
completing the family: [[src_hudi_cow]] / [[src_hudi_mor]] read,
[[sink_hudi_compaction]] pays log debt, these two pay FILE debt.

Implemented from the PUBLIC Hudi spec (hudi.apache.org/tech-specs):
`<instant>.clean` timeline actions record reclaimed files;
`<instant>.replacecommit` actions record `partitionToReplaceFileIds`,
and a snapshot reader must treat replaced file groups as dead from the
replace instant onward while still serving them to time-travel reads
below it. Reference analog: none citable (the reference checkout is
empty — SURVEY.md §0).
"""

from __future__ import annotations

import json
import os
import shutil
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from random_forest_using_hadoop_spark.helpers import (
    assert_multiset_equal,
    local_rows,
)

from random_forest_using_hadoop_spark.operators.hudi import (
    _ORDERS,
    _hudi_snapshot_files,
    _hudi_stage,
)
from random_forest_using_hadoop_spark import (
    delta_log,
    hudi_timeline,
    iceberg_meta,
)
from random_forest_using_hadoop_spark.iceberg_meta import (
    ADDED,
    DELETED,
    EXISTING,
    entry,
    list_record,
    write_manifest,
    write_manifest_list,
)
from random_forest_using_hadoop_spark.operators.scans import _tmp
from random_forest_using_hadoop_spark.registry import register
from random_forest_using_hadoop_spark.sources import load_table

# --- cleaner --------------------------------------------------------------------

_CLEAN_ORACLE = """
WITH latest AS (
  SELECT o_orderpriority,
         CASE WHEN o_orderpriority = '1-URGENT'
              THEN o_totalprice + 1000 ELSE o_totalprice END AS price
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderpriority, o_totalprice
  FROM orders
  WHERE o_orderkey % 2 = 1 AND o_orderpriority = '1-URGENT'
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(price * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents,
       CAST(CASE WHEN o_orderpriority = '1-URGENT'
                  AND EXISTS (SELECT 1 FROM orders
                              WHERE o_orderkey % 2 = 0
                                AND o_orderpriority = '1-URGENT')
                 THEN 1 ELSE 0 END AS BIGINT) AS files_removed
FROM latest GROUP BY o_orderpriority
"""


@register("sink_hudi_clean", oracle=_CLEAN_ORACLE)
def q_sink_hudi_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi CLEANER under KEEP_LATEST_FILE_VERSIONS(1): for every file
    group, base files of COMPLETED slices older than the group's
    latest completed slice are reclaimed, and a `<instant>.clean`
    action records what was deleted. On the staged COW history (c1
    insert everywhere, c2 upsert slice for 1-URGENT, c3 INFLIGHT
    poison) exactly ONE file qualifies — the urgent group's superseded
    c1 slice. Two safety rules are the point of the key:

    - the cleaner NEVER touches incomplete instants' files (the c3
      poison stays on disk — rollback's job, not clean's), and
    - the latest snapshot is untouched — proven distributed by
      `exceptAll` in both directions between the pre-clean and
      post-clean snapshot reads.

    Retention honesty is also gated: time travel to c1 must LOSE the
    urgent group after cleaning (its c1 slice is gone) — a cleaner
    that silently keeps serving stale slices would mask retention
    bugs downstream.

    Graded: the post-clean latest-snapshot per-priority rollup joined
    with the per-partition reclaim count from the `.clean` metadata.

    Scale: the clean plan is O(file groups) timeline metadata; deletes
    are O(reclaimed files); the data path is never read — exactly why
    real deployments run the cleaner inline with every commit.
    """
    root, prios, (c1, c2, c3) = _hudi_stage(spark, sf_dir)
    urgent = "1-URGENT"

    before = spark.read.parquet(*_hudi_snapshot_files(root)).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).localCheckpoint()

    # plan: per file group, completed slices older than the latest one
    completed = set(hudi_timeline.completed(root))
    latest: dict[tuple[str, str], str] = {}
    for bf in hudi_timeline.base_files(root):
        if bf["instant"] not in completed:
            continue
        key = (bf["partition"], bf["file_id"])
        if key not in latest or bf["instant"] > latest[key]:
            latest[key] = bf["instant"]
    to_clean = [
        bf
        for bf in hudi_timeline.base_files(root)
        if bf["instant"] in completed
        and bf["instant"] < latest[(bf["partition"], bf["file_id"])]
    ]
    # on the regular fixture exactly the urgent group's c1 slice is
    # superseded; an adversarial corpus without even urgent keys stages
    # no urgent c1 slice, so the plan is legitimately empty — the gate
    # is that ONLY urgent c1 slices ever qualify on this history
    if any(
        b["partition"] != urgent or b["instant"] != c1 for b in to_clean
    ):
        raise ValueError(f"unexpected clean plan: {to_clean}")
    cleaned_groups = {(b["partition"], b["file_id"]) for b in to_clean}
    c1_groups_before = {
        (bf["partition"], bf["file_id"])
        for bf in hudi_timeline.base_files(root)
        if bf["instant"] == c1
    }

    # execute + commit the .clean action
    c4 = "20240104000000"
    hudi_timeline.begin(root, c4, "clean")
    per_part: dict[str, list[str]] = {}
    for bf in to_clean:
        os.remove(bf["path"])
        per_part.setdefault(bf["partition"], []).append(
            os.path.basename(bf["path"])
        )
    hudi_timeline.complete(
        root,
        c4,
        "clean",
        {
            "policy": "KEEP_LATEST_FILE_VERSIONS",
            "retained": 1,
            "partitionMetadata": {
                p: {"deletePathPatterns": fs} for p, fs in per_part.items()
            },
        },
    )

    # gate: poison (incomplete c3) survived; latest snapshot unchanged
    poison = [
        bf for bf in hudi_timeline.base_files(root) if bf["instant"] == c3
    ]
    if not poison:
        raise ValueError("cleaner reclaimed an incomplete instant's file")
    after_files = _hudi_snapshot_files(root)
    after = spark.read.parquet(*after_files).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    assert_multiset_equal(after, before, "clean changed the snapshot")
    # gate: time travel below the retention floor is honestly broken —
    # exactly the cleaned groups vanish from the as-of-c1 resolution
    c1_groups_after = {
        (
            os.path.dirname(f).rsplit(os.sep, 1)[-1],
            hudi_timeline.file_id(f),
        )
        for f in _hudi_snapshot_files(root, as_of=c1)
    }
    if c1_groups_after != c1_groups_before - cleaned_groups:
        raise ValueError("cleaned slice still serves time travel")

    removed = local_rows(spark, 
        [(p, len(fs)) for p, fs in per_part.items()],
        "o_orderpriority string, files_removed bigint",
    )
    agg = after.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("total_cents"),
    )
    return (
        agg.join(F.broadcast(removed), "o_orderpriority", "left")
        .withColumn(
            "files_removed",
            F.coalesce(F.col("files_removed"), F.lit(0)).cast("bigint"),
        )
    )


# --- clustering (replacecommit) --------------------------------------------------

_N_SMALL = 8  # small file groups planted in the hot partition

_CLUSTER_ORACLE = f"""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents,
       CAST(CASE WHEN o_orderpriority = '1-URGENT'
                 THEN (SELECT COUNT(DISTINCT o_orderkey % {_N_SMALL})
                       FROM orders WHERE o_orderpriority = '1-URGENT')
                 ELSE 1 END AS BIGINT) AS n_files_before,
       CAST(1 AS BIGINT) AS n_files_latest
FROM orders GROUP BY o_orderpriority
"""


def _snapshot_files_replace_aware(
    root: str, as_of: str | None = None
) -> list[str]:
    """Snapshot file set honoring `replacecommit` actions: start from
    the plain latest-slice resolution, then drop file groups whose
    fileId appears in `partitionToReplaceFileIds` of any COMPLETED
    replacecommit ≤ the horizon. Time travel BELOW a replace instant
    still serves the replaced groups — that is the whole point of
    keeping them on disk until the cleaner's retention expires."""
    # replacecommits are completed commits for slice visibility too:
    # their own new files must be readable at >= their instant
    completed = set(
        hudi_timeline.completed(root, ("commit", "replacecommit"))
    )
    horizon = as_of or max(completed)
    dead: set[tuple[str, str]] = set()
    for instant in hudi_timeline.completed(root, ("replacecommit",)):
        if instant > horizon:
            continue
        meta = hudi_timeline.read(root, instant, "replacecommit")
        for part, fids in meta.get("partitionToReplaceFileIds", {}).items():
            dead.update((part, fid) for fid in fids)
    best: dict[tuple[str, str], dict] = {}
    for bf in hudi_timeline.base_files(root):
        if bf["instant"] not in completed or bf["instant"] > horizon:
            continue
        key = (bf["partition"], bf["file_id"])
        if key in dead:
            continue
        if key not in best or bf["instant"] > best[key]["instant"]:
            best[key] = bf
    return sorted(b["path"] for b in best.values())


@register("sink_hudi_clustering", oracle=_CLUSTER_ORACLE)
def q_sink_hudi_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi CLUSTERING via `replacecommit`: the hot partition is
    staged as {n} small file groups (the classic streaming-ingest
    small-file problem); the clustering service rewrites them into ONE
    o_orderkey-SORTED file group and commits a `replacecommit` whose
    `partitionToReplaceFileIds` declares the {n} old groups dead —
    data files stay on disk (time travel below the replace instant
    still reads them; the cleaner reclaims them later), but the
    snapshot reader must skip them or it double-counts every row.

    Runtime gates:
    - post-clustering snapshot ≡ pre-clustering snapshot, proven
      distributed (`exceptAll` both directions);
    - the hot partition serves exactly ONE file after (was {n}),
      and that file is totally sorted by o_orderkey (checked by a
      distributed monotonicity scan over the file's row order);
    - time travel to the pre-replace instant still serves the {n}
      small groups — replace semantics, not deletion.

    Graded: the per-priority rollup read through the replace-aware
    resolver, with before/after file counts pinned as columns.

    Scale: clustering cost is O(rewritten partition), the reader's
    replace bookkeeping is O(timeline) metadata, and the sorted
    rewrite is exactly what later enables min/max range pruning on
    the sort key ([[sink_iceberg_sort_order]]'s payoff, Hudi-shaped).
    """.format(n=_N_SMALL)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    root = _tmp(sf_dir, "hudi_cluster")
    shutil.rmtree(root, ignore_errors=True)
    hudi_timeline.create(root, "orders_clustered", "COPY_ON_WRITE", **_ORDERS)
    c1, c2 = "20240101000000", "20240102000000"
    urgent = "1-URGENT"

    # c1: one distributed write fans the hot partition into _N_SMALL
    # groups (o_orderkey % _N_SMALL) and every other partition into one
    prio = F.col("o_orderpriority")
    hudi_timeline.begin(root, c1, "commit")
    hudi_timeline.write_slices(
        o,
        root,
        c1,
        prio,
        F.when(
            prio == urgent,
            F.concat(
                F.lit(f"fg-{urgent}-"),
                (F.col("o_orderkey") % _N_SMALL).cast("string"),
            ),
        ).otherwise(F.concat(F.lit("fg-"), prio)),
    )
    hudi_timeline.complete(root, c1, "commit", {})

    before_files = _snapshot_files_replace_aware(root)
    n_before_urgent = sum(
        1 for f in before_files if f"/{urgent}/" in f
    )
    # one staged group per DISTINCT o_orderkey % _N_SMALL value among
    # urgent rows — _N_SMALL on the regular fixture, fewer on an
    # adversarial corpus with sparse urgent keys
    n_expected = (
        o.filter(F.col("o_orderpriority") == urgent)
        .select((F.col("o_orderkey") % _N_SMALL).alias("b"))
        .distinct()
        .count()
    )
    if n_before_urgent != n_expected or n_before_urgent < 1:
        raise ValueError(
            f"fixture staged {n_before_urgent} hot-partition files, "
            f"expected {n_expected}"
        )
    before = spark.read.parquet(*before_files).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).localCheckpoint()

    # c2: cluster the hot partition — sorted single-group rewrite
    clustered = (
        before.filter(F.col("o_orderpriority") == urgent)
        .repartition(1)
        .sortWithinPartitions("o_orderkey")
    )
    hudi_timeline.begin(root, c2, "replacecommit")
    (new_file,) = hudi_timeline.write_slices(
        clustered, root, c2, urgent, f"fg-{urgent}-clustered"
    )
    replaced = sorted(
        hudi_timeline.file_id(f) for f in before_files
        if f"/{urgent}/" in f
    )
    hudi_timeline.complete(
        root,
        c2,
        "replacecommit",
        {
            "operationType": "CLUSTER",
            "partitionToReplaceFileIds": {urgent: replaced},
            "partitionToWriteStats": {
                urgent: {"fileId": f"fg-{urgent}-clustered"}
            },
        },
    )

    # gates
    after_files = _snapshot_files_replace_aware(root)
    urgent_after = [f for f in after_files if f"/{urgent}/" in f]
    if urgent_after != [new_file]:
        raise ValueError(f"replace resolution wrong: {urgent_after}")
    tt_files = _snapshot_files_replace_aware(root, as_of=c1)
    if sum(1 for f in tt_files if f"/{urgent}/" in f) != n_before_urgent:
        raise ValueError("time travel below the replace lost the groups")
    after = spark.read.parquet(*after_files).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    assert_multiset_equal(after, before, "clustering changed rows")
    # sortedness of the clustered file: within its single file, row
    # order must be nondecreasing — checked distributed via a
    # per-partition monotonicity fold (the file reads as one split
    # here; mapInPandas keeps the check streaming at any file size)
    def _mono(it):
        import pandas as _pd

        prev = None
        bad = 0
        for pdf in it:
            ks = pdf["o_orderkey"]
            if len(ks):
                arr = ks.to_numpy()
                bad += int((arr[1:] < arr[:-1]).sum())
                if prev is not None and len(arr) and arr[0] < prev:
                    bad += 1
                prev = arr[-1]
        yield _pd.DataFrame({"bad": _pd.Series([bad], dtype="int64")})

    viol = (
        spark.read.parquet(new_file)
        .select("o_orderkey")
        .coalesce(1)
        .mapInPandas(_mono, schema="bad long")
        .agg(F.sum("bad").alias("bad"))
        .collect()[0]["bad"]
    )
    if viol:
        raise ValueError(f"clustered file is not sorted ({viol} breaks)")

    return (
        after.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            ).alias("total_cents"),
        )
        .withColumn(
            "n_files_before",
            F.when(
                F.col("o_orderpriority") == urgent, F.lit(n_before_urgent)
            )
            .otherwise(F.lit(1))
            .cast("bigint"),
        )
        .withColumn("n_files_latest", F.lit(1).cast("bigint"))
    )


# --- Iceberg rewrite-manifests ----------------------------------------------------

_RWM_N = 6  # one small manifest per append — the metadata small-file problem
_RWM_SB = 7051729675574597000  # snapshot-id base for the fixture
_RWM_TB = 1_700_100_000_000    # timestamp base
_RWM_UUID = "9f2a7b4e-1d15-4d29-8c3a-rwm-fixture0"

_RWM_ORACLE = f"""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents,
       CAST({_RWM_N} AS BIGINT) AS n_manifests_before,
       CAST(1 AS BIGINT) AS n_manifests_after
FROM orders GROUP BY o_orderpriority
"""


def _stage_many_appends(spark: SparkSession, sf_dir: str, root: str) -> None:
    """Stage an Iceberg v2 table whose history is _RWM_N small appends
    (slice i = o_orderkey % _RWM_N == i), each committing ONE new
    manifest; the current manifest list carries all _RWM_N of them —
    the metadata small-file problem rewrite_manifests exists to fix."""
    from random_forest_using_hadoop_spark.operators.iceberg_ext import (
        _orders_meta,
        _pfiles,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    data_dir = os.path.join(root, "data")
    meta_dir = os.path.join(root, "metadata")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(meta_dir, exist_ok=True)
    recs: list[dict] = []  # every append's manifest-list record
    snaps: list[tuple[int, int, int, str, str]] = []
    # the _RWM_N slice writes are independent jobs into disjoint
    # subdirs: run them concurrently (guide-§2.6 back-fill) — the
    # manifest/list/metadata chain below still commits them in order,
    # so the staged history is identical
    with ThreadPoolExecutor(max_workers=3) as pool:
        list(
            pool.map(
                lambda i: o.filter(F.col("o_orderkey") % _RWM_N == i)
                .coalesce(1)
                .write.mode("overwrite")
                .partitionBy("o_orderpriority")
                .parquet(os.path.join(data_dir, f"s{i + 1}")),
                range(_RWM_N),
            )
        )
    for i in range(_RWM_N):
        files = _pfiles(data_dir, f"s{i + 1}")
        sid, seq = _RWM_SB + i, i + 1
        entries = [entry(ADDED, sid, seq, p, v) for p, v in files]
        m = write_manifest(meta_dir, f"m{i + 1}-rwm.avro", entries)
        recs.append(list_record(m, entries, sid, seq))
        ml = write_manifest_list(meta_dir, sid, recs)
        snaps.append((sid, seq, _RWM_TB + i * 60_000, ml, "append"))
        iceberg_meta.commit(
            meta_dir, i + 1, _orders_meta(root, _RWM_UUID, snaps)
        )


@register("sink_iceberg_rewrite_manifests", oracle=_RWM_ORACLE)
def q_sink_iceberg_rewrite_manifests(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REWRITE MANIFESTS — Iceberg's METADATA compaction (the planner-
    side sibling of [[sink_iceberg_compact]]'s data compaction): after
    {n} streaming appends the current manifest list names {n} small
    manifests, so every scan plan opens {n} Avro files; the rewrite
    folds all live entries into ONE manifest and commits a `replace`
    snapshot whose list names just it. Data files are never touched.

    The correctness heart is SEQUENCE-NUMBER INHERITANCE (spec
    §Manifests): every folded entry becomes EXISTING but keeps its
    ORIGINAL snapshot-id and data sequence number — re-stamping them
    with the rewrite's sequence would instantly corrupt sequence-gated
    deletes (an equality delete at seq k applies to data with seq < k;
    a re-stamped file would escape it). Gated entry-by-entry against
    the pre-rewrite (path → seq, snapshot) map, plus:

    - the data-file inventory is byte-identical (md5 per file);
    - the new list names exactly 1 manifest (was {n});
    - the graded read through the rewritten metadata ≡ the
      pre-rewrite snapshot, proven distributed (exceptAll both ways);
    - time travel to the pre-rewrite snapshot still resolves (its
      list and manifests are immutable history).

    Scale: the rewrite reads+writes O(live entries) metadata rows and
    zero data bytes; plan cost drops from O({n}) manifest opens to
    O(1) — at a million files per 100 TB table, manifest fan-in is
    the planning latency, which is why iceberg-core ships this as a
    first-class action.
    """.format(n=_RWM_N)
    import hashlib

    from random_forest_using_hadoop_spark.operators.iceberg_ext import (
        _iceberg_snapshot,
        _scan_with_partition,
    )

    root = _tmp(sf_dir, "iceberg_rwm")
    _stage_many_appends(spark, sf_dir, root)
    meta_dir = os.path.join(root, "metadata")
    with iceberg_meta.update(root) as meta:
        snap = _iceberg_snapshot(meta)
        mlist = iceberg_meta.manifests(snap)
        if len(mlist) != _RWM_N:
            raise ValueError(f"fixture staged {len(mlist)} manifests")

        def _data_md5s() -> dict[str, str]:
            out = {}
            for d in iceberg_meta.plan(snap)[0]:
                with open(d["path"], "rb") as fh:
                    out[d["path"]] = hashlib.md5(fh.read()).hexdigest()
            return out

        before_md5 = _data_md5s()
        before = _scan_with_partition(
            spark, iceberg_meta.plan(snap)[0]
        ).localCheckpoint()

        # fold every live entry into one manifest, inheritance preserved
        want_seq: dict[str, tuple[int, int]] = {}
        folded = []
        for m in mlist:
            for e in iceberg_meta.entries(m):
                if e["status"] == DELETED:
                    continue
                e2 = dict(e)
                e2["status"] = EXISTING
                folded.append(e2)
                want_seq[e["data_file"]["file_path"]] = (
                    e["sequence_number"],
                    e["snapshot_id"],
                )
        new_sid = _RWM_SB + _RWM_N
        new_seq = meta["last-sequence-number"] + 1
        m_new = write_manifest(meta_dir, "m-rewritten.avro", folded)
        l_new = write_manifest_list(
            meta_dir, new_sid, [list_record(m_new, folded, new_sid, new_seq)]
        )
        new_ts = _RWM_TB + _RWM_N * 60_000
        iceberg_meta.add_snapshot(
            meta, new_sid, new_seq, new_ts, l_new, "replace"
        )
        meta["last-updated-ms"] = new_ts

    # gates
    meta2 = iceberg_meta.load(root)
    snap2 = _iceberg_snapshot(meta2)
    mlist2 = iceberg_meta.manifests(snap2)
    if len(mlist2) != 1:
        raise ValueError(f"rewrite left {len(mlist2)} manifests")
    for e in iceberg_meta.entries(mlist2[0]):
        if e["status"] != EXISTING:
            raise ValueError("folded entry lost EXISTING status")
        path = e["data_file"]["file_path"]
        if (e["sequence_number"], e["snapshot_id"]) != want_seq[path]:
            raise ValueError(f"inheritance broken for {path}")
    if _data_md5s() != before_md5:
        raise ValueError("rewrite touched data files")
    # prior snapshot still time-travels
    prev = _iceberg_snapshot(meta2, snapshot_id=_RWM_SB + _RWM_N - 1)
    if len(iceberg_meta.manifests(prev)) != _RWM_N:
        raise ValueError("pre-rewrite snapshot lost its manifests")
    after = _scan_with_partition(spark, iceberg_meta.plan(snap2)[0])
    assert_multiset_equal(after, before, "rewrite changed rows")

    from random_forest_using_hadoop_spark.operators.iceberg_ext import (
        _cents_agg,
    )

    return (
        _cents_agg(after)
        .withColumn(
            "n_manifests_before", F.lit(_RWM_N).cast("bigint")
        )
        .withColumn("n_manifests_after", F.lit(1).cast("bigint"))
    )


# --- Iceberg orphan-file cleanup ---------------------------------------------------

_ORPHAN_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents,
       CAST(2 AS BIGINT) AS n_orphans_removed,
       CAST(1 AS BIGINT) AS n_young_kept
FROM orders
WHERE o_orderpriority <> '1-URGENT'
GROUP BY o_orderpriority
"""


@register("sink_iceberg_remove_orphans", oracle=_ORPHAN_ORACLE)
def q_sink_iceberg_remove_orphans(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REMOVE ORPHAN FILES — the third Iceberg maintenance loop
    (besides [[sink_iceberg_expire_snapshots]] and
    [[sink_iceberg_compact]]): files under the table location that NO
    snapshot references — crashed-write leftovers, aborted compactions
    — are reclaimed, with two safety rules this key gates:

    - REACHABILITY over ALL snapshots, not just the current one: a
      file only time travel can read is not an orphan; even a DELETED
      manifest entry keeps its file alive (it is readable history
      until the snapshot expires) — so the walk uses the full
      reachable set, unlike expiry's readable-only set;
    - an AGE CUTOFF: files newer than the horizon are kept even when
      unreferenced, because an in-flight commit's freshly written
      files are unreferenced BY DESIGN until its metadata swap lands
      — deleting young files races active writers (the exact footgun
      iceberg-core's remove_orphan_files defaults 3 days for).

    Staged: the shared three-snapshot table plus three planted
    orphans — an old data parquet, an old unreferenced manifest Avro,
    and a YOUNG data parquet. The action must delete exactly the two
    old ones, keep the young one, and leave every snapshot's read
    (current AND time travel to s1) bit-identical, proven distributed.

    Scale: one object-store listing + one metadata reachability walk
    (both O(files)); deletes are embarrassingly parallel; zero data
    bytes read.
    """
    import time

    from random_forest_using_hadoop_spark.operators.iceberg_ext import (
        _S1,
        _iceberg_reachable,
        _iceberg_snapshot,
        _iceberg_stage,
        _scan_with_partition,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    root = _tmp(sf_dir, "iceberg_orphan")
    _iceberg_stage(spark, o, root)
    meta_dir = os.path.join(root, "metadata")
    meta = iceberg_meta.load(root)
    snap = _iceberg_snapshot(meta)
    live = iceberg_meta.plan(snap)[0]

    # plant orphans: two OLD (reclaimable), one YOUNG (protected)
    now = time.time()
    old = now - 7 * 86400
    donor = live[0]["path"]
    donor_dir = os.path.dirname(donor)
    orphan_data = os.path.join(donor_dir, "orphan-aborted-write.parquet")
    shutil.copyfile(donor, orphan_data)
    os.utime(orphan_data, (old, old))
    orphan_manifest = write_manifest(
        meta_dir,
        "m-orphan-aborted.avro",
        [entry(ADDED, 999, 99, donor, live[0]["pval"])],
    )
    os.utime(orphan_manifest, (old, old))
    young = os.path.join(donor_dir, "orphan-young-inflight.parquet")
    shutil.copyfile(donor, young)

    before = _scan_with_partition(spark, live).localCheckpoint()
    s1_files_before = sorted(
        d["path"]
        for d in iceberg_meta.plan(
            _iceberg_snapshot(meta, snapshot_id=_S1)
        )[0]
    )

    # reachability over ALL snapshots (deleted entries included) plus
    # the metadata spine itself (json versions + hint)
    protected = _iceberg_reachable(
        meta, {s["snapshot-id"] for s in meta["snapshots"]}
    )
    protected |= iceberg_meta.metadata_files(meta_dir)
    cutoff = now - 3600
    removed = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            if p in protected:
                continue
            if os.path.getmtime(p) >= cutoff:
                continue
            removed.append(p)
    for p in sorted(removed):
        os.remove(p)

    # gates
    if sorted(removed) != sorted([orphan_data, orphan_manifest]):
        raise ValueError(f"orphan sweep removed the wrong set: {removed}")
    if not os.path.exists(young):
        raise ValueError("age cutoff violated: young file deleted")
    meta2 = iceberg_meta.load(root)
    after_live = iceberg_meta.plan(_iceberg_snapshot(meta2))[0]
    after = _scan_with_partition(spark, after_live)
    assert_multiset_equal(after, before, "orphan sweep changed rows")
    s1_files_after = sorted(
        d["path"]
        for d in iceberg_meta.plan(
            _iceberg_snapshot(meta2, snapshot_id=_S1)
        )[0]
    )
    if s1_files_after != s1_files_before or not all(
        os.path.exists(p) for p in s1_files_after
    ):
        raise ValueError("time-travel files harmed by the orphan sweep")

    from random_forest_using_hadoop_spark.operators.iceberg_ext import (
        _cents_agg,
    )

    return (
        _cents_agg(after)
        .withColumn("n_orphans_removed", F.lit(len(removed)).cast("bigint"))
        .withColumn("n_young_kept", F.lit(1).cast("bigint"))
    )


# --- Delta identity columns ---------------------------------------------------------

_ID_START, _ID_STEP = 1000, 3

_IDENTITY_ORACLE = f"""
WITH evens AS (
  SELECT o_orderkey, o_orderpriority,
         {_ID_START} + {_ID_STEP} * (ROW_NUMBER() OVER (ORDER BY o_orderkey)
                                     - 1) AS row_id
  FROM orders WHERE o_orderkey % 2 = 0
),
hwm1 AS (SELECT MAX(row_id) AS h FROM evens),
odds AS (
  SELECT o.o_orderkey, o.o_orderpriority,
         hwm1.h + {_ID_STEP} * ROW_NUMBER() OVER (ORDER BY o.o_orderkey)
             AS row_id
  FROM orders o, hwm1 WHERE o.o_orderkey % 2 = 1
),
t AS (
  SELECT * FROM evens UNION ALL SELECT * FROM odds
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT row_id) AS BIGINT) AS n_distinct_ids,
       CAST(MIN(row_id) AS BIGINT) AS min_id,
       CAST(MAX(row_id) AS BIGINT) AS max_id,
       CAST(SUM(row_id) AS BIGINT) AS sum_id
FROM t GROUP BY o_orderpriority
"""


class DeltaIdentityRejected(Exception):
    """A batch violated the identity column's GENERATED ALWAYS rule."""


def _identity_meta(schema_fields: list[dict]) -> tuple[str, dict]:
    for f in schema_fields:
        md = f.get("metadata") or {}
        if "delta.identity.start" in md:
            return f["name"], md
    raise ValueError("no identity column in schema")


def delta_identity_append(spark: SparkSession, root: str, batch) -> int:
    """APPEND to a table with an IDENTITY column (delta-io PROTOCOL.md
    §Identity Columns, writerFeature `identityColumns`): the writer
    GENERATES the column — monotone values start + k·step continuing
    above the persisted `delta.identity.highWaterMark` — and each
    commit carries an updated `metaData` action re-stamping the high
    water mark, which is how concurrent-writer fencing works in the
    real protocol (the mark only moves forward).

    `allowExplicit` is false (GENERATED ALWAYS), so a batch that
    SUPPLIES the column is rejected before anything stages.

    Value assignment is the scale-safe distributed rank
    (helpers.dist_row_number: range repartition + broadcast prefix
    offsets — never a single-task global window) over the batch's
    unique key order, so the assignment is deterministic AND each
    executor writes its own rows. Returns the committed version."""
    from random_forest_using_hadoop_spark.helpers import dist_row_number

    log_dir = os.path.join(root, "_delta_log")
    version, _, meta = delta_log.table_meta(log_dir)
    schema = json.loads(meta["schemaString"])
    id_col, id_md = _identity_meta(schema["fields"])
    if id_col in batch.columns:
        raise DeltaIdentityRejected(
            f"identity column {id_col} is GENERATED ALWAYS; "
            "explicit values are refused"
        )
    start = int(id_md["delta.identity.start"])
    step = int(id_md["delta.identity.step"])
    hwm = id_md.get("delta.identity.highWaterMark")
    base = start if hwm is None else int(hwm) + step
    ranked, n = dist_row_number(batch, [F.col("o_orderkey")], out="_rn")
    stamped = ranked.withColumn(
        id_col, (F.lit(base) + F.lit(step) * (F.col("_rn") - 1)).cast("long")
    ).drop("_rn")
    new_hwm = base + step * (n - 1)

    new_version = version + 1
    sub = f"c{new_version}"
    out_dir = os.path.join(root, "data", sub)
    cols = [f["name"] for f in schema["fields"]]
    stamped.select(*cols).repartition(4).write.mode("overwrite").parquet(
        out_dir
    )
    id_md = dict(id_md)
    id_md["delta.identity.highWaterMark"] = new_hwm
    for f in schema["fields"]:
        if f["name"] == id_col:
            f["metadata"] = id_md
    meta = dict(meta)
    meta["schemaString"] = json.dumps(schema)
    delta_log.commit(
        log_dir,
        new_version,
        [
            {"commitInfo": {"operation": "WRITE"}},
            {"metaData": meta},
        ]
        + [
            {"add": {"path": f"data/{sub}/{f}", "dataChange": True}}
            for f in sorted(os.listdir(out_dir))
            if f.endswith(".parquet")
        ],
    )
    return new_version


@register("sink_delta_identity_column", oracle=_IDENTITY_ORACLE)
def q_sink_delta_identity_column(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delta IDENTITY COLUMNS writer (PROTOCOL.md §Identity Columns):
    two appends (even keys, then odd keys) each have their `row_id`
    GENERATED — an arithmetic sequence start={start}/step={step}
    continuing above the high water mark the previous commit
    persisted in the schema metadata — and a third batch that tries
    to SUPPLY the column is rejected (GENERATED ALWAYS). Gates:

    - the second append's smallest id sits exactly one step above the
      first append's high water mark (no overlap, no gap);
    - the final `metaData`'s highWaterMark equals the read-back MAX;
    - ids are globally unique (distinct count graded per group).

    Graded: per-priority id statistics (count, distinct, min, max,
    sum) read back from the committed files — any drift in the rank
    assignment, the step arithmetic, or the mark persistence shifts
    the sums and fails the hash.

    Scale: assignment is the range-repartition rank (no single-task
    window), parquet lands executor-side, and the commit is O(files)
    JSON plus one metaData action — identical cost shape to a plain
    append.
    """.format(start=_ID_START, step=_ID_STEP)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    root = _tmp(sf_dir, "delta_identity")
    log_dir = os.path.join(root, "_delta_log")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(log_dir)
    schema_string = json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "row_id",
                    "type": "long",
                    "nullable": False,
                    "metadata": {
                        "delta.identity.start": _ID_START,
                        "delta.identity.step": _ID_STEP,
                        "delta.identity.allowExplicit": False,
                    },
                },
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
            ],
        }
    )
    actions = [
        {
            "protocol": {
                "minReaderVersion": 1,
                "minWriterVersion": 7,
                "writerFeatures": ["identityColumns"],
            }
        },
        {
            "metaData": {
                "id": "identity-column-fixture",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_string,
                "partitionColumns": [],
                "configuration": {},
            }
        },
    ]
    delta_log.commit(log_dir, 0, actions)

    evens = o.filter(F.col("o_orderkey") % 2 == 0)
    odds = o.filter(F.col("o_orderkey") % 2 == 1)
    v1 = delta_identity_append(spark, root, evens)
    meta1 = delta_log.table_meta(log_dir).metadata
    hwm1 = _identity_meta(json.loads(meta1["schemaString"])["fields"])[1][
        "delta.identity.highWaterMark"
    ]
    v2 = delta_identity_append(spark, root, odds)
    rejected = False
    try:
        delta_identity_append(
            spark,
            root,
            odds.limit(1).withColumn("row_id", F.lit(999_999).cast("long")),
        )
    except DeltaIdentityRejected:
        rejected = True
    version, _, meta2, live = delta_log.snapshot(log_dir)
    hwm2 = _identity_meta(json.loads(meta2["schemaString"])["fields"])[1][
        "delta.identity.highWaterMark"
    ]
    if not rejected or (v1, v2, version) != (1, 2, 2):
        raise AssertionError(
            f"identity gate failed: rejected={rejected}, "
            f"versions=({v1}, {v2}, {version})"
        )

    t = spark.read.parquet(*(os.path.join(root, p) for p in sorted(live)))
    stats = t.agg(
        F.min("row_id").alias("lo"),
        F.max("row_id").alias("hi"),
        F.count_distinct("row_id").alias("nd"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    n_evens = evens.count()
    if stats["lo"] != _ID_START:
        raise ValueError("sequence does not start at the declared start")
    if hwm1 != _ID_START + _ID_STEP * (n_evens - 1):
        raise ValueError("first commit's high water mark is wrong")
    if stats["hi"] != hwm2:
        raise ValueError("persisted high water mark disagrees with MAX")
    if stats["nd"] != stats["n"]:
        raise ValueError("identity values are not unique")

    return t.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count_distinct("row_id").cast("bigint").alias("n_distinct_ids"),
        F.min("row_id").cast("bigint").alias("min_id"),
        F.max("row_id").cast("bigint").alias("max_id"),
        F.sum("row_id").cast("bigint").alias("sum_id"),
    )


# --- UniForm dual-format APPEND ------------------------------------------------------

_UB_S1, _UB_S2 = 8051729675574597001, 8051729675574597002
_UB_T1, _UB_T2 = 1_700_200_000_000, 1_700_200_060_000

_UNIFORM_APPEND_ORACLE = """
WITH agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS total_cents
  FROM orders
)
SELECT 'delta' AS format, n_rows, total_cents FROM agg
UNION ALL
SELECT 'iceberg', n_rows, total_cents FROM agg
"""


@register("sink_lake_uniform_append", oracle=_UNIFORM_APPEND_ORACLE)
def q_sink_lake_uniform_append(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """UNIFORM WRITER — an APPEND that commits BOTH metadata formats
    over ONE new copy of the data (the delta-io UniForm write path:
    each Delta commit also extends the Iceberg metadata tree, so
    either planner sees the new rows without any data movement).
    [[src_lake_uniform]] reads a pre-built dual table; this key builds
    the dual COMMIT: the appended batch's parquet files are written
    once, then referenced by a Delta `add` commit AND an Iceberg
    append snapshot whose manifest list carries the prior manifest —
    metadata-only dual bookkeeping.

    Gates:
    - SINGLE-COPY: the union of files referenced by both chains
      equals the files on disk — a writer that duplicated data for
      the second format defeats UniForm's point;
    - CONVERGENCE, proven distributed: the full table read through
      the Delta chain `exceptAll` the Iceberg-chain read is empty in
      BOTH directions after the append;
    - ORDERING: the Iceberg metadata commits only after the Delta
      commit is durable (the UniForm commit rule — Delta is the
      source of truth, Iceberg metadata follows).

    Graded: the identical rollup read through each chain, one row per
    format — the same two-row shape as the read key, now over a table
    this writer grew.

    Scale: the append costs one distributed parquet write + O(files)
    JSON + O(1) Avro metadata per format; converting a 100 TB table
    between engines stays a zero-copy operation.
    """
    from random_forest_using_hadoop_spark.operators.iceberg_ext import (
        _iceberg_snapshot,
        _orders_meta,
        _pfiles,
        _scan_with_partition,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    root = _tmp(sf_dir, "lake_uniform_w")
    data_dir = os.path.join(root, "data")
    log_dir = os.path.join(root, "_delta_log")
    meta_dir = os.path.join(root, "metadata")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(log_dir)
    os.makedirs(meta_dir)

    def _delta_append(version: int, files: list[tuple[str, str]]) -> None:
        delta_log.commit(
            log_dir,
            version,
            [{"commitInfo": {"operation": "WRITE"}}]
            + [
                {
                    "add": {
                        "path": os.path.relpath(p, root),
                        "partitionValues": {"o_orderpriority": v},
                        "dataChange": True,
                    }
                }
                for p, v in files
            ],
        )

    table_uuid = "9f2a7b4e-1d15-4d29-8c3a-unifrm-wrt0"

    # base table: even keys, both formats over one copy
    o.filter(F.col("o_orderkey") % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).partitionBy("o_orderpriority").parquet(os.path.join(data_dir, "c0"))
    base_files = _pfiles(root, "data/c0")
    _delta_append(0, base_files)
    e1 = [entry(ADDED, _UB_S1, 1, p, v) for p, v in base_files]
    r1 = list_record(
        write_manifest(meta_dir, "m1-uw.avro", e1), e1, _UB_S1, 1
    )
    l1 = write_manifest_list(meta_dir, _UB_S1, [r1])
    iceberg_meta.commit(
        meta_dir,
        1,
        _orders_meta(root, table_uuid, [(_UB_S1, 1, _UB_T1, l1, "append")]),
    )

    # THE APPEND: odd keys, one data copy, two metadata commits
    o.filter(F.col("o_orderkey") % 2 == 1).coalesce(1).write.mode(
        "overwrite"
    ).partitionBy("o_orderpriority").parquet(os.path.join(data_dir, "c1"))
    new_files = _pfiles(root, "data/c1")
    _delta_append(1, new_files)
    e2 = [entry(ADDED, _UB_S2, 2, p, v) for p, v in new_files]
    m2 = write_manifest(meta_dir, "m2-uw.avro", e2)
    l2 = write_manifest_list(
        meta_dir, _UB_S2, [r1, list_record(m2, e2, _UB_S2, 2)]
    )
    # the Iceberg commit lands LAST — both trees are durable before
    # readers see v2
    with iceberg_meta.update(root) as tm:
        iceberg_meta.add_snapshot(tm, _UB_S2, 2, _UB_T2, l2, "append")
        tm["last-updated-ms"] = _UB_T2

    # --- read back through both chains
    delta_files = [
        {
            "path": os.path.join(root, rel),
            "pval": add["partitionValues"]["o_orderpriority"],
        }
        for rel, add in sorted(delta_log.snapshot(log_dir).live.items())
    ]
    ice_files = iceberg_meta.plan(
        _iceberg_snapshot(iceberg_meta.load(root))
    )[0]
    # single-copy gate: both chains name exactly the files on disk
    on_disk = {p for p, _ in _pfiles(root, "data/c0")} | {
        p for p, _ in _pfiles(root, "data/c1")
    }
    if {d["path"] for d in delta_files} != on_disk:
        raise ValueError("delta chain diverges from the on-disk copy")
    if {d["path"] for d in ice_files} != on_disk:
        raise ValueError("iceberg chain diverges from the on-disk copy")

    ddf = _scan_with_partition(spark, delta_files)
    idf = _scan_with_partition(spark, ice_files)
    assert_multiset_equal(ddf, idf, "delta and iceberg chains diverge")

    both = ddf.withColumn("format", F.lit("delta")).unionByName(
        idf.withColumn("format", F.lit("iceberg"))
    )
    return both.groupBy("format").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("total_cents"),
    )


# --- Hudi change-data-capture read ---------------------------------------------------

_CDC_ORACLE = """
WITH ch AS (
  SELECT 'U' AS op,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS before_cents,
         CAST(floor((o_totalprice + 1000) * 100 + 0.5) AS BIGINT)
             AS after_cents
  FROM orders
  WHERE o_orderkey % 2 = 0 AND o_orderpriority = '1-URGENT'
        AND o_orderkey % 10 <> 6
  UNION ALL
  SELECT 'D', CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT), 0
  FROM orders
  WHERE o_orderkey % 2 = 0 AND o_orderpriority = '1-URGENT'
        AND o_orderkey % 10 = 6
  UNION ALL
  SELECT 'I', 0, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
  FROM orders
  WHERE o_orderkey % 2 = 1 AND o_orderpriority = '1-URGENT'
)
SELECT op,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(before_cents) AS BIGINT) AS before_cents,
       CAST(SUM(after_cents) AS BIGINT) AS after_cents
FROM ch GROUP BY op
"""

_CDC_SCHEMA = {
    "type": "record",
    "name": "hudi_cdc_record",
    "fields": [
        {"name": "op", "type": "string"},
        {"name": "o_orderkey", "type": "long"},
        {"name": "before_cents", "type": "long"},
        {"name": "after_cents", "type": "long"},
    ],
}


@register("src_hudi_cdc", oracle=_CDC_ORACLE)
def q_src_hudi_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi CHANGE-DATA-CAPTURE read (RFC-51 / Hudi 0.13's
    `hoodie.table.cdc.enabled`): an upsert commit persists a
    supplemental `-cdc` log file carrying op + BEFORE/AFTER images,
    and a CDC query over the instant range serves those records
    without diffing snapshots — upgrading [[src_hudi_incremental]]
    (which only sees the post-image rows) to full before/after
    semantics, the fourth cell of the engine's CDC matrix (Delta CDF,
    Iceberg changelog, Hudi commit tail, now Hudi CDC).

    Staged: c1 base insert (even keys per-priority file groups); c2
    upserts the 1-URGENT group — +1000 updates (keys % 10 ≠ 6),
    delete tombstones (% 10 = 6), odd-key inserts — writing the new
    base slice AND the cdc log (this engine's Avro OCF container, as
    in [[src_hudi_mor]]; write and decode both run executor-side).

    The honesty gate recomputes the change set the EXPENSIVE way — a
    distributed full-outer key diff of the c1 vs c2 snapshots — and
    requires the cdc rows to match it exactly (`exceptAll` both
    directions): a writer that logged wrong before-images would pass
    aggregate counts but fails the diff.

    Graded: per-op row counts + summed before/after cents.

    Scale: the CDC read is O(changed rows) — the entire point: a 1%
    upsert on a 100 TB table yields a CDC scan of that 1%, while the
    snapshot-diff equivalent reads both full snapshots; the gate here
    IS that expensive diff, run once to certify the cheap path.
    """
    from pyspark import cloudpickle

    from random_forest_using_hadoop_spark import iceberg_format as _icefmt

    cloudpickle.register_pickle_by_value(_icefmt)
    _ocf_write = _icefmt.ocf_write
    _ocf_read_bytes = _icefmt.ocf_read_bytes

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    root = _tmp(sf_dir, "hudi_cdc")
    shutil.rmtree(root, ignore_errors=True)
    hudi_timeline.create(
        root, "orders_cdc", "COPY_ON_WRITE", cdc_enabled="true", **_ORDERS
    )
    c1, c2 = "20240101000000", "20240102000000"
    urgent = "1-URGENT"
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")

    # c1: per-priority base file groups, one distributed write
    hudi_timeline.begin(root, c1, "commit")
    hudi_timeline.write_slices(
        o.filter(F.col("o_orderkey") % 2 == 0),
        root,
        c1,
        F.col("o_orderpriority"),
    )
    hudi_timeline.complete(root, c1, "commit", {})

    # c2: upsert the urgent group — new base slice + the CDC log
    u = F.col("o_orderpriority") == urgent
    even_u = (F.col("o_orderkey") % 2 == 0) & u
    updates = o.filter(even_u & (F.col("o_orderkey") % 10 != 6)).select(
        F.lit("U").alias("op"),
        "o_orderkey",
        cents.alias("before_cents"),
        (cents + 100_000).alias("after_cents"),
    )
    deletes = o.filter(even_u & (F.col("o_orderkey") % 10 == 6)).select(
        F.lit("D").alias("op"),
        "o_orderkey",
        cents.alias("before_cents"),
        F.lit(0).cast("bigint").alias("after_cents"),
    )
    inserts = o.filter((F.col("o_orderkey") % 2 == 1) & u).select(
        F.lit("I").alias("op"),
        "o_orderkey",
        F.lit(0).cast("bigint").alias("before_cents"),
        cents.alias("after_cents"),
    )
    changes = updates.unionByName(deletes).unionByName(inserts)

    # new slice = c1 urgent rows with updates applied, deletes dropped,
    # inserts appended (cents/100 restores the double price domain)
    merged = (
        o.filter(even_u & (F.col("o_orderkey") % 10 != 6))
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000)
        .unionByName(o.filter((F.col("o_orderkey") % 2 == 1) & u))
    )
    cdc_dir = os.path.join(root, urgent)
    cdc_name = hudi_timeline.log_name(f"fg-{urgent}", c2, cdc=True)
    cdc_schema = _CDC_SCHEMA

    def _write_cdc(it):
        import os as _os

        import pandas as _pd

        recs = []
        for pdf in it:
            recs.extend(
                {
                    "op": str(op),
                    "o_orderkey": int(k),
                    "before_cents": int(b),
                    "after_cents": int(a),
                }
                for op, k, b, a in zip(
                    pdf["op"],
                    pdf["o_orderkey"],
                    pdf["before_cents"],
                    pdf["after_cents"],
                )
            )
        if recs:
            _ocf_write(_os.path.join(cdc_dir, cdc_name), cdc_schema, recs)
        yield _pd.DataFrame({"n": _pd.Series([len(recs)], dtype="int64")})

    # the new base slice and the cdc log are independent jobs into
    # disjoint files: overlap them, then complete the instant
    os.makedirs(cdc_dir, exist_ok=True)
    hudi_timeline.begin(root, c2, "commit")
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_slice = pool.submit(
            hudi_timeline.write_slices, merged, root, c2, urgent
        )
        f_cdc = pool.submit(
            lambda: changes.coalesce(1)
            .mapInPandas(_write_cdc, schema="n long")
            .agg(F.sum("n"))
            .first()[0]
        )
        (c2_file,) = f_slice.result()
        n_cdc = f_cdc.result()
    hudi_timeline.complete(
        root, c2, "commit", {"operationType": "UPSERT", "cdc": True}
    )

    # --- CDC read: instant range (c1, c2], executor-side decode
    cdc_paths = [
        lf["path"]
        for lf in hudi_timeline.log_files(root, urgent, upto=c2)
        if lf["cdc"]
    ]
    if not cdc_paths:
        raise ValueError("no cdc files for the instant range")

    def _decode_cdc(it):
        import pandas as _pd

        for pdf in it:
            for path in pdf["path"]:
                with open(path, "rb") as fh:
                    _, recs, _ = _ocf_read_bytes(fh.read(), source=path)
                if recs:
                    yield _pd.DataFrame.from_records(recs)[
                        ["op", "o_orderkey", "before_cents", "after_cents"]
                    ]

    cdc = (
        local_rows(spark, [(p,) for p in cdc_paths], "path string")
        .repartition(len(cdc_paths))
        .mapInPandas(
            _decode_cdc,
            schema="op string, o_orderkey long, before_cents long, "
            "after_cents long",
        )
        # NOT checkpointed: tests/test_plans.py pins the MapInPandas
        # decode in this key's returned plan (the Arrow-batch gate);
        # the one-job multiset gate already cut the re-decodes to two
    )

    # honesty gate: cdc ≡ the distributed snapshot diff
    before_snap = spark.read.parquet(
        hudi_timeline.slice_path(root, urgent, f"fg-{urgent}", c1)
    ).select("o_orderkey", cents.alias("b"))
    after_snap = spark.read.parquet(c2_file).select(
        "o_orderkey", cents.alias("a")
    )
    diff = (
        before_snap.join(after_snap, "o_orderkey", "full_outer")
        .select(
            F.when(F.col("b").isNull(), "I")
            .when(F.col("a").isNull(), "D")
            .otherwise("U")
            .alias("op"),
            "o_orderkey",
            F.coalesce(F.col("b"), F.lit(0)).alias("before_cents"),
            F.coalesce(F.col("a"), F.lit(0)).alias("after_cents"),
        )
        .filter(
            (F.col("op") != "U")
            | (F.col("before_cents") != F.col("after_cents"))
        )
    )
    assert_multiset_equal(cdc, diff, "cdc log != snapshot diff")
    if n_cdc != changes.count():
        raise ValueError("cdc writer dropped records")

    return cdc.groupBy("op").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("before_cents").cast("bigint").alias("before_cents"),
        F.sum("after_cents").cast("bigint").alias("after_cents"),
    )


# --- Hudi rollback -------------------------------------------------------------------

_ROLLBACK_ORACLE = """
WITH latest AS (
  SELECT o_orderpriority,
         CASE WHEN o_orderpriority = '1-URGENT'
              THEN o_totalprice + 1000 ELSE o_totalprice END AS price
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderpriority, o_totalprice
  FROM orders
  WHERE o_orderkey % 2 = 1 AND o_orderpriority = '1-URGENT'
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(price * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents,
       CAST(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END
            AS BIGINT) AS files_rolled_back
FROM latest GROUP BY o_orderpriority
"""


@register("sink_hudi_rollback", oracle=_ROLLBACK_ORACLE)
def q_sink_hudi_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi ROLLBACK: the failed c3 write (requested+inflight markers,
    poison data file, no completed action) is undone — its data files
    deleted, its timeline markers removed, and a `<instant>.rollback`
    action recording both committed. Completes the table-services
    family ([[sink_hudi_clean]] reclaims SUPERSEDED slices of
    completed commits; rollback reclaims INCOMPLETE commits' garbage —
    the two reclamation paths the spec keeps strictly apart).

    Gates:
    - the latest snapshot is IDENTICAL before and after (exceptAll
      both directions) — an incomplete instant was never visible, so
      rolling it back must change nothing a reader sees;
    - exactly the poison file is deleted (the victim partition's c3
      slice), every completed commit's file survives;
    - the c3 requested/inflight markers are gone from the timeline —
      a fresh writer can reuse the instant namespace;
    - rolling back again is a no-op (idempotent maintenance).

    Graded: the latest-snapshot rollup with per-partition
    rolled-back-file counts from the .rollback metadata.

    Scale: rollback is O(failed instant's files) — timeline metadata
    names them; no data is read, which is why Hudi runs rollback
    lazily on the next writer's startup.
    """
    root, prios, (c1, c2, c3) = _hudi_stage(spark, sf_dir)
    urgent = "1-URGENT"
    victim = sorted(p for p in prios if p != urgent)[0]

    before = spark.read.parquet(*_hudi_snapshot_files(root)).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).localCheckpoint()

    def _rollback(instant: str, rb_instant: str) -> dict[str, list[str]]:
        completed = set(hudi_timeline.completed(root))
        if instant in completed:
            raise ValueError("refusing to roll back a completed commit")
        per_part: dict[str, list[str]] = {}
        for bf in hudi_timeline.base_files(root):
            if bf["instant"] == instant:
                os.remove(bf["path"])
                per_part.setdefault(bf["partition"], []).append(
                    os.path.basename(bf["path"])
                )
        hudi_timeline.discard(root, instant, "commit")
        hudi_timeline.complete(
            root,
            rb_instant,
            "rollback",
            {
                "instantToRollback": instant,
                "partitionMetadata": {
                    p: {"deletedFiles": fs} for p, fs in per_part.items()
                },
            },
        )
        return per_part

    removed = _rollback(c3, "20240104000000")
    if list(removed) != [victim] or len(removed[victim]) != 1:
        raise ValueError(f"unexpected rollback plan: {removed}")
    # idempotent: a second rollback finds nothing
    if _rollback(c3, "20240105000000") != {}:
        raise ValueError("rollback is not idempotent")

    # gates: timeline cleaned, completed slices intact, snapshot equal
    if hudi_timeline.is_pending(root, c3, "commit"):
        raise ValueError("rollback left the failed instant's markers")
    if any(bf["instant"] == c3 for bf in hudi_timeline.base_files(root)):
        raise ValueError("rollback left the failed instant's data")
    if hudi_timeline.completed(root) != [c1, c2]:
        raise ValueError("rollback damaged completed commits")
    after = spark.read.parquet(*_hudi_snapshot_files(root)).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    assert_multiset_equal(after, before, "rollback changed visible rows")

    rolled = local_rows(spark, 
        [(p, len(fs)) for p, fs in removed.items()],
        "o_orderpriority string, files_rolled_back bigint",
    )
    return (
        after.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            ).alias("total_cents"),
        )
        .join(F.broadcast(rolled), "o_orderpriority", "left")
        .withColumn(
            "files_rolled_back",
            F.coalesce(F.col("files_rolled_back"), F.lit(0)).cast("bigint"),
        )
    )
