"""Apache Hudi COPY-ON-WRITE reader: timeline-resolved snapshot and
time-travel reads over a staged Hudi table layout.

Implemented from the PUBLIC Hudi spec (hudi.apache.org/tech-specs);
the timeline and the base-file names live in `hudi_timeline`. COW
writes produce a NEW FILE SLICE (a new base file under the same fileId)
per touched file group, and a snapshot read picks, per file group, the
latest slice whose instant is a COMPLETED commit ≤ the requested
instant. Incomplete instants (requested/inflight without the completed
action file) are invisible — that is Hudi's MVCC isolation.

Reference analog: none citable (the reference checkout is empty —
SURVEY.md §0).
"""

from __future__ import annotations

import os
import shutil
import tempfile
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from random_forest_using_hadoop_spark import hudi_timeline
from random_forest_using_hadoop_spark.operators.scans import (
    _norm_file_uri,
    _tmp,
)
from random_forest_using_hadoop_spark.registry import register
from random_forest_using_hadoop_spark.sources import load_table
from random_forest_using_hadoop_spark.helpers import (
    assert_multiset_equal,
    local_rows,
)

# every table staged here is an orders table, keyed and partitioned alike
_ORDERS = {
    "recordkey_fields": "o_orderkey",
    "partition_fields": "o_orderpriority",
}


def _hudi_snapshot_files(root: str, as_of: str | None = None) -> list[str]:
    """Snapshot file set per the COW read rule: latest file slice per
    file group among COMPLETED commits ≤ `as_of` (default: latest).
    Slices from incomplete or newer instants are skipped entirely."""
    completed = set(hudi_timeline.completed(root))
    if not completed:
        raise ValueError(f"no completed commits in the timeline of {root}")
    horizon = as_of or max(completed)
    best: dict[tuple[str, str], dict] = {}
    for bf in hudi_timeline.base_files(root):
        if bf["instant"] not in completed or bf["instant"] > horizon:
            continue
        key = (bf["partition"], bf["file_id"])
        if key not in best or bf["instant"] > best[key]["instant"]:
            best[key] = bf
    return sorted(b["path"] for b in best.values())


_HUDI_ORACLE = """
WITH latest AS (
  SELECT o_orderpriority,
         CASE WHEN o_orderpriority = '1-URGENT'
              THEN o_totalprice + 1000 ELSE o_totalprice END AS price
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderpriority, o_totalprice
  FROM orders
  WHERE o_orderkey % 2 = 1 AND o_orderpriority = '1-URGENT'
),
c1 AS (
  SELECT o_orderpriority, o_totalprice AS price
  FROM orders WHERE o_orderkey % 2 = 0
)
SELECT 'latest' AS snapshot, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(price * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM latest GROUP BY o_orderpriority
UNION ALL
SELECT 'asof_c1', o_orderpriority,
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CAST(floor(price * 100 + 0.5) AS BIGINT)) AS BIGINT)
FROM c1 GROUP BY o_orderpriority
"""


@register("src_hudi_cow", oracle=_HUDI_ORACLE)
def q_src_hudi_cow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi COPY-ON-WRITE snapshot + time-travel read over a staged
    table with a three-instant history:

    - c1 COMMIT: even-orderkey rows, one file group per
      o_orderpriority partition, Hudi meta columns stamped
      (_hoodie_commit_time / _hoodie_record_key / _hoodie_partition_path);
    - c2 COMMIT (UPSERT): the 1-URGENT file group gets a NEW FILE
      SLICE — same fileId, newer instant — containing its c1 rows with
      o_totalprice + 1000 (the update) MERGED with the partition's odd
      keys (the insert). The other four file groups are untouched: COW
      rewrites only touched groups, never the table;
    - c3 INFLIGHT: a `.commit.requested` + `.inflight` pair WITHOUT
      the completed action, plus a poison data file (prices doubled)
      under a newer slice of a healthy group — a reader that trusts
      directory listings over the timeline, or that misses the
      completed-action check, silently reads poison and fails the
      value hash.

    Both snapshots resolve through the timeline (`asof_c1` = time
    travel to the first instant; `latest` must pick the c2 slice for
    1-URGENT and c1 slices elsewhere, and NEVER the c3 file), then one
    distributed scan reads the union of both file sets with rows
    fanned to snapshots via a broadcast (fname → snapshot) join.

    Scale: timeline + file-group resolution are O(files) metadata;
    the data path is a single scan regardless of snapshot count; an
    upsert's cost is O(touched file groups) — the COW contract.
    """
    root, prios, (c1, c2, c3) = _hudi_stage(spark, sf_dir)

    # resolve both snapshots through the timeline
    latest_files = _hudi_snapshot_files(root)
    c1_files = _hudi_snapshot_files(root, as_of=c1)
    if any(f"_{c3}.parquet" in f for f in latest_files):
        raise ValueError("inflight instant leaked into the snapshot")
    # expected groups: every group c1 staged (priorities with even keys)
    # plus the urgent group c2 always (re)writes — on the regular fixture
    # that is one per priority, but an adversarial corpus may have
    # single-parity priorities (no c1 group)
    expected_groups = {
        (bf["partition"], bf["file_id"])
        for bf in hudi_timeline.base_files(root)
        if bf["instant"] == c1
    } | {("1-URGENT", "fg-1-URGENT")}
    if len(latest_files) != len(expected_groups):
        raise ValueError(
            f"expected {len(expected_groups)} file groups, "
            f"got {len(latest_files)}"
        )

    labels = local_rows(spark, 
        [(os.path.basename(f), "latest") for f in latest_files]
        + [(os.path.basename(f), "asof_c1") for f in c1_files],
        "fname string, snapshot string",
    )
    all_files = sorted(set(latest_files) | set(c1_files))
    # partition paths may contain spaces ('4-NOT SPECIFIED'):
    # input_file_name() is a percent-encoded URI, so normalize through
    # _norm_file_uri before taking the basename (the r13 advice trap)
    data = spark.read.parquet(*all_files).withColumn(
        "fname",
        F.element_at(
            F.split(_norm_file_uri(F.input_file_name()), "/"), -1
        ),
    )
    return (
        data.join(F.broadcast(labels), "fname")
        .groupBy("snapshot", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            ).alias("total_cents"),
        )
    )


def _hudi_stage(
    spark: SparkSession, sf_dir: str
) -> tuple[str, list[str], tuple[str, str, str]]:
    """Stage the shared three-instant COW table (see q_src_hudi_cow's
    docstring for the history). Returns (root, partitions, instants)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    root = _tmp(sf_dir, "hudi_cow")
    shutil.rmtree(root, ignore_errors=True)
    hudi_timeline.create(root, "orders_cow", "COPY_ON_WRITE", **_ORDERS)
    c1, c2, c3 = "20240101000000", "20240102000000", "20240103000000"

    def _meta(df: DataFrame, instant: str) -> DataFrame:
        return df.select(
            F.lit(instant).alias("_hoodie_commit_time"),
            F.col("o_orderkey").cast("string").alias("_hoodie_record_key"),
            F.col("o_orderpriority").alias("_hoodie_partition_path"),
            "o_orderkey",
            "o_totalprice",
            "o_orderpriority",
        )

    evens = _meta(o.filter(F.col("o_orderkey") % 2 == 0), c1)
    # ONE distributed job writes every file group (one per priority).
    # The priority-spine collect is an independent job — overlap it
    # with the write so the c1 tail back-fills its executors.
    hudi_timeline.begin(root, c1, "commit")
    with ThreadPoolExecutor(max_workers=1) as pool:
        fut_prios = pool.submit(
            lambda: [
                r[0]
                for r in o.select("o_orderpriority").distinct().collect()
            ]
        )
        hudi_timeline.write_slices(evens, root, c1, F.col("o_orderpriority"))
        prios = fut_prios.result()
    stats1 = {p: {"fileId": f"fg-{p}"} for p in sorted(prios)}
    hudi_timeline.complete(
        root,
        c1,
        "commit",
        {"operationType": "INSERT", "partitionToWriteStats": stats1},
    )

    # c2: upsert = new slice for the 1-URGENT group only
    urgent = "1-URGENT"
    updated = o.filter(
        (F.col("o_orderkey") % 2 == 0) & (F.col("o_orderpriority") == urgent)
    ).withColumn("o_totalprice", F.col("o_totalprice") + 1000)
    inserted = o.filter(
        (F.col("o_orderkey") % 2 == 1) & (F.col("o_orderpriority") == urgent)
    )
    # c3: INFLIGHT poison — newer slice of a healthy group, prices
    # doubled, completed action deliberately absent
    victim = sorted(p for p in prios if p != urgent)[0]
    poison = _meta(
        o.filter(
            (F.col("o_orderkey") % 2 == 0)
            & (F.col("o_orderpriority") == victim)
        ).withColumn("o_totalprice", F.col("o_totalprice") * 2),
        c3,
    )
    # the two slice writes touch disjoint partitions and scratch dirs:
    # run them as concurrent jobs; c3 is never completed
    hudi_timeline.begin(root, c2, "commit")
    hudi_timeline.begin(root, c3, "commit")
    with ThreadPoolExecutor(max_workers=2) as pool:
        upsert = _meta(updated.unionByName(inserted), c2)
        f2 = pool.submit(hudi_timeline.write_slices, upsert, root, c2, urgent)
        f3 = pool.submit(hudi_timeline.write_slices, poison, root, c3, victim)
        f2.result()
        f3.result()
    hudi_timeline.complete(
        root,
        c2,
        "commit",
        {
            "operationType": "UPSERT",
            "partitionToWriteStats": {urgent: {"fileId": f"fg-{urgent}"}},
        },
    )
    return root, sorted(prios), (c1, c2, c3)


_HUDI_INCR_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_inserted,
       CAST(SUM(CAST(floor(
           (CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice + 1000
                 ELSE o_totalprice END) * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM orders
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderpriority
"""


@register("src_hudi_incremental", oracle=_HUDI_INCR_ORACLE)
def q_src_hudi_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi INCREMENTAL QUERY over the shared COW fixture: records
    written in the instant range (c1, c2] — Hudi's CDC-lite read mode.
    On COW the incremental set is the rows of each NEW file slice
    committed in the range whose `_hoodie_commit_time` falls in the
    range — the slice rewrite carries forward old rows stamped with
    their ORIGINAL commit time, so the filter must run on the meta
    column, not just the file list... except that an upsert rewrites
    the carried rows WITH the new commit time (they were re-written,
    hence re-emitted): the spec emits every row of the new slice, and
    a consumer dedups by record key. Here the c2 slice holds the
    urgent partition's updates (+1000) and inserts (odd keys), all
    stamped c2 — the graded output proves the incremental read emits
    EXACTLY the c2 slice (other partitions contribute nothing, the
    inflight c3 contributes nothing) with an inserted-row count split
    out via the record-key parity.

    Scale: the file list for an incremental read is O(slices committed
    in the range) — the whole point versus diffing two snapshots; one
    distributed scan of exactly those files.
    """
    root, prios, (c1, c2, c3) = _hudi_stage(spark, sf_dir)
    completed = set(hudi_timeline.completed(root))
    in_range = [
        bf
        for bf in hudi_timeline.base_files(root)
        if c1 < bf["instant"] <= c2 and bf["instant"] in completed
    ]
    if not in_range:
        raise ValueError("incremental range (c1, c2] resolved no slices")
    if any(bf["instant"] == c3 for bf in in_range):
        raise ValueError("inflight instant leaked into incremental range")
    data = spark.read.parquet(*sorted(bf["path"] for bf in in_range))
    return (
        data.filter(
            (F.col("_hoodie_commit_time") > c1)
            & (F.col("_hoodie_commit_time") <= c2)
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(
                (F.col("o_orderkey") % 2 == 1).cast("bigint")
            ).alias("n_inserted"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            ).alias("total_cents"),
        )
    )


# --- streaming commit tail -----------------------------------------------------

_STREAM_HUDI_ORACLE = """
SELECT s.seq,
       CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_written,
       CAST(COALESCE(SUM(CAST(floor(
           (CASE WHEN s.seq = 2 AND o.o_orderkey % 2 = 0
                 THEN o.o_totalprice + 1000
                 ELSE o.o_totalprice END) * 100 + 0.5) AS BIGINT)), 0)
            AS BIGINT) AS total_cents
FROM (VALUES (1), (2)) AS s(seq)
LEFT JOIN orders o
       ON ((s.seq = 1 AND o.o_orderkey % 2 = 0)
        OR (s.seq = 2 AND o.o_orderpriority = '1-URGENT'))
GROUP BY s.seq
"""


@register("stream_hudi_commits", oracle=_STREAM_HUDI_ORACLE)
def q_stream_hudi_commits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING tail of the Hudi timeline (the Hudi sibling of
    stream_delta_commits / stream_iceberg_commits — completes the
    three-format streaming CDC matrix): Structured Streaming tails the
    timeline's COMPLETED commits (`hudi_timeline.stream`), so the
    inflight c3 instant (and its poison data file) can never enter a
    micro-batch — and each batch resolves its newly visible instants
    to the file slices that instant wrote, computing per-commit
    written-row stats.

    Graded per commit ordinal: seq 1 = the even-key base insert,
    seq 2 = the 1-URGENT upsert slice (its updates at +1000 AND its
    inserts — a COW slice re-emits every row it rewrote, the
    incremental-consumer contract). The foreachBatch sink follows the
    at-least-once discipline: instants already processed are skipped,
    each batch's contribution is computed fully before the atomic
    driver-side merge, and batch ids are deduped.

    Scale: the stream input is the timeline (bounded metadata); each
    refresh reads O(slices written by new commits), never the table.
    """
    root, prios, (c1, c2, c3) = _hudi_stage(spark, sf_dir)
    done_instants: set[str] = set()
    done_batches: set[int] = set()
    acc: dict[str, list[int]] = {}

    def sink(batch_df, batch_id: int) -> None:
        if batch_id in done_batches:
            return
        # bounded: timeline rows
        instants = {
            r["instant"] for r in batch_df.select("instant").collect()
        }
        todo = sorted(instants - done_instants)
        new_results: dict[str, list[int]] = {}
        for inst in todo:
            paths = sorted(
                bf["path"]
                for bf in hudi_timeline.base_files(root)
                if bf["instant"] == inst
            )
            if not paths:
                new_results[inst] = [0, 0]
                continue
            row = (
                spark.read.parquet(*paths)
                .filter(F.col("_hoodie_commit_time") == inst)
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(
                        F.floor(
                            F.col("o_totalprice") * 100 + F.lit(0.5)
                        ).cast("bigint")
                    ).alias("c"),
                )
                .collect()[0]
            )
            new_results[inst] = [row["n"], row["c"] or 0]
        for inst, (n, c) in new_results.items():
            got = acc.setdefault(inst, [0, 0])
            got[0] += n
            got[1] += c
        done_instants.update(todo)
        done_batches.add(batch_id)

    ckpt = tempfile.mkdtemp(prefix="hudi_stream_ckpt_")
    try:
        query = (
            hudi_timeline.stream(spark, root)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        query.stop()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    if c3 in acc:
        raise ValueError("inflight instant leaked into the stream")
    ordinal = {c1: 1, c2: 2}
    rows = [
        (ordinal[inst], int(n), int(c))
        for inst, (n, c) in sorted(acc.items())
        if inst in ordinal
    ]
    spine = local_rows(spark, [(1,), (2,)], "seq int")
    got = (
        local_rows(spark, 
            rows, "seq int, n_written bigint, total_cents bigint"
        )
        if rows
        else local_rows(spark, 
            [], "seq int, n_written bigint, total_cents bigint"
        )
    )
    return spine.join(got, "seq", "left").select(
        "seq",
        F.coalesce("n_written", F.lit(0).cast("bigint")).alias("n_written"),
        F.coalesce("total_cents", F.lit(0).cast("bigint")).alias(
            "total_cents"
        ),
    )


# --- merge-on-read -------------------------------------------------------------

_MOR_ORACLE = """
WITH ro AS (
  SELECT o_orderpriority, o_totalprice AS price
  FROM orders WHERE o_orderkey % 2 = 0
),
snap AS (
  SELECT o_orderpriority, o_totalprice AS price
  FROM orders
  WHERE o_orderkey % 2 = 0 AND o_orderpriority <> '1-URGENT'
  UNION ALL
  SELECT o_orderpriority, o_totalprice + 1000
  FROM orders
  WHERE o_orderkey % 2 = 0 AND o_orderpriority = '1-URGENT'
        AND o_orderkey % 10 <> 6
  UNION ALL
  SELECT o_orderpriority, o_totalprice
  FROM orders
  WHERE o_orderkey % 2 = 1 AND o_orderpriority = '1-URGENT'
)
SELECT 'read_optimized' AS mode, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(price * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM ro GROUP BY o_orderpriority
UNION ALL
SELECT 'snapshot', o_orderpriority,
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CAST(floor(price * 100 + 0.5) AS BIGINT)) AS BIGINT)
FROM snap GROUP BY o_orderpriority
"""

_MOR_LOG_SCHEMA = {
    "type": "record",
    "name": "mor_log_record",
    "fields": [
        {"name": "op", "type": "string"},
        {"name": "o_orderkey", "type": "long"},
        {"name": "o_totalprice", "type": "double"},
        {"name": "o_orderpriority", "type": "string"},
    ],
}


@register("src_hudi_mor", oracle=_MOR_ORACLE)
def q_src_hudi_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi MERGE-ON-READ: base files + a LOG FILE of
    updates/deletes/inserts against one file group, read BOTH ways —

    - READ-OPTIMIZED: base files only, logs ignored — the
      lower-latency/stale-data trade MOR exists to offer;
    - SNAPSHOT: base merged with the file group's log records at read
      time — latest log record per record key wins over base, delete
      tombstones drop the row, log-only keys are the inserts.

    Staged: the c1 base insert (even keys per-partition file groups)
    via a `.commit`; then a `.deltacommit` whose log file (named per
    the spec's `.<fileId>_<baseInstant>.log.<version>_<token>` scheme,
    hidden dotfile) carries the 1-URGENT group's changes: updates
    (+1000 on even keys except %10==6), deletes (%10==6 tombstones),
    inserts (the partition's odd keys). The log CONTAINER here is this
    engine's Avro OCF codec standing in for the HoodieLogFormat block
    framing — the merge semantics (key-level latest-wins, tombstones,
    log-only inserts) are the spec's; the block container is
    simplified and the docstring says so.

    Both the log write AND the log decode run executor-side
    (`mapInPandas` + binaryFile, the src_avro machinery) — logs are
    data-sized, never driver payload. The merge is one left join of
    base against the group's latest-per-key log state plus a union of
    inserts — O(group + its log), the MOR compaction-debt shape.

    Scale: read-optimized is a plain columnar scan; snapshot pays one
    equi-join per log-bearing file group — exactly the cost profile
    that makes real tables schedule compaction when log debt grows.
    """
    root, urgent, c1, c2 = _hudi_stage_mor(spark, sf_dir)
    base, snapshot = _hudi_mor_merged(spark, root, urgent, c1)

    def _agg(df: DataFrame, mode: str) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.lit(mode).alias("mode"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            ).alias("total_cents"),
        )
    return _agg(base, "read_optimized").unionByName(
        _agg(snapshot, "snapshot")
    ).select("mode", "o_orderpriority", "n_rows", "total_cents")


def _hudi_stage_mor(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str, str, str]:
    """Stage the shared MOR fixture (see q_src_hudi_mor's docstring).
    Returns (root, urgent_partition, base_instant, delta_instant)."""
    from pyspark import cloudpickle

    from random_forest_using_hadoop_spark import iceberg_format as _icefmt

    cloudpickle.register_pickle_by_value(_icefmt)
    _ocf_write = _icefmt.ocf_write

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    root = _tmp(sf_dir, "hudi_mor")
    shutil.rmtree(root, ignore_errors=True)
    hudi_timeline.create(root, "orders_mor", "MERGE_ON_READ", **_ORDERS)
    c1, c2 = "20240101000000", "20240102000000"
    urgent = "1-URGENT"

    # c1: base files, one per partition, single distributed job
    evens = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.lit(c1).alias("_hoodie_commit_time"),
        F.col("o_orderkey").cast("string").alias("_hoodie_record_key"),
        "o_orderkey",
        "o_totalprice",
        "o_orderpriority",
    )

    # c2: deltacommit — ONE log file against the urgent file group,
    # written executor-side
    upd = o.filter(
        (F.col("o_orderkey") % 2 == 0)
        & (F.col("o_orderpriority") == urgent)
        & (F.col("o_orderkey") % 10 != 6)
    ).select(
        F.lit("u").alias("op"), "o_orderkey",
        (F.col("o_totalprice") + 1000).alias("o_totalprice"),
        "o_orderpriority",
    )
    dels = o.filter(
        (F.col("o_orderkey") % 2 == 0)
        & (F.col("o_orderpriority") == urgent)
        & (F.col("o_orderkey") % 10 == 6)
    ).select(
        F.lit("d").alias("op"), "o_orderkey",
        F.lit(0.0).alias("o_totalprice"), "o_orderpriority",
    )
    ins = o.filter(
        (F.col("o_orderkey") % 2 == 1)
        & (F.col("o_orderpriority") == urgent)
    ).select(
        F.lit("i").alias("op"), "o_orderkey", "o_totalprice",
        "o_orderpriority",
    )
    log_dir = os.path.join(root, urgent)
    log_name = hudi_timeline.log_name(f"fg-{urgent}", c1)
    log_schema = _MOR_LOG_SCHEMA

    def _write_log(it):
        import os as _os

        import pandas as _pd

        recs: list[dict] = []
        for pdf in it:
            recs.extend(
                {
                    "op": str(op),
                    "o_orderkey": int(k),
                    "o_totalprice": float(p),
                    "o_orderpriority": str(v),
                }
                for op, k, p, v in zip(
                    pdf["op"],
                    pdf["o_orderkey"],
                    pdf["o_totalprice"],
                    pdf["o_orderpriority"],
                )
            )
        if recs:
            _ocf_write(_os.path.join(log_dir, log_name), log_schema, recs)
        yield _pd.DataFrame({"n": _pd.Series([len(recs)], dtype="int64")})

    # the base write and the log write are independent jobs into
    # disjoint paths (the log dir is pre-created so the executor-side
    # OCF write never races the slice renames): overlap them, then
    # complete both instants in instant order
    os.makedirs(log_dir, exist_ok=True)
    instants = ((c1, "commit"), (c2, "deltacommit"))
    for instant, action in instants:
        hudi_timeline.begin(root, instant, action)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_base = pool.submit(
            hudi_timeline.write_slices,
            evens,
            root,
            c1,
            F.col("o_orderpriority"),
        )
        f_log = pool.submit(
            lambda: upd.unionByName(dels)
            .unionByName(ins)
            .coalesce(1)
            .mapInPandas(_write_log, schema="n long")
            .collect()
        )
        f_base.result()
        f_log.result()
    for instant, action in instants:
        hudi_timeline.complete(root, instant, action, {})
    return root, urgent, c1, c2


def _hudi_group_logs(root: str, part: str, base_instant: str) -> list[str]:
    """Log files attached to `part`'s file group AT `base_instant` —
    the spec's attachment rule: a log file binds to the base slice
    whose instant is embedded in its name. After compaction writes a
    newer base slice, these logs simply stop applying (their base
    instant is older than the group's latest slice)."""
    return [
        lf["path"]
        for lf in hudi_timeline.log_files(root, part)
        if lf["instant"] == base_instant and not lf["cdc"]
    ]


def _hudi_mor_merged(
    spark: SparkSession, root: str, urgent: str, c1: str
) -> tuple[DataFrame, DataFrame]:
    """(read_optimized, snapshot) DataFrames for the MOR fixture: base
    files only, and base merged with the urgent group's log records
    (latest-per-key wins, tombstones drop, log-only keys insert)."""
    from pyspark import cloudpickle
    from pyspark.sql import Window

    from random_forest_using_hadoop_spark import iceberg_format as _icefmt

    cloudpickle.register_pickle_by_value(_icefmt)
    _ocf_read_bytes = _icefmt.ocf_read_bytes

    base_files = [
        bf["path"]
        for bf in hudi_timeline.base_files(root)
        if bf["instant"] == c1
    ]
    base = spark.read.parquet(*sorted(base_files))

    # --- snapshot: merge the urgent group's log (executor-side decode).
    # Log files are DOT-PREFIXED per the spec, and Spark's file sources
    # (binaryFile included) silently skip hidden files — the reason
    # real Hudi ships its own log reader instead of a Spark source.
    # So: list the log paths driver-side (bounded metadata, like any
    # file-slice listing) and fan the DECODE out over executors that
    # open their assigned paths themselves.
    log_paths = [lf["path"] for lf in hudi_timeline.log_files(root, urgent)]
    if not log_paths:
        raise ValueError("MOR fixture staged no log files")

    def _decode_log(it):
        import pandas as _pd

        for pdf in it:
            for path in pdf["path"]:
                with open(path, "rb") as fh:
                    _, recs, _ = _ocf_read_bytes(fh.read(), source=path)
                if recs:
                    yield _pd.DataFrame.from_records(recs)[
                        ["op", "o_orderkey", "o_totalprice",
                         "o_orderpriority"]
                    ]

    logs = (
        local_rows(spark, [(p,) for p in log_paths], "path string")
        .repartition(len(log_paths))
        .mapInPandas(
            _decode_log,
            schema="op string, o_orderkey long, o_totalprice double, "
            "o_orderpriority string",
        )
    )
    # latest log record per record key wins (single log version here,
    # but the window is the general rule). Measured this round: a
    # max(struct) aggregate plans as SortAggregate over the near-unique
    # keys — same sort, extra struct builds, 2.0 -> 2.6 s — so the
    # window stays.
    w = Window.partitionBy("o_orderkey").orderBy(F.lit(1).desc())
    log_latest = (
        logs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    base_u = base.filter(F.col("o_orderpriority") == urgent)
    merged_u = (
        base_u.alias("b")
        .join(
            log_latest.select(
                "o_orderkey",
                F.col("op").alias("l_op"),
                F.col("o_totalprice").alias("l_price"),
            ).alias("l"),
            "o_orderkey",
            "left",
        )
        .filter(F.coalesce(F.col("l_op"), F.lit("")) != "d")
        .select(
            "o_orderkey",
            F.when(F.col("l_op") == "u", F.col("l_price"))
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
            "o_orderpriority",
        )
        .unionByName(
            log_latest.filter(F.col("op") == "i").select(
                "o_orderkey", "o_totalprice", "o_orderpriority"
            )
        )
    )
    snapshot = base.filter(F.col("o_orderpriority") != urgent).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).unionByName(merged_u)
    return base.select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ), snapshot


_COMPACT_ORACLE = """
WITH snap AS (
  SELECT o_orderpriority, o_totalprice AS price
  FROM orders
  WHERE o_orderkey % 2 = 0 AND o_orderpriority <> '1-URGENT'
  UNION ALL
  SELECT o_orderpriority, o_totalprice + 1000
  FROM orders
  WHERE o_orderkey % 2 = 0 AND o_orderpriority = '1-URGENT'
        AND o_orderkey % 10 <> 6
  UNION ALL
  SELECT o_orderpriority, o_totalprice
  FROM orders
  WHERE o_orderkey % 2 = 1 AND o_orderpriority = '1-URGENT'
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(price * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM snap GROUP BY o_orderpriority
"""


@register("sink_hudi_compaction", oracle=_COMPACT_ORACLE)
def q_sink_hudi_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi MOR COMPACTION: materialize the urgent file group's merged
    state (base ⊕ log: updates applied, tombstones dropped, inserts
    added) into a NEW BASE SLICE under the same fileId at a new
    instant, committed as a `.commit` action — after which the group's
    log debt is zero and a READ-OPTIMIZED query returns what only a
    snapshot query could see before.

    Runtime gates:
    - the log file binds to the OLD base instant by name, so after
      compaction `_hudi_group_logs(new_instant)` is empty — a reader
      that re-applied the old log to the new base would double-count
      the +1000 updates and resurrect tombstoned rows;
    - post-compaction read-optimized ≡ pre-compaction snapshot,
      proven distributed: `exceptAll` in BOTH directions must be
      empty (aggregate equality alone could mask compensating errors);
    - the untouched file groups keep their original base slices (the
      compactor is O(log-bearing groups), never O(table)).

    Graded: the post-compaction read-optimized per-priority rollup —
    equal to the MOR snapshot oracle, but now served from base files
    alone.

    Scale: compaction cost is one merge + one write per log-bearing
    group — the background debt-paydown loop every MOR deployment
    schedules; the equivalence proof is two anti-joins.
    """
    root, urgent, c1, c2 = _hudi_stage_mor(spark, sf_dir)
    _, snapshot_before = _hudi_mor_merged(spark, root, urgent, c1)
    snapshot_before = snapshot_before.localCheckpoint()

    # compact: merged urgent state → new base slice at c3, .commit
    c3 = "20240103000000"
    merged_u = snapshot_before.filter(
        F.col("o_orderpriority") == urgent
    ).select(
        F.lit(c3).alias("_hoodie_commit_time"),
        F.col("o_orderkey").cast("string").alias("_hoodie_record_key"),
        "o_orderkey",
        "o_totalprice",
        "o_orderpriority",
    )
    hudi_timeline.begin(root, c3, "commit")
    hudi_timeline.write_slices(merged_u, root, c3, urgent)
    hudi_timeline.complete(root, c3, "commit", {})

    # gate: the old log no longer attaches to the group's latest slice
    if _hudi_group_logs(root, urgent, c3):
        raise ValueError("compaction left logs attached to the new slice")
    if not _hudi_group_logs(root, urgent, c1):
        raise ValueError("fixture lost its pre-compaction log")

    # gate: untouched groups still serve their original slices
    latest = _hudi_snapshot_files(root)
    others = [f for f in latest if f"fg-{urgent}" not in f]
    if not all(f"_{c1}.parquet" in f for f in others):
        raise ValueError("compaction touched an unrelated file group")
    mine = [f for f in latest if f"fg-{urgent}" in f]
    if len(mine) != 1 or f"_{c3}.parquet" not in mine[0]:
        raise ValueError("compacted slice did not become the latest")

    # post-compaction read-optimized = base files of the LATEST slices
    ro_after = spark.read.parquet(*sorted(latest)).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    # distributed equivalence proof, both directions in one job
    assert_multiset_equal(
        ro_after, snapshot_before, "compaction changed the snapshot"
    )

    return ro_after.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                "bigint"
            )
        ).alias("total_cents"),
    )
