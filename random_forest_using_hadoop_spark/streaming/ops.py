"""Structured Streaming surface — SURVEY.md §2 B50–B57.

Reference analog [recon]: none — the reference is batch MapReduce only;
this tier is driver-mandated surface (SURVEY §2 "Exhaustiveness note").

Harness bridge: every query replays the static ``events`` parquet through
a file stream with ``Trigger.AvailableNow`` into a memory sink, then
returns the sink table. For a finite static source this is *exactly*
equivalent to the batch query (SURVEY §5.3.4), which is what makes a
DuckDB SQL oracle possible for B50–B52/B54/B55/B57.

Scale notes (100 TB): the memory sink is harness-only — production runs
swap in kafka/parquet sinks via the same unchanged logical plan. Windowed
and dedup state lives in the executor-local state store keyed by
(window/user), GC'd by the watermark, so state ∝ open-windows × keys, not
rows. ``availableNow`` is also the production backfill path: it chunks a
huge directory into rate-limited micro-batches instead of one giant batch.
"""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from random_forest_using_hadoop_spark import delta_log
from random_forest_using_hadoop_spark.helpers import local_rows
from random_forest_using_hadoop_spark.helpers import dsum, o_dsum
from random_forest_using_hadoop_spark.registry import register
from random_forest_using_hadoop_spark.sources import load_table


_STAGE_CACHE: dict[str, str] = {}


def _staged_dir(src_file: str) -> str:
    """File-stream sources require a *directory*; stage the single
    testdata parquet behind a symlink in a per-process temp dir."""
    if src_file not in _STAGE_CACHE:
        d = Path(tempfile.mkdtemp(prefix="stream_src_"))
        try:
            (d / Path(src_file).name).symlink_to(src_file)
        except OSError:
            shutil.copy(src_file, d / Path(src_file).name)
        _STAGE_CACHE[src_file] = str(d)
    return _STAGE_CACHE[src_file]


def _events_stream(spark: SparkSession, path: str) -> DataFrame:
    """``readStream`` over events parquet with the §1.2 nanos rebuild.

    File sources need an explicit schema; we take it from a batch read of
    the same path (ts arrives as int64 nanos under ``nanosAsLong``).
    """
    # Self-provision like load_table: the caller's session (e.g. the
    # grading driver's) has no engine confs preset, and a stream key may
    # be the first events read of the whole session.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    if not path.endswith("*.parquet") and not Path(path).is_dir():
        # the driver testdata ships events.parquet as a single FILE,
        # which a file-stream source can't take directly — stage it
        # behind a directory. A DIRECTORY table (standard Spark write
        # layout, e.g. the fuzz batteries' synthetic events) streams
        # as-is; staging it would symlink a dir inside a dir and the
        # non-recursive file listing would see zero rows.
        path = _staged_dir(path)
    df = spark.readStream.schema(schema).parquet(path)
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    return df


def _run_to_memory(
    df: DataFrame,
    name: str,
    output_mode: str,
) -> DataFrame:
    """Execute one availableNow micro-batch run into a memory sink and
    return the sink table (a normal batch DataFrame)."""
    spark = df.sparkSession
    # State-store partition count is frozen at stream start from
    # shuffle.partitions and AQE does NOT apply to streaming stages —
    # under a host session's static 200 that is 200 state files per
    # micro-batch for kilobyte-scale state. 32 is the engine's local
    # default (session.py); a production deployment sizes it to
    # peak-state ÷ executor-memory once, before first checkpoint.
    prior_parts = spark.conf.get("spark.sql.shuffle.partitions", "200")
    if int(prior_parts) > 32:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    try:
        query = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        query.stop()
        result = spark.table(name)
    finally:
        # The lowered setting must not leak into the host session's
        # subsequent batch queries (it would silently re-shape every
        # later shuffle); the stream's state partitioning is already
        # frozen into its checkpoint at this point.
        spark.conf.set("spark.sql.shuffle.partitions", prior_parts)
        shutil.rmtree(ckpt, ignore_errors=True)
    return result


# --- B50: tumbling window aggregation ---------------------------------------

_B50_ORACLE = """
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
       event_type,
       COUNT(*) AS n
FROM events
GROUP BY 1, 2
"""


@register("stream_tumbling", oracle=_B50_ORACLE)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B50: 1-hour tumbling window count per event_type, availableNow
    replay ≡ batch date_trunc aggregate."""
    src = _events_stream(spark, f"{sf_dir}/events.parquet")
    agg = src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count("*").alias("n")
    )
    out = agg.select(
        F.col("w.start").cast("timestamp_ntz").alias("window_start"),
        "event_type",
        "n",
    )
    return _run_to_memory(out, "ss_tumbling", "complete")


# --- B51: sliding window aggregation ----------------------------------------

# Each event lands in 4 overlapping [start, start+1h) windows whose starts
# are the event's 15-min bucket minus {45,30,15,0} minutes; DuckDB mirrors
# that membership with generate_series. Both engines align buckets on
# boundaries that are whole multiples of 15 minutes from their origin
# (epoch resp. 2000-01-03), which coincide.
_B51_ORACLE = """
SELECT ws AS window_start, event_type, COUNT(*) AS n
FROM (
  SELECT event_type,
         unnest(generate_series(
           time_bucket(INTERVAL 15 MINUTE, CAST(ts AS TIMESTAMP))
             - INTERVAL 45 MINUTE,
           time_bucket(INTERVAL 15 MINUTE, CAST(ts AS TIMESTAMP)),
           INTERVAL 15 MINUTE)) AS ws
  FROM events
)
GROUP BY ws, event_type
"""


@register("stream_sliding", oracle=_B51_ORACLE)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B51: 1-hour window sliding every 15 min, count per event_type."""
    src = _events_stream(spark, f"{sf_dir}/events.parquet")
    agg = src.groupBy(
        F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
    ).agg(F.count("*").alias("n"))
    out = agg.select(
        F.col("w.start").cast("timestamp_ntz").alias("window_start"),
        "event_type",
        "n",
    )
    return _run_to_memory(out, "ss_sliding", "complete")


# --- B52: session window (gap-based) ----------------------------------------

# Spark merges events whose [ts, ts+gap) spans overlap, so two events
# exactly gap apart start NEW sessions → the oracle's lag-gap flag uses a
# strict '<'. Session end = last event + gap on both sides.
_B52_ORACLE = """
WITH flagged AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   < INTERVAL 30 MINUTE
              THEN 0 ELSE 1 END AS new_s
  FROM events
), sess AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events
FROM sess
GROUP BY user_id, sid
"""


@register("stream_session", oracle=_B52_ORACLE)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B52: 30-minute-gap session windows per user; the oracle is the
    classic lag-gap-flag + cumulative-sum sessionization."""
    src = _events_stream(spark, f"{sf_dir}/events.parquet")
    agg = src.groupBy(
        F.session_window("ts", "30 minutes").alias("w"), "user_id"
    ).agg(F.count("*").alias("n_events"))
    out = agg.select(
        "user_id",
        F.col("w.start").cast("timestamp_ntz").alias("session_start"),
        F.col("w.end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
    )
    return _run_to_memory(out, "ss_session", "complete")


# --- B53: watermark + late-data drop -----------------------------------------

# The on-time windows ARE deterministic: run 1 streams the last quartile
# of days, append mode emits exactly the hourly windows whose end falls
# at or below the final watermark max(ts)−10min — all reproducible in
# SQL. Only the dropped-row counter is engine-internal, so it rides in a
# boolean audit row ('late_ok': late batch emitted nothing AND the state
# operator reported drops).
_B53_ORACLE = """
WITH days AS (SELECT DISTINCT date_trunc('day', ts) AS d FROM events),
r AS (SELECT d, ROW_NUMBER() OVER (ORDER BY d) AS rn,
             COUNT(*) OVER () AS n
      FROM days),
hi AS (SELECT d AS hi_day FROM r WHERE rn = (3 * n) // 4 + 1),
ot AS (SELECT ts FROM events, hi WHERE date_trunc('day', ts) >= hi_day),
wm AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM ot)
SELECT date_trunc('hour', ts) AS window_start,
       COUNT(*) AS n,
       'on_time' AS phase
FROM ot, wm
GROUP BY 1, 3, wm.w
HAVING date_trunc('hour', MIN(ts)) + INTERVAL 1 HOUR <= wm.w
UNION ALL
SELECT NULL AS window_start, CAST(1 AS BIGINT) AS n, 'late_ok' AS phase
"""


@register("stream_watermark_late", oracle=_B53_ORACLE)
def q_stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B53: demonstrate the watermark dropping late data.

    Two availableNow runs over one checkpoint (the production shape for
    an out-of-order backfill): run 1 streams the newest quartile of
    DAYS (a day-rank cutoff — exactly reproducible in the oracle, unlike
    the r1 percentile_approx cut), closing its hourly windows and
    persisting a watermark of max(ts)−10min; then the oldest quartile
    lands in the source dir and run 2 resumes from the checkpoint —
    every row is below the watermark, so the state operator drops all of
    them (visible in ``numRowsDroppedByWatermark``) and emits nothing.

    Result rows: the on-time windows emitted by run 1 (phase='on_time'
    — SQL-graded against the watermark-emission rule window_end ≤
    max(ts)−10min) and one audit row phase='late_ok' with n=1 iff the
    late batch emitted nothing and the drop counter moved.
    """
    ev = load_table(spark, sf_dir, "events")
    days = sorted(
        r[0]
        for r in ev.select(F.date_trunc("day", "ts").alias("d")).distinct().collect()
    )
    n = len(days)
    hi = days[(3 * n) // 4]          # first day of the newest quartile
    lo = days[(n + 3) // 4 - 1]      # last day of the oldest quartile
    tmp = Path(tempfile.mkdtemp(prefix="late_replay_"))
    src_dir, ckpt = tmp / "src", tmp / "ckpt"
    src_dir.mkdir()
    day = F.date_trunc("day", "ts")
    ev.filter(day >= F.lit(hi)).coalesce(1).write.parquet(str(tmp / "stage_a"))
    ev.filter(day <= F.lit(lo)).coalesce(1).write.parquet(str(tmp / "stage_b"))
    part_a = next((tmp / "stage_a").glob("part-*.parquet"))
    part_b = next((tmp / "stage_b").glob("part-*.parquet"))
    schema = spark.read.parquet(str(tmp / "stage_a")).schema

    sink_dir = tmp / "sink"

    def run_once():
        # A file sink (unlike memory) supports checkpoint recovery, which
        # run 2 depends on to resume with run 1's persisted watermark.
        src = spark.readStream.schema(schema).parquet(str(src_dir))
        # Watermarks require TIMESTAMP (LTZ); session tz is UTC so the
        # cast is value-preserving.
        agg = (
            src.withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(
                F.col("w.start").cast("timestamp_ntz").alias("window_start"),
                "n",
            )
        )
        query = (
            agg.writeStream.format("parquet")
            .option("path", str(sink_dir))
            .outputMode("append")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        progress = query.lastProgress
        query.stop()
        dropped = 0
        if progress:
            for op in progress.get("stateOperators", []):
                dropped += op.get("numRowsDroppedByWatermark", 0)
        emitted = [
            tuple(r)
            for r in spark.read.parquet(str(sink_dir)).collect()
        ]
        return emitted, dropped

    shutil.copy(part_a, src_dir / "a_on_time.parquet")
    rows_run1, _ = run_once()
    shutil.copy(part_b, src_dir / "b_late.parquet")
    rows_run2, n_dropped = run_once()

    late_emitted = [r for r in rows_run2 if r not in set(rows_run1)]
    late_ok = 1 if (not late_emitted and n_dropped > 0) else 0
    schema_out = "window_start timestamp_ntz, n long, phase string"
    rows = local_rows(spark, 
        [(ws, cnt, "on_time") for ws, cnt in rows_run1]
        + [(None, late_ok, "late_ok")],
        schema=schema_out,
    ).cache()
    rows.count()  # materialize before the source files vanish
    shutil.rmtree(tmp, ignore_errors=True)
    return rows


# --- B54: streaming dedup ----------------------------------------------------

_B54_ORACLE = """
SELECT event_type, COUNT(*) AS n
FROM events
GROUP BY event_type
"""


@register("stream_dedup", oracle=_B54_ORACLE)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B54: dropDuplicates on event_id over a deliberately doubled replay
    (the same parquet file staged twice) — the deduped stream must equal
    the original table, checked via counts per event_type."""
    tmp = Path(tempfile.mkdtemp(prefix="dedup_replay_"))
    src_file = Path(f"{sf_dir}/events.parquet")
    if src_file.is_dir():
        # directory-layout events (standard Spark write, e.g. the fuzz
        # batteries) — replay each part file twice; the driver testdata
        # ships a single file and takes the copy path below
        for i, part in enumerate(sorted(src_file.glob("*.parquet"))):
            shutil.copy(part, tmp / f"copy1_{i}.parquet")
            shutil.copy(part, tmp / f"copy2_{i}.parquet")
    else:
        shutil.copy(src_file, tmp / "copy1.parquet")
        shutil.copy(src_file, tmp / "copy2.parquet")
    src = _events_stream(spark, str(tmp / "*.parquet"))
    agg = (
        src.dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    out = _run_to_memory(agg, "ss_dedup", "complete")
    rows = out.cache()
    rows.count()
    shutil.rmtree(tmp, ignore_errors=True)
    return rows


# --- B55: stream-static enrichment join -------------------------------------

_B55_ORACLE = f"""
SELECT c.c_nationkey AS nationkey,
       COUNT(*) AS n_events,
       {o_dsum('e.value')} AS total_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_nationkey
"""


@register("stream_static_join", oracle=_B55_ORACLE)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B55: enrich the event stream with the static customer dim
    (broadcast per micro-batch), roll up by nation. The static side is a
    batch DataFrame — Catalyst plans a broadcast hash join inside each
    micro-batch, the 100 TB-safe shape for stream⋈small-dim."""
    src = _events_stream(spark, f"{sf_dir}/events.parquet")
    cust = load_table(spark, sf_dir, "customer")
    joined = src.join(
        F.broadcast(cust), src.user_id == cust.c_custkey, "inner"
    )
    agg = joined.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count("*").alias("n_events"),
        (
            F.sum(F.floor(F.col("value") * 1e6 + 0.5).cast("bigint")) / 1e6
        ).alias("total_value"),
    )
    return _run_to_memory(agg, "ss_static_join", "complete")


# --- B56: arbitrary stateful per-key logic ----------------------------------

_B56_ORACLE = f"""
SELECT user_id,
       COUNT(*) AS n_events,
       {o_dsum('value')} AS total_value
FROM events
GROUP BY user_id
"""


@register("stream_stateful", oracle=_B56_ORACLE)
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B56: applyInPandasWithState running per-user counter + value sum.

    (Spark 4's successor API, ``transformWithStateInPandas`` with typed
    state handles / timers / TTL, needs ``google.protobuf`` for its
    state-server protocol — not installed in this container, verified by
    attempt — so the stable GroupState API is the implementation here;
    the logical shape is identical.)

    The pandas fn keeps (count, fixed_point_sum) in GroupState and emits
    the updated totals each batch; the single-file availableNow replay is
    one batch, so the final emission equals the batch aggregate and a SQL
    oracle applies. Fixed-point int64 accumulation (×1e6, half-up) inside
    the state mirrors helpers.o_dsum exactly.

    Scale: state is 2 ints per user in the state store; emission is
    per-key-per-batch — state ∝ keys, not rows.
    """
    import pandas as pd  # noqa: F401  (imported for the worker closure)

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value_fp", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("fp", LongType())]
    )

    def count_events(key, pdf_iter, state: GroupState):
        import numpy as np

        n, fp = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            fp += int(np.floor(pdf["value"].to_numpy() * 1e6 + 0.5).sum())
        state.update((n, fp))
        import pandas as pd

        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value_fp": [fp]}
        )

    src = _events_stream(spark, f"{sf_dir}/events.parquet")
    stateful = src.groupBy("user_id").applyInPandasWithState(
        count_events,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _run_to_memory(stateful, "ss_stateful", "update")
    return out.select(
        "user_id",
        "n_events",
        (F.col("total_value_fp") / 1e6).alias("total_value"),
    )


# --- B57: foreachBatch micro-batch sink -------------------------------------

_B57_ORACLE = f"""
SELECT event_type,
       COUNT(*) AS n,
       {o_dsum('value')} AS total_value
FROM events
GROUP BY event_type
"""


@register("stream_foreachbatch", oracle=_B57_ORACLE)
def q_stream_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B57: foreachBatch sink — each micro-batch appends raw events to a
    parquet directory (the canonical custom-sink escape hatch); the
    landed data re-aggregated must equal the batch query."""
    out_dir = tempfile.mkdtemp(prefix="feb_sink_")
    ckpt = tempfile.mkdtemp(prefix="feb_ckpt_")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    src = _events_stream(spark, f"{sf_dir}/events.parquet")
    query = (
        src.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    query.stop()
    landed = spark.read.parquet(out_dir)
    agg = landed.groupBy("event_type").agg(
        F.count("*").alias("n"),
        (F.sum(F.floor(F.col("value") * 1e6 + 0.5).cast("bigint")) / 1e6).alias(
            "total_value"
        ),
    )
    rows = agg.cache()
    rows.count()
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return rows


# --- stream-stream watermarked interval join ---------------------------------

_SSJOIN_ORACLE = """
SELECT p.user_id, COUNT(*) AS n_pairs
FROM events p
JOIN events c
  ON p.user_id = c.user_id
 AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
GROUP BY p.user_id
"""


@register("stream_stream_join", oracle=_SSJOIN_ORACLE)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: clicks in the 30 minutes before each
    purchase by the same user — attribution, the canonical two-stream
    workload. availableNow replay of both sides ≡ the batch interval
    join, so a SQL oracle applies.

    Scale: both streams shuffle on user_id into the same state store;
    each side buffers rows only until the other side's watermark passes
    the join window (state ∝ users × 30-min rate, not stream length).
    The time-range condition is what lets the engine GC — a
    stream-stream join without it buffers forever. The join itself is
    append-mode; the per-user rollup runs as a batch over the sink,
    avoiding chained-stateful-operator output-mode restrictions.
    """
    src_file = f"{sf_dir}/events.parquet"
    purchases = (
        _events_stream(spark, src_file)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").cast("timestamp").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        _events_stream(spark, src_file)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").cast("timestamp").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "p_user = c_user"
            " AND c_ts >= p_ts - INTERVAL 30 MINUTES"
            " AND c_ts <= p_ts"
        ),
    )
    pairs = _run_to_memory(joined, "ss_ssjoin", "append")
    return pairs.groupBy(F.col("p_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


# --- streaming per-window distinct actives -----------------------------------

_DISTINCT_ORACLE = """
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY 1
"""


@register("stream_distinct_users", oracle=_DISTINCT_ORACLE)
def q_stream_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour distinct active users computed ON A STREAM: Structured
    Streaming rejects COUNT(DISTINCT) outright (distinct state is
    unbounded per window), so the streaming-native form is two stacked
    aggregations — dropDuplicates-style (window, user) dedup first,
    then a plain count per window — which Spark 4 supports as chained
    stateful aggregates under availableNow replay. The availableNow
    result must equal the batch COUNT(DISTINCT) the oracle runs.

    Scale: state = one row per (window, user) in the dedup stage and
    one counter per window above it; the watermark-less complete mode
    here is the replay harness — production caps state with a
    watermark, same two-stage shape. This is the exact pattern
    dashboards use for streaming DAU/HAU.
    """
    src = _events_stream(spark, f"{sf_dir}/events.parquet")
    per_user = src.groupBy(
        F.window("ts", "1 hour").alias("w"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n"))
    agg = per_user.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("n").cast("bigint").alias("n_events"),
    )
    out = agg.select(
        F.col("w.start").cast("timestamp_ntz").alias("window_start"),
        "n_users",
        "n_events",
    )
    # Spark's multi-stateful-operator guard flags ANY chained stateful
    # aggs as a *possible* late-data correctness hazard. Here there is
    # no watermark and output is complete mode, so no operator ever
    # drops state and every trigger re-emits full results — the hazard
    # the check guards against (an upstream op emitting below a
    # downstream watermark) cannot occur. Scoped disable + restore.
    key = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    prior = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        return _run_to_memory(out, "ss_distinct_users", "complete")
    finally:
        spark.conf.set(key, prior)


# --- exactly-once checkpointed file sink -------------------------------------

_B62_ORACLE = f"""
SELECT event_type,
       COUNT(*) AS n,
       {o_dsum('value')} AS sum_value
FROM events
WHERE value > 100
GROUP BY event_type
"""


@register("stream_file_sink_exactonce", oracle=_B62_ORACLE)
def q_stream_file_sink_exactonce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed parquet file sink with an idempotent-replay proof:
    the stream runs to completion TWICE against the same checkpoint;
    the second run finds the source offsets already committed and
    appends nothing, so the read-back aggregate equals the plain batch
    query — the exactly-once contract a production file sink rests on.

    Scale: the file sink commits each micro-batch atomically via the
    checkpoint's offset+commit logs, so a crashed-and-restarted 100 TB
    backfill resumes at the last committed batch instead of
    re-appending (the doctrine behind every raw->bronze ingestion
    job). The memory-sink harness elsewhere swaps for this sink with
    the logical plan unchanged.
    """
    import os

    src = f"{sf_dir}/events.parquet"
    stream = _events_stream(spark, src).filter(F.col("value") > 100).select(
        "event_id", "event_type", "value"
    )
    tag = Path(src).parent.name
    root = Path(tempfile.gettempdir()) / "rf_engine_io" / f"exactonce_{tag}"
    out, ckpt = str(root / "out"), str(root / "ckpt")
    shutil.rmtree(root, ignore_errors=True)  # deterministic per invocation
    os.makedirs(out, exist_ok=True)
    prior_parts = spark.conf.get("spark.sql.shuffle.partitions", "200")
    if int(prior_parts) > 32:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        for _ in range(2):  # second run must be a committed no-op
            q = (
                stream.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior_parts)
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value")
    )


# --- streaming CDC tail over a Delta-protocol log ----------------------------

_DELTA_CDC_ORACLE = """
SELECT v.version,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM orders o
JOIN (VALUES (0), (1)) AS v(version)
  ON o.o_orderkey % 2 = v.version
GROUP BY v.version
"""


def _cdc_version_stats(
    spark: SparkSession, root: str, acts
) -> dict[int, tuple[int, int]]:
    """Per-version (rows, cent total) for one CDC micro-batch's add
    actions, in a CONSTANT number of Spark actions regardless of how
    many commit versions the batch carries (r10 verdict task 3 — the
    per-version sequential read loop serialized a compaction-heavy
    availableNow replay): scan every add-path ONCE, tag each row with
    its source file via input_file_name(), broadcast-join the bounded
    (fname → version) action map, and finish with a single hash agg
    grouped by version — the exact pattern src_delta_log uses for its
    full-history replay. One collect total; the returned dict is one
    row per version (bounded metadata).
    `tests/test_delta_protocol.py::test_cdc_batch_stats_constant_jobs`
    pins the job count on a many-version batch."""
    import os

    fmap = local_rows(spark, 
        [(os.path.basename(r["path"]), r["version"]) for r in acts],
        "fname string, version int",
    )
    rows = (
        spark.read.parquet(
            *sorted({os.path.join(root, r["path"]) for r in acts})
        )
        .withColumn(
            "fname",
            F.element_at(F.split(F.input_file_name(), "/"), -1),
        )
        .join(F.broadcast(fmap), "fname")
        .groupBy("version")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            ).alias("cents"),
        )
        .collect()  # bounded: one row per version in the batch
    )
    return {r["version"]: (r["n"], r["cents"]) for r in rows if r["n"]}


@register("stream_delta_commits", oracle=_DELTA_CDC_ORACLE)
def q_stream_delta_commits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC ingest off a Delta-protocol table: `readStream`
    tails `_delta_log/` (file source, availableNow), and each
    micro-batch's `add` actions resolve to freshly committed data files
    whose rows are read and aggregated downstream — the incremental
    consumption model Delta's own streaming source implements on top
    of the open log layout ([[src_delta_log]] is the batch sibling).

    The semantic subtlety this key grades: the staged v2 is a
    COMPACTION — its `add`/`remove` actions carry `dataChange: false`,
    the protocol's signal that a commit only rearranges existing rows.
    A streaming consumer must SKIP those actions or it double-counts
    every compacted row; the oracle therefore states exactly two
    emissions (v0 = even-orderkey slice, v1 = odd slice) and NOTHING
    for v2. Filtering `add.dataChange` is the entire fix — a consumer
    that tails the directory listing, or unions all adds, fails here.

    Scale: the streamed frame is the ACTION tail (driver-class
    metadata, rate-limited by availableNow micro-batches); data files
    are read executor-side per commit, so throughput is bounded by the
    commit volume being ingested, not the table's history. Real
    row-level deletes need the protocol's Change Data Feed actions —
    implemented as the batch sibling src_delta_cdf
    (operators/delta_ext.py). The foreachBatch
    callback runs ON THE DRIVER (no worker-pickled closure) and
    collects only add actions, ∝ files per commit; the batch's data
    files are then read in ONE job (rows tagged to versions via
    input_file_name + a broadcast action map), so a compaction-heavy
    replay carrying many versions in one micro-batch still issues a
    constant number of jobs, not one per version
    (tests/test_delta_protocol.py pins the job count).
    """
    import os

    from random_forest_using_hadoop_spark.operators.scans import (
        _delta_stage_history,
        _tmp,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = _tmp(sf_dir, "delta_cdc")
    log_dir = os.path.join(root, "_delta_log")
    # shared staging: v0/v1 dataChange true, v2 compaction false
    _delta_stage_history(spark, o, root)

    acc: dict[int, list[int]] = {}
    done_batches: set[int] = set()

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch is AT-LEAST-ONCE: a mid-sink failure replays the
        # whole micro-batch, so (1) skip batch_ids already fully merged
        # and (2) compute the batch's contribution completely before
        # touching `acc` — a retry after a partial compute then merges
        # nothing twice.
        if batch_id in done_batches:
            return
        # tag the sink's jobs (Spark-UI observability; also how the
        # unit test asserts the constant-jobs-per-batch contract);
        # try/finally so a mid-batch failure cannot leak the tag onto
        # unrelated jobs scheduled later on this thread
        spark.sparkContext.setLocalProperty(
            "spark.jobGroup.id", "delta_cdc_sink"
        )
        try:
            acts = (
                batch_df.filter(
                    F.col("add.path").isNotNull() & F.col("add.dataChange")
                )
                .select("version", F.col("add.path").alias("path"))
                .collect()  # bounded: add actions in this commit batch
            )
            local = _cdc_version_stats(spark, root, acts) if acts else {}
            for v, (n, c) in local.items():  # atomic merge, then mark done
                got = acc.setdefault(v, [0, 0])
                got[0] += n
                got[1] += c
            done_batches.add(batch_id)
        finally:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    ckpt = tempfile.mkdtemp(prefix="delta_cdc_ckpt_")
    query = (
        delta_log.read_log(spark, log_dir, stream=True)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    query.stop()
    shutil.rmtree(ckpt, ignore_errors=True)
    rows = [(v, n, c) for v, (n, c) in sorted(acc.items())]
    return local_rows(spark, 
        rows, "version int, n_rows long, total_cents long"
    )


# --- streaming Change Data Feed consumption -----------------------------------

# same oracle as the batch sibling src_delta_cdf — the streaming
# consumer must converge to the identical feed
from random_forest_using_hadoop_spark.operators.delta_ext import (  # noqa: E402
    _CDF_ORACLE as _STREAM_CDF_ORACLE,
)


@register("stream_delta_cdf", oracle=_STREAM_CDF_ORACLE)
def q_stream_delta_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CHANGE DATA FEED consumption (delta-io PROTOCOL.md
    §Add CDC File; the streaming sibling of `src_delta_cdf`, and the
    row-level upgrade of `stream_delta_commits` whose docstring names
    CDF as its residual): `readStream` tails `_delta_log/`
    (availableNow) and each micro-batch classifies its versions by the
    spec rule — a version WITH cdc actions feeds from the cdc files
    ALONE (deriving from the rewritten adds double-counts untouched
    rows); a cdc-less version's dataChange adds are inserts and its
    dataChange removes are deletes (a full-file DELETE writes no cdc
    files). This is how a downstream materialized view follows a
    100 TB table at O(changed rows) with streaming semantics.

    Scale: the streamed frame is the action tail (driver-class
    metadata); each micro-batch issues a CONSTANT number of jobs — one
    scan over ALL its cdc files, one over insert-derived adds, one
    over delete-derived removes, each tagged to versions via
    input_file_name against a broadcast action map (the
    _cdc_version_stats pattern), never one job per version. The sink
    is at-least-once-safe: batch ids already merged are skipped, and
    the contribution is computed fully before touching the
    accumulator.
    """
    import os

    from random_forest_using_hadoop_spark.operators.delta_ext import (
        _stage_cdf_history,
    )
    from random_forest_using_hadoop_spark.operators.scans import _tmp

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = _tmp(sf_dir, "delta_stream_cdf")
    log_dir = os.path.join(root, "_delta_log")
    _stage_cdf_history(spark, o, root)

    # (version, change_type) → [rows, cents]
    acc: dict[tuple[int, str], list[int]] = {}
    done_batches: set[int] = set()

    def _feed_stats(paths_with_version, tag_col: bool) -> list:
        """ONE distributed scan over the given (path, version) set; rows
        tagged to versions via a broadcast file map. `tag_col` reads
        the staged _change_type column (cdc files); otherwise the
        caller supplies the type."""
        fmap = local_rows(spark, 
            [(os.path.basename(p), v) for p, v in paths_with_version],
            "fname string, version int",
        )
        cols = ["version", "_change_type"] if tag_col else ["version"]
        return (
            spark.read.parquet(
                *sorted({os.path.join(root, p) for p, _ in paths_with_version})
            )
            .withColumn(
                "fname",
                F.element_at(F.split(F.input_file_name(), "/"), -1),
            )
            .join(F.broadcast(fmap), "fname")
            .groupBy(*cols)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                        "bigint"
                    )
                ).alias("cents"),
            )
            .collect()  # bounded: one row per (version, type) in batch
        )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in done_batches:
            return
        acts = (
            batch_df.select("version", "add", "remove", "cdc")
            .collect()  # bounded: action metadata ∝ files per batch
        )
        cdc_vs = {
            r["version"]
            for r in acts
            if r["cdc"] is not None and r["cdc"]["path"] is not None
        }
        cdc_paths = [
            (r["cdc"]["path"], r["version"])
            for r in acts
            if r["cdc"] is not None and r["cdc"]["path"] is not None
        ]
        ins_paths = [
            (r["add"]["path"], r["version"])
            for r in acts
            if r["add"] is not None
            and r["add"]["path"] is not None
            and r["add"]["dataChange"]
            and r["version"] not in cdc_vs
        ]
        del_paths = [
            (r["remove"]["path"], r["version"])
            for r in acts
            if r["remove"] is not None
            and r["remove"]["path"] is not None
            and r["remove"]["dataChange"]
            and r["version"] not in cdc_vs
        ]
        local: dict[tuple[int, str], list[int]] = {}
        if cdc_paths:
            for r in _feed_stats(cdc_paths, tag_col=True):
                local[(r["version"], r["_change_type"])] = [
                    r["n"], r["cents"]
                ]
        if ins_paths:
            for r in _feed_stats(ins_paths, tag_col=False):
                local[(r["version"], "insert")] = [r["n"], r["cents"]]
        if del_paths:
            for r in _feed_stats(del_paths, tag_col=False):
                local[(r["version"], "delete")] = [r["n"], r["cents"]]
        for k, (n, c) in local.items():  # atomic merge, then mark done
            got = acc.setdefault(k, [0, 0])
            got[0] += n
            got[1] += c
        done_batches.add(batch_id)

    ckpt = tempfile.mkdtemp(prefix="delta_stream_cdf_ckpt_")
    query = (
        delta_log.read_log(spark, log_dir, stream=True)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    query.stop()
    shutil.rmtree(ckpt, ignore_errors=True)
    rows = [
        (v, t, n, c) for (v, t), (n, c) in sorted(acc.items()) if n
    ]
    return local_rows(spark, 
        rows, "version int, change_type string, n_rows long, total_cents long"
    )
