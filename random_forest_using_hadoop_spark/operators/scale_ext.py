"""Scale-path extensions a 100 TB training-data pipeline reaches for
next: deterministic per-group sampling, cohort retention, mergeable
quantile rollups, manual skew-join salting, cogrouped pandas merges,
and multi-dimensional (z-order) data clustering.

All beyond SURVEY.md §2's letter keys, graded by the same
(spark_fn, oracle_sql) harness as everything else. Cross-engine hash
policy follows registry.py: fixed-point float aggregation, BIGINT-cast
integer sums, totally-ordered limits, no array-typed outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from random_forest_using_hadoop_spark.helpers import dsum, o_dsum
from random_forest_using_hadoop_spark.operators.scans import _tmp
from random_forest_using_hadoop_spark.registry import register
from random_forest_using_hadoop_spark.sources import load_table

# --- deterministic per-group top-n sample (reservoir replacement) -------------

_PERGROUP_N = 10

_SAMPLE_TOPN_ORACLE = f"""
WITH r AS (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (
             PARTITION BY lang
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
)
SELECT lang, doc_id, rk FROM r WHERE rk <= {_PERGROUP_N}
"""


@register("sample_pergroup_topn", oracle=_SAMPLE_TOPN_ORACLE)
def q_sample_pergroup_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic n-per-group sample: rank rows inside each stratum by
    a content hash of the key and keep the first n — the reproducible
    replacement for per-group reservoir sampling (same n, but the kept
    set is a pure function of the data, independent of partition layout,
    executor count, and traversal order).

    Scale: one window per group key. For pathological groups (billions
    of rows under one key) pre-prune with the salted two-phase cut from
    sim_cosine_topk; at normal cardinalities the per-group heap is
    already partial — only ~n rows per (partition, group) survive to the
    final rank.
    """
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("lang", "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _PERGROUP_N)
    )


# --- cohort retention rollup --------------------------------------------------

_RETENTION_ORACLE = """
WITH f AS (
  SELECT user_id, MIN(date_trunc('day', ts)) AS cohort
  FROM events GROUP BY user_id
),
a AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
)
SELECT f.cohort,
       CAST(date_diff('day', f.cohort, a.day) AS BIGINT) AS day_offset,
       COUNT(DISTINCT a.user_id) AS n_users
FROM a JOIN f USING (user_id)
GROUP BY 1, 2
"""


@register("agg_retention_cohort", oracle=_RETENTION_ORACLE)
def q_agg_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, counted per
    (cohort, day-offset) — the canonical activity-retention rollup.

    Scale: two shuffles, both on true keys — (user) for first-seen and
    the distinct day set, then (cohort, offset) for the rollup; every
    aggregate partial-combines map-side. The cohort dim (≤ #days rows)
    broadcasts into the join. No window, no self-join over raw events.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    first = ev.groupBy("user_id").agg(F.min(day).alias("cohort"))
    active = ev.select("user_id", day.alias("day")).distinct()
    return (
        active.join(first, "user_id")
        .groupBy(
            "cohort",
            F.datediff(F.col("day"), F.col("cohort"))
            .cast("bigint")
            .alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


# --- mergeable quantile rollup ------------------------------------------------

_QUANTILE_ORACLE = """
SELECT event_type,
       COUNT(*) AS n,
       ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.95), 6) AS p95,
       TRUE AS approx_ok
FROM events
GROUP BY event_type
"""


@register("agg_quantile_rollup", oracle=_QUANTILE_ORACLE)
def q_agg_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key latency-style quantiles: exact interpolated p50/p95
    (Spark ``percentile`` ≡ DuckDB ``quantile_cont`` — the same parity
    pinned by agg_stats) next to a mergeable ``approx_percentile``
    sketch, graded as a boolean error bound vs the exact value.

    Scale: exact percentile shuffles every (key, value) pair — fine per
    moderate key, deadly global; approx_percentile (Greenwald-Khanna)
    keeps a constant-size summary per partition and merges — THE
    quantile at 100 TB. Carrying both here is the audit that justifies
    swapping exact → sketch in production.
    """
    ev = load_table(spark, sf_dir, "events")
    exact50 = F.percentile(F.col("value"), F.lit(0.5))
    exact95 = F.percentile(F.col("value"), F.lit(0.95))
    approx50 = F.expr("approx_percentile(value, 0.5, 10000)")
    # audit the sketch against its ACTUAL contract — Greenwald-Khanna
    # promises the returned element's RANK lies within eps*n of the
    # target rank (eps = 1/accuracy) — not against a value-space error
    # bound: any value-distance claim (the old 1%-of-spread test)
    # silently assumes the order-statistic gaps near the median are
    # small, which no n guarantees (a 100-row group of 50 zeros and 50
    # ones puts the exact interpolated median spread/2 from every
    # element). The rank check needs a second pass counting values on
    # each side of the estimate: a broadcast join of the 5-row stats
    # frame back onto the stream plus one more map-side-combined agg —
    # the honest price of auditing a rank contract.
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(exact50, 6).alias("p50"),
        F.round(exact95, 6).alias("p95"),
        approx50.alias("approx50"),
    )
    eps = 1.0 / 10000
    rank = (
        ev.join(F.broadcast(stats.select("event_type", "approx50")), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("value") < F.col("approx50"), 1).otherwise(0))
            .alias("n_below"),
            F.sum(F.when(F.col("value") <= F.col("approx50"), 1).otherwise(0))
            .alias("n_at_most"),
        )
    )
    return stats.join(rank, "event_type").select(
        "event_type",
        "n",
        "p50",
        "p95",
        (
            (F.col("n_below") <= 0.5 * F.col("n") + eps * F.col("n") + 1)
            & (F.col("n_at_most") >= 0.5 * F.col("n") - eps * F.col("n") - 1)
        ).alias("approx_ok"),
    )


# --- manual skew-join salting -------------------------------------------------

_SKEW_ORACLE = f"""
WITH dim AS (
  SELECT DISTINCT event_type,
         CASE WHEN event_type IN ('purchase', 'signup') THEN 'revenue'
              ELSE 'engagement' END AS channel
  FROM events
)
SELECT d.channel,
       COUNT(*) AS n_events,
       {o_dsum('e.value')} AS total_value
FROM events e JOIN dim d USING (event_type)
GROUP BY d.channel
"""


@register("join_skew_salted", oracle=_SKEW_ORACLE)
def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed fact⋈dim with MANUAL salting: the fact side's join key has
    5 values over 100k+ rows (extreme skew — an unsalted shuffle join
    puts 1/5 of the table in each of 5 tasks). The fact adds
    salt = pmod(event_id, 8); the dim is exploded ×8 so (key, salt) is
    an equi-join that spreads every hot key over 8 tasks.

    Scale: this is the mitigation when broadcast is impossible (dim too
    big) and AQE skew-split can't apply (it only splits sort-merge
    partitions, not aggregations pinned to the join output, and never
    helps full-outer shapes). Salt factor trades dim duplication for
    parallelism; at 100 TB pick salt ≈ cluster parallelism / #hot-keys.
    The dim here is tiny — the point is the plan shape, gated in
    test_plans: a hash/SMJ join on (event_type, salt), no broadcast.
    """
    n_salt = 8
    ev = load_table(spark, sf_dir, "events")
    dim = (
        ev.select("event_type")
        .distinct()
        .withColumn(
            "channel",
            F.when(
                F.col("event_type").isin("purchase", "signup"), "revenue"
            ).otherwise("engagement"),
        )
    )
    salted_fact = ev.withColumn("salt", F.pmod(F.col("event_id"), F.lit(n_salt)))
    exploded_dim = dim.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    ).hint("shuffle_hash")  # forbid broadcast: the demo IS the shuffle shape
    return (
        salted_fact.join(exploded_dim, ["event_type", "salt"])
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )


# --- cogrouped pandas merge (applyInPandas over cogroup) ----------------------

_COGROUP_ORACLE = """
WITH base AS (
  SELECT user_id,
         COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases,
         COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_errors
  FROM events
  GROUP BY user_id
  HAVING COUNT(CASE WHEN event_type IN ('purchase', 'error') THEN 1 END) > 0
),
fl AS (
  SELECT p.user_id, COUNT(DISTINCT p.event_id) AS n_flagged
  FROM events p JOIN events e
    ON e.user_id = p.user_id
   AND p.event_type = 'purchase' AND e.event_type = 'error'
   AND e.ts >= p.ts - INTERVAL 10 MINUTE AND e.ts < p.ts
  GROUP BY p.user_id
)
SELECT b.user_id, b.n_purchases, b.n_errors,
       CAST(COALESCE(f.n_flagged, 0) AS BIGINT) AS n_flagged
FROM base b LEFT JOIN fl f USING (user_id)
"""


@register("udf_cogrouped", oracle=_COGROUP_ORACLE)
def q_udf_cogrouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped ``applyInPandas``: per user, the purchase stream and the
    error stream arrive as two aligned pandas frames; numpy searchsorted
    counts purchases preceded by an error within 10 minutes (the fraud
    review queue shape). Mirrors the binned-interval-join semantics
    (join_range_binned) but as per-key in-memory merge logic — the form
    to reach for when the per-key computation is genuinely imperative
    (state machines, per-entity sequence models).

    Scale: cogroup shuffles both sides once on user_id, then each key's
    slice is in-memory pandas — bounded by the largest single key, which
    is exactly the right unit of locality for per-entity logic. Arrow
    batches both directions; no row-at-a-time Python.
    """
    import numpy as np
    import pandas as pd

    # The two cogroup branches MUST come from separate scans: when both
    # derive from one DataFrame, Spark's cogroup analysis can resolve the
    # second branch's column references to the FIRST branch's attribute
    # ids (shared lineage), and column pruning then legally strips the
    # second child down to its grouping key — the UDF receives an
    # errors frame with no `ts` whenever the action prunes (count()).
    # Two relations give unambiguous attributes; the scans are per-branch
    # either way, so this costs nothing.
    purchases = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "ts")
    )
    errors = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .select("user_id", "ts")
    )

    def merge(p: pd.DataFrame, e: pd.DataFrame) -> pd.DataFrame:
        if p.empty and e.empty:
            return pd.DataFrame(
                columns=["user_id", "n_purchases", "n_errors", "n_flagged"]
            )
        uid = (p if not p.empty else e)["user_id"].iloc[0]
        n_flagged = 0
        if not p.empty and not e.empty:
            ets = np.sort(e["ts"].to_numpy().astype("datetime64[us]"))
            pts = p["ts"].to_numpy().astype("datetime64[us]")
            lo = np.searchsorted(ets, pts - np.timedelta64(10, "m"), "left")
            hi = np.searchsorted(ets, pts, "left")  # strict: err < purchase
            n_flagged = int((hi > lo).sum())
        return pd.DataFrame(
            {
                "user_id": [uid],
                "n_purchases": [len(p)],
                "n_errors": [len(e)],
                "n_flagged": [n_flagged],
            }
        )

    return (
        purchases.groupBy("user_id")
        .cogroup(errors.groupBy("user_id"))
        .applyInPandas(
            merge,
            schema="user_id long, n_purchases long, n_errors long, n_flagged long",
        )
    )


# --- z-order (multi-dimensional) clustering sink ------------------------------

_ZORDER_ORACLE = f"""
SELECT COUNT(*) AS n,
       {o_dsum('o_totalprice')} AS revenue,
       MIN(o_orderdate) AS first_day,
       MAX(o_orderdate) AS last_day
FROM orders
WHERE o_custkey BETWEEN 100 AND 500
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
"""


def _zvalue(a, b):
    """Interleave the low 16 bits of two ints (Morton/z-curve code) with
    JVM-side bit ops — no UDF."""
    z = F.lit(0).cast("bigint")
    for i in range(16):
        z = (
            z.bitwiseOR(F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i))
            .bitwiseOR(
                F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
            )
        )
    return z


@register("sink_zorder", oracle=_ZORDER_ORACLE)
def q_sink_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering: rewrite orders range-partitioned + sorted on
    the Morton interleave of (custkey, days-since-epoch), then answer a
    TWO-dimensional slice from the clustered copy.

    Scale: single-key clustering (sink_range_cluster) prunes one
    predicate dimension and scatters the other; the z-curve keeps BOTH
    keys locally correlated with the file order, so min/max footer stats
    prune files for either predicate — the poor man's Delta Z-ORDER /
    Iceberg sort-order, built from repartitionByRange + bit math. The
    read-back filter must reach the parquet reader (gated in
    test_plans).
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    days = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
    ).cast("bigint")
    z = _zvalue(F.col("o_custkey").cast("bigint"), days)
    path = _tmp(sf_dir, "zorder")
    (
        o.withColumn("zval", z)
        .repartitionByRange(16, "zval")
        .sortWithinPartitions("zval")
        .drop("zval")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp_ntz")
    hi = F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    return (
        back.filter(
            (F.col("o_custkey") >= 100)
            & (F.col("o_custkey") <= 500)
            & (F.col("o_orderdate") >= lo)
            & (F.col("o_orderdate") < hi)
        ).agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("revenue"),
            F.min("o_orderdate").alias("first_day"),
            F.max("o_orderdate").alias("last_day"),
        )
    )


# --- heavy hitters: pigeonhole candidate prefilter + exact recount ------------

_HH_THRESHOLD = 75
_HH_SHARDS = 16
_HH_SHARD_MIN = -(-_HH_THRESHOLD // _HH_SHARDS)  # ceil(T / shards) = 5

_HH_ORACLE = f"""
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY user_id
HAVING COUNT(*) >= {_HH_THRESHOLD}
"""


@register("agg_heavy_hitters", oracle=_HH_ORACLE)
def q_agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter detection (users with ≥ 75 events) via a two-phase
    pigeonhole prefilter: rows are sharded by a deterministic hash
    (event_id mod 16), counted per (user, shard), and only users with
    some shard count ≥ ⌈T/shards⌉ = 5 survive as CANDIDATES — a key
    with global count ≥ T must, by pigeonhole, exceed the per-shard
    quota somewhere, so the prefilter is provably lossless (the oracle
    hash-matches a plain GROUP BY ... HAVING, proving exactly that).
    The exact recount then runs only on candidate rows.

    Scale: the point of the candidate pass is state bounding — per
    (user, shard) partials combine map-side and the heavy-hitter
    threshold prunes the long tail BEFORE the global count, so the
    final shuffle carries candidate rows only. At toy SF the per-user
    event counts sit near the threshold and most keys survive the
    prefilter; at 100 TB — where the key tail is ~all of the keyspace
    and each tail key is far below T/shards — the candidate set is
    orders of magnitude smaller than the key space, which is when this
    shape beats the single groupBy. The shard hash rides event_id, a
    uniform row id never correlated with user_id (same doctrine as
    [[agg_salted_hotkey]]'s salt).

    The candidate semi-join carries NO broadcast hint: whether the
    surviving candidate set fits in a broadcast is exactly what the
    prefilter cannot promise (at toy SF most keys survive, so the hint
    would force-broadcast nearly the whole keyspace; at scale few do),
    so the planner + AQE pick the strategy from the observed candidate
    size at runtime instead of a hint that is only right in the
    selective regime.
    """
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    shard = F.pmod(F.col("event_id"), F.lit(_HH_SHARDS))
    cand = (
        e.groupBy("user_id", shard.alias("shard"))
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= _HH_SHARD_MIN)
        .select("user_id")
        .distinct()
    )
    return (
        e.join(cand, "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .filter(F.col("n_events") >= _HH_THRESHOLD)
    )


# --- sliding-window distinct (explode-to-bucket rewrite) ----------------------

_SLIDE_DAYS = 7

_SLIDING_DISTINCT_ORACLE = f"""
WITH ed AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
  FROM events
),
days AS (SELECT DISTINCT day FROM ed)
SELECT CAST(d.day AS TIMESTAMP) AS day,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active_7d
FROM days d
JOIN ed e ON e.day >= d.day - {_SLIDE_DAYS - 1} AND e.day <= d.day
GROUP BY d.day
"""


@register("agg_sliding_distinct", oracle=_SLIDING_DISTINCT_ORACLE)
def q_agg_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct active users per observed day — the
    sliding COUNT(DISTINCT) that window frames cannot express (DISTINCT
    aggregates are unsupported over moving frames in every engine).

    Scale: the standard explode-to-bucket rewrite — each (user, day)
    pair, ALREADY deduplicated to one row per pair, is exploded to the
    W windows it contributes to, then a plain hash groupBy counts
    distinct per window end. Shuffle ∝ W × |distinct (user, day)|, not
    W × |events|, because the dedup runs before the explode; the window
    ends are restricted to observed days by an equi-join on the day
    spine, never a range scan. For approximate needs at larger W,
    swap count_distinct for HLL-sketch merge — same explode shape.
    """
    ed = (
        load_table(spark, sf_dir, "events")
        .select(
            F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"), "user_id"
        )
        .distinct()
    )
    # renamed spine column: days and contrib share ed's lineage, and a
    # same-name join condition would be ambiguous (see udf_cogrouped)
    days = ed.select(F.col("day").alias("win_day")).distinct()
    contrib = ed.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), _SLIDE_DAYS - 1))
        ).alias("win_end"),
        "user_id",
    )
    return (
        contrib.join(days, contrib.win_end == days.win_day)
        .groupBy(F.col("win_day").cast("timestamp_ntz").alias("day"))
        .agg(F.count_distinct("user_id").cast("bigint").alias("n_active_7d"))
    )


# --- time-series densification (gap-filled spine) -----------------------------

_DENSIFY_ORACLE = """
WITH daily AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1),
spine AS (
  SELECT user_id,
         CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM span
)
SELECT s.user_id, CAST(s.day AS TIMESTAMP) AS day,
       COALESCE(d.n, 0) AS n_events,
       d.n IS NULL AS is_gap
FROM spine s LEFT JOIN daily d ON d.user_id = s.user_id AND d.day = s.day
"""


@register("agg_timeseries_densify", oracle=_DENSIFY_ORACLE)
def q_agg_timeseries_densify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-to-dense time series: every user's daily event counts,
    gap-filled with explicit zero rows between that user's first and
    last active day — the densify pass feature pipelines run before
    fixed-stride models (lag features, rolling means) that cannot
    tolerate missing buckets.

    Scale: the spine is generated per user from its OWN [min, max] span
    (sequence + explode), so output is Σ span-days — bounded by the
    retention window, never |users| × |calendar|. The gap-fill join is
    an equi-join on (user_id, day): both sides hash-partition the same
    way, and the daily agg collapsed the fact table before anything
    exploded. Nothing in the plan is quadratic and no driver loop
    builds the calendar.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
        )
        .groupBy("user_id", "day")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = span.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    return spine.join(daily, ["user_id", "day"], "left").select(
        "user_id",
        F.col("day").cast("timestamp_ntz").alias("day"),
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n_events"),
        F.col("n").isNull().alias("is_gap"),
    )


# --- recency-decay-weighted activity score ------------------------------------

_DECAY_ANCHOR = "2024-02-01"  # first day after the event range

_DECAY_ORACLE = f"""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(floor(
           value / (1 + date_diff('day', CAST(date_trunc('day', ts) AS DATE),
                                  DATE '{_DECAY_ANCHOR}'))
           * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS score_fixed
FROM events
GROUP BY user_id
"""


@register("agg_decay_weighted", oracle=_DECAY_ORACLE)
def q_agg_decay_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted activity score per user: each event contributes
    value / (1 + age_days) against a fixed anchor date — the harmonic
    recency decay feature stores compute for ranking and churn models.
    Harmonic (not exponential) decay is deliberate: the weight is one
    IEEE division of exact ints, so both engines produce bit-identical
    doubles, where exp(-λ·age) could differ in the last ulp and flip a
    fixed-point quantization. The score is summed as quantized BIGINT —
    order-independent, overflow-safe (see helpers.py envelope).

    Scale: one hash groupBy with map-side partial sums; the weight is a
    per-row expression inside codegen. The anchor is a literal, not a
    MAX(ts) scalar subquery, because a feature store scores against its
    snapshot date, and a literal keeps the plan one-pass.
    """
    ev = load_table(spark, sf_dir, "events")
    age = F.datediff(
        F.lit(_DECAY_ANCHOR).cast("date"),
        F.to_date(F.date_trunc("day", F.col("ts"))),
    )
    term = F.col("value") / (F.lit(1) + age)
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(term * 1_000_000.0 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("score_fixed"),
    )
