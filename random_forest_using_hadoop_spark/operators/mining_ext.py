"""Statistical-mining extensions: per-group OLS trend lines, exact
discrete percentiles, and bigram language-model quality scoring.

Same harness and determinism doctrine as every other module:
fixed-point/integer accumulation wherever floats would otherwise cross
an accumulation-order boundary, deterministic tie-breaks on every rank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from random_forest_using_hadoop_spark.registry import register
from random_forest_using_hadoop_spark.sources import load_table

# --- per-group OLS trend -----------------------------------------------------

# x = whole hours since the stream epoch (exact small int), y = value
# quantized to 1e3. All five accumulators are exact integers; the
# slope/intercept algebra runs in double on 5 rows.
#
# Cross-engine subtlety: Spark timestampdiff(HOUR) counts complete
# 60-minute periods while DuckDB date_diff('hour') counts hour-BOUNDARY
# crossings. They coincide exactly because the epoch anchor sits on an
# hour boundary — keep it there.
_TREND_ORACLE = """
WITH q AS (
  SELECT event_type,
         CAST(date_diff('hour', TIMESTAMP '2024-01-01 00:00:00', ts)
              AS BIGINT) AS x,
         CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS y
  FROM events
),
s AS (
  SELECT event_type,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx,
         CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(x * y) AS DOUBLE) AS sxy,
         CAST(SUM(x * x) AS DOUBLE) AS sxx
  FROM q GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n_rows,
       round((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0) / 1000.0, 6)
           AS slope_per_hour,
       round((sy - (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0) * sx)
             / n / 1000.0, 6) AS intercept
FROM s
"""


@register("agg_ols_trend", oracle=_TREND_ORACLE)
def q_agg_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type least-squares trend line of value over time (slope per
    hour + intercept) from exact integer power sums — the drift
    detector a metric-quality monitor runs over every series.

    Scale: identical shape to agg_corr_powersum — one scan, one
    partial+final agg carrying five algebraic accumulators; the line
    fit runs on one row per group. An OLS over 100 TB of points costs
    exactly one aggregation, which is the whole point of the
    sufficient-statistics form.
    """
    ev = load_table(spark, sf_dir, "events")
    q = ev.select(
        "event_type",
        F.expr(
            "timestampdiff(HOUR, timestamp_ntz'2024-01-01 00:00:00', ts)"
        )
        .cast("bigint")
        .alias("x"),
        F.floor(F.col("value") * 1000.0 + 0.5).cast("bigint").alias("y"),
    )
    s = q.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx = F.col("sxy"), F.col("sxx")
    # try_divide / NULLIF: one point (or all x equal) zeroes the OLS
    # denominator — slope undefined, NULL on both engines (found by
    # tests/test_fuzz_relational.py's micro events stream)
    slope = F.try_divide(n * sxy - sx * sy, n * sxx - sx * sx)
    return s.select(
        "event_type",
        n.cast("bigint").alias("n_rows"),
        F.round(slope / 1000.0, 6).alias("slope_per_hour"),
        F.round((sy - slope * sx) / n / 1000.0, 6).alias("intercept"),
    )


# --- exact discrete percentiles ----------------------------------------------

_PCTL_ORACLE = """
WITH r AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (
             PARTITION BY event_type ORDER BY value, event_id
         ) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type,
       MAX(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT) THEN value END) AS p50,
       MAX(CASE WHEN rn = CAST(ceil(0.90 * n) AS BIGINT) THEN value END) AS p90,
       MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN value END) AS p99
FROM r GROUP BY event_type
"""


@register("agg_percentile_disc", oracle=_PCTL_ORACLE)
def q_agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete percentiles (p50/p90/p99) per group: the reported
    value is an actual data point selected by deterministic rank
    (value, then event_id on ties) — no interpolation, so the result
    is hash-exact across engines by construction.

    Scale: one shuffle partitions by type; rank and per-type count
    share that sort, and the final agg reduces three tagged rows per
    group. Exact percentiles require the per-group sort; at sketch
    scale the approximate path is agg_quantile_rollup (KLL-style
    mergeable summaries) — this operator is the audit-grade exact
    version run on slices.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def at(q: float):
        return F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(q) * F.col("n")).cast("bigint"),
                F.col("value"),
            )
        )

    return r.groupBy("event_type").agg(
        at(0.50).alias("p50"), at(0.90).alias("p90"), at(0.99).alias("p99")
    )


# --- bigram language-model quality score -------------------------------------

# Per-document mean of ln((c(w1,w2)+1) / (c(w1)+V)) over the document's
# bigrams — an add-one-smoothed bigram LM scored against the corpus's
# own statistics (low score → phrasing unlike the corpus: boilerplate,
# noise, or injected content). Each log term is quantized to 1e6 before
# the per-document sum, so only ln() itself must agree across engines
# (the contract text_tokens_tfidf's hash match already establishes).
_BIGRAM_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(s) AS token, generate_subscripts(s, 1) AS pos
  FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents)
),
big AS (
  SELECT doc_id, token,
         LEAD(token) OVER (PARTITION BY doc_id ORDER BY pos) AS next
  FROM tok
),
uni AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c1 FROM tok GROUP BY token),
bg AS (
  SELECT token, next, CAST(COUNT(*) AS BIGINT) AS c2
  FROM big WHERE next IS NOT NULL GROUP BY token, next
),
v AS (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS vocab FROM tok),
terms AS (
  SELECT b.doc_id,
         CAST(floor(ln((bg.c2 + 1.0) / (uni.c1 + v.vocab)) * 1000000.0 + 0.5)
              AS BIGINT) AS t
  FROM big b
  JOIN bg ON b.token = bg.token AND b.next = bg.next
  JOIN uni ON b.token = uni.token
  CROSS JOIN v
  WHERE b.next IS NOT NULL
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       floor((CAST(SUM(t) AS DOUBLE) / 1000000.0 / COUNT(*))
             * 1000000.0 + 0.5) / 1000000.0 AS lm_score
FROM terms GROUP BY doc_id
"""


@register("text_bigram_lm", oracle=_BIGRAM_ORACLE)
def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram LM score against the corpus's own bigram
    statistics (add-one smoothing) — the cheap statistical stand-in
    for a perplexity quality filter, computed entirely relationally:
    no model artifact, no Python in the hot path.

    Scale: unigram/bigram count tables are vocabulary-bounded, not
    corpus-bounded, so the scoring joins are dimension-style (small
    side broadcastable; candidates keyed exactly). The per-document
    sum is over quantized integers, so partial aggregation commutes.
    On a 100 TB corpus the same plan holds with the count tables
    becoming broadcast-or-bucketed dims — the token stream is
    scanned twice (counts, scoring), which is the relational minimum
    for self-referential statistics.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "token")
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    big = tok.select(
        "doc_id", "token", F.lead("token").over(wdoc).alias("next")
    ).filter(F.col("next").isNotNull())
    uni = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c1"))
    bg = big.groupBy("token", "next").agg(F.count(F.lit(1)).alias("c2"))
    vocab = tok.agg(F.count_distinct("token").alias("vocab"))
    terms = (
        big.join(bg, ["token", "next"])
        .join(uni, "token")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.floor(
                F.log((F.col("c2") + 1.0) / (F.col("c1") + F.col("vocab")))
                * 1000000.0
                + 0.5
            )
            .cast("bigint")
            .alias("t"),
        )
    )
    # floor-quantized, not F.round: the mean of quantized terms can sit
    # exactly on a 6-dp half (seen at sf0.1: −3.4140895), where Spark's
    # BigDecimal half-up and DuckDB's double-multiply round() disagree
    # by one digit; the multiply+floor form is the same IEEE op
    # sequence on both engines (r9 full-SF parity sweep)
    return terms.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (
            F.floor(
                (F.sum("t").cast("double") / 1000000.0 / F.count(F.lit(1)))
                * 1000000.0
                + 0.5
            )
            / 1000000.0
        ).alias("lm_score"),
    )


# --- Markov transition matrix ------------------------------------------------

_MARKOV_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type AS from_type,
         LEAD(event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
         ) AS to_type
  FROM events
),
c AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE to_type IS NOT NULL GROUP BY from_type, to_type
)
SELECT from_type, to_type, n,
       round(CAST(n AS DOUBLE)
             / SUM(n) OVER (PARTITION BY from_type), 6) AS p
FROM c
"""


@register("agg_markov_transition", oracle=_MARKOV_ORACLE)
def q_agg_markov_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: for each
    (from, to) event-type pair, the count and row-normalized
    probability of that transition in per-user time order
    (deterministic tie-break ts, then event_id).

    Scale: the LEAD window partitions by user — one shuffle bounded by
    the stream, sorted per user only. The transition counts then
    reduce to a |types|² frame (25 rows here) on which normalization
    is a toy window. Next-event-prediction baselines and funnel
    anomaly detectors read exactly this matrix.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    c = seq.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    wrow = Window.partitionBy("from_type")
    return c.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wrow), 6).alias("p"),
    )


# --- market-basket pair mining -----------------------------------------------

_BASKET_TOPN = 20

_BASKET_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(COUNT(*) AS BIGINT) AS support
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
),
r AS (
  SELECT part_a, part_b, support,
         ROW_NUMBER() OVER (
             ORDER BY support DESC, part_a, part_b
         ) AS rk
  FROM pairs
)
SELECT part_a, part_b, support, rk FROM r WHERE rk <= {_BASKET_TOPN}
"""


@register("agg_basket_pairs", oracle=_BASKET_ORACLE)
def q_agg_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: top-{N} co-purchased part pairs by
    support, totally ordered (support DESC, then pair) so the LIMIT is
    deterministic.

    Scale: the pair self-join is keyed on l_orderkey, so fan-out per
    order is lines-per-order² (~16 here, bounded by basket size —
    never corpus-quadratic); the candidate stream then partial-aggs on
    the pair key. The final top-N is a TakeOrderedAndProject, not a
    global sort. This is the support-counting pass of Apriori/FP-growth
    expressed relationally; larger itemsets iterate the same join
    against the surviving frequent set.
    """
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_a")
    )
    b = items.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, "k")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    # top-N via TakeOrderedAndProject (never a global sort of the pair
    # frame); the rank is re-derived on the 20 surviving rows only.
    top = pairs.orderBy(
        F.col("support").desc(), "part_a", "part_b"
    ).limit(_BASKET_TOPN)
    w = Window.orderBy(F.col("support").desc(), "part_a", "part_b")
    return top.withColumn("rk", F.row_number().over(w))


# --- two-proportion z-test ---------------------------------------------------

# Cohorts: even vs odd user_id (a deterministic hash split); conversion
# = the user emitted >=1 HIGH-VALUE purchase (value > 195 — at this
# stream's density plain "any purchase" converts ~100% of users, which
# degenerates the pooled variance to zero). All counts are exact
# integers; the z statistic is one double expression over them.
_ABTEST_ORACLE = """
WITH u AS (
  SELECT user_id, user_id % 2 AS cohort,
         MAX(CASE WHEN event_type = 'purchase' AND value > 195
                  THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
),
s AS (
  SELECT
    CAST(COUNT(*) FILTER (WHERE cohort = 0) AS BIGINT) AS n_a,
    CAST(COUNT(*) FILTER (WHERE cohort = 1) AS BIGINT) AS n_b,
    CAST(SUM(converted) FILTER (WHERE cohort = 0) AS BIGINT) AS conv_a,
    CAST(SUM(converted) FILTER (WHERE cohort = 1) AS BIGINT) AS conv_b
  FROM u
)
SELECT n_a, n_b, conv_a, conv_b,
       round((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
             / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 / n_a + 1.0 / n_b)), 6) AS z_stat
FROM s
"""


@register("agg_ab_ztest", oracle=_ABTEST_ORACLE)
def q_agg_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between deterministic user cohorts (even vs
    odd id) on purchase conversion — the experiment-readout query an
    A/B platform materializes per metric. Pooled-variance z statistic
    computed in one double expression over four exact counts.

    Scale: per-user conversion flags reduce on user_id (bounded by
    |users|), then four global counters partial-agg to a single row —
    two shuffles, both shrinking. No per-row float math at all.
    """
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 195), 1
            ).otherwise(0)
        ).alias("converted")
    ).withColumn("cohort", F.col("user_id") % 2)
    s = u.agg(
        F.count(F.when(F.col("cohort") == 0, 1)).alias("n_a"),
        F.count(F.when(F.col("cohort") == 1, 1)).alias("n_b"),
        F.sum(F.when(F.col("cohort") == 0, F.col("converted"))).alias("conv_a"),
        F.sum(F.when(F.col("cohort") == 1, F.col("converted"))).alias("conv_b"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    ca, cb = F.col("conv_a"), F.col("conv_b")
    pool = (ca + cb).cast("double") / (na + nb)
    z = (ca.cast("double") / na - cb.cast("double") / nb) / F.sqrt(
        pool * (1.0 - pool) * (1.0 / na + 1.0 / nb)
    )
    return s.select("n_a", "n_b", "conv_a", "conv_b", F.round(z, 6).alias("z_stat"))


# --- RFM segmentation --------------------------------------------------------

_RFM_ORACLE = """
WITH base AS (
  SELECT o_custkey,
         MAX(o_orderdate) AS last_order,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
              AS BIGINT) AS monetary_cents
  FROM orders GROUP BY o_custkey
),
scored AS (
  SELECT o_custkey,
         NTILE(5) OVER (ORDER BY last_order DESC, o_custkey) AS r_score,
         NTILE(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
         NTILE(5) OVER (ORDER BY monetary_cents DESC, o_custkey) AS m_score
  FROM base
)
SELECT r_score, f_score, m_score,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM scored GROUP BY r_score, f_score, m_score
"""


@register("agg_rfm_segmentation", oracle=_RFM_ORACLE)
def q_agg_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency/frequency/monetary) segmentation: quintile scores
    per customer with deterministic tie-breaks (custkey), reported as
    segment sizes. Monetary totals aggregate in cents (exact BIGINT),
    never floating dollars.

    Scale: the per-customer rollup partial-aggs on the natural key.
    Each NTILE derives from a DISTRIBUTED global row_number
    (helpers.dist_row_number: range-repartition on the sort key,
    per-slice rank + broadcast prefix offsets) fed through
    helpers.ntile_from_rn — the EXACT SQL NTILE assignment, which
    front-loads the n mod k remainder (the naive
    ((rn−1)·k) div n + 1 identity spreads it and diverges whenever
    n mod k ∉ {0, k−1}) — never an un-partitioned WindowExec funneling
    the customer frame through one task (plan-gated in
    tests/test_plans.py).
    """
    from random_forest_using_hadoop_spark.helpers import (
        dist_row_number,
        ntile_from_rn,
    )

    o = load_table(spark, sf_dir, "orders")
    base = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint")
        ).alias("monetary_cents"),
    )
    base = base.cache()  # three rank passes read it; released engine-wide
    n_tot = base.count()

    def quintile(src: DataFrame, order_cols, out: str) -> DataFrame:
        ranked, _ = dist_row_number(src, order_cols, out="_rn")
        return ranked.select(
            "o_custkey", ntile_from_rn("_rn", n_tot, 5).alias(out)
        )

    r = quintile(base, [F.col("last_order").desc(), F.col("o_custkey")], "r_score")
    f = quintile(base, [F.col("frequency").desc(), F.col("o_custkey")], "f_score")
    m = quintile(
        base, [F.col("monetary_cents").desc(), F.col("o_custkey")], "m_score"
    )
    scored = r.join(f, "o_custkey").join(m, "o_custkey")
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


# --- Benford first-digit audit -----------------------------------------------

# Expected Benford mass log10(1+1/d) is a 9-constant table computed by
# the same expression on both sides; observed counts are exact integers.
_BENFORD_ORACLE = """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
              1, 1) AS BIGINT) AS digit
  FROM orders WHERE o_totalprice >= 1.0
),
c AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS observed FROM d GROUP BY digit
),
t AS (SELECT CAST(SUM(observed) AS BIGINT) AS total FROM c)
SELECT c.digit, c.observed,
       round(CAST(c.observed AS DOUBLE) / t.total, 6) AS observed_p,
       round(log10(1.0 + 1.0 / c.digit), 6) AS benford_p
FROM c, t
"""


@register("agg_benford_digits", oracle=_BENFORD_ORACLE)
def q_agg_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals — the classic
    fabricated-numbers screen: observed leading-digit shares next to
    the Benford expectation log10(1+1/d).

    Scale: the digit projection is stateless string math on the scan;
    the audit reduces to a 9-row frame in one partial+final agg, with
    the total joined back as a broadcast scalar. Runs at any volume
    for the cost of one scan.
    """
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1.0)
    d = o.select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
        )
        .cast("bigint")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("observed"))
    t = c.agg(F.sum("observed").alias("total"))
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "digit",
            "observed",
            F.round(F.col("observed").cast("double") / F.col("total"), 6).alias(
                "observed_p"
            ),
            F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias("benford_p"),
        )
    )


# --- chi-square test of independence -----------------------------------------

_CHISQ_ORACLE = """
WITH obs AS (
  SELECT user_id % 2 AS cohort, event_type,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM events GROUP BY user_id % 2, event_type
),
m AS (
  SELECT cohort, event_type, o,
         SUM(o) OVER (PARTITION BY cohort) AS row_tot,
         SUM(o) OVER (PARTITION BY event_type) AS col_tot,
         SUM(o) OVER () AS n
  FROM obs
)
SELECT CAST((COUNT(DISTINCT cohort) - 1)
            * (COUNT(DISTINCT event_type) - 1) AS BIGINT) AS dof,
       round(SUM(
         (o - CAST(row_tot AS DOUBLE) * col_tot / n)
         * (o - CAST(row_tot AS DOUBLE) * col_tot / n)
         / (CAST(row_tot AS DOUBLE) * col_tot / n)
       ), 6) AS chi2
FROM m
"""


@register("agg_chisq_independence", oracle=_CHISQ_ORACLE)
def q_agg_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between user cohort (even/odd id)
    and event type — the contingency-table audit behind guardrail
    checks like "did the experiment change the action mix". The
    statistic sums over the |cohorts|x|types| table only; dof =
    (r-1)(c-1) is computed directly from the distinct category counts,
    so a sparse contingency table (empty cells) cannot understate it.

    Scale: one partial+final agg builds the contingency table (10
    cells here; bounded by the category product, never the stream);
    the marginals are windows over that tiny frame. Order-dependent
    float math never touches more than |cells| values, all derived
    from exact integer counts.

    Determinism note: the chi-square SUM accumulates doubles over the
    10-cell frame; with both engines summing the identical 10 values
    the result agrees to >=12 significant digits and r6 absorbs the
    accumulation-order residue.
    """
    ev = load_table(spark, sf_dir, "events")
    obs = ev.groupBy(
        (F.col("user_id") % 2).alias("cohort"), "event_type"
    ).agg(F.count(F.lit(1)).alias("o"))
    wr = Window.partitionBy("cohort")
    wc = Window.partitionBy("event_type")
    wall = Window.partitionBy()
    m = obs.select(
        "cohort",
        "event_type",
        "o",
        F.sum("o").over(wr).alias("row_tot"),
        F.sum("o").over(wc).alias("col_tot"),
        F.sum("o").over(wall).alias("n"),
    )
    e = F.col("row_tot").cast("double") * F.col("col_tot") / F.col("n")
    return m.agg(
        (
            (F.count_distinct("cohort") - 1)
            * (F.count_distinct("event_type") - 1)
        )
        .cast("bigint")
        .alias("dof"),
        F.round(F.sum((F.col("o") - e) * (F.col("o") - e) / e), 6).alias("chi2"),
    )


# --- MAD (median absolute deviation) outlier screen --------------------------

_MAD_ORACLE = """
WITH r1 AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (
             PARTITION BY event_type ORDER BY value, event_id
         ) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
med AS (
  SELECT event_type, value AS median
  FROM r1 WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)
),
dev AS (
  SELECT e.event_type, e.event_id, abs(e.value - m.median) AS ad,
         m.median
  FROM events e JOIN med m ON e.event_type = m.event_type
),
r2 AS (
  SELECT event_type, ad, median,
         ROW_NUMBER() OVER (
             PARTITION BY event_type ORDER BY ad, event_id
         ) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM dev
),
mad AS (
  SELECT event_type, median, ad AS mad
  FROM r2 WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)
)
SELECT d.event_type,
       round(m.median, 6) AS median,
       round(m.mad, 6) AS mad,
       CAST(COUNT(*) FILTER (
           WHERE abs(d.value - m.median) > 3.0 * m.mad) AS BIGINT)
           AS n_outliers
FROM events d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type, m.median, m.mad
"""


@register("win_outlier_mad", oracle=_MAD_ORACLE)
def q_win_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen: median absolute deviation per group
    (|x − median| > 3·MAD) — the screen of choice when the z-score's
    own mean/std are corrupted by the outliers being hunted. Both
    medians are exact discrete selections with deterministic
    tie-breaks, so the whole chain is hash-exact.

    Scale: two ranked passes per group (median, then MAD) plus a final
    counting join — each a type-partitioned sort like
    agg_percentile_disc, with the 5-row median/MAD frames broadcast
    back onto the stream. Exactness costs the sorts; the sketch path
    (approx medians) keeps the identical topology.
    """
    ev = load_table(spark, sf_dir, "events")

    def disc_median(df, col, part, tie):
        w = Window.partitionBy(part).orderBy(col, tie)
        wn = Window.partitionBy(part)
        return (
            df.withColumn("rn", F.row_number().over(w))
            .withColumn("n", F.count(F.lit(1)).over(wn))
            .filter(F.col("rn") == F.ceil(0.5 * F.col("n")).cast("bigint"))
        )

    med = disc_median(ev, "value", "event_type", "event_id").select(
        "event_type", F.col("value").alias("median")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        "value",
        "median",
        F.abs(F.col("value") - F.col("median")).alias("ad"),
    )
    mad = disc_median(dev, "ad", "event_type", "event_id").select(
        "event_type", F.col("ad").alias("mad")
    )
    return (
        ev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "median", "mad")
        .agg(
            F.count(
                F.when(
                    F.abs(F.col("value") - F.col("median"))
                    > 3.0 * F.col("mad"),
                    1,
                )
            ).alias("n_outliers")
        )
        .select(
            "event_type",
            F.round("median", 6).alias("median"),
            F.round("mad", 6).alias("mad"),
            "n_outliers",
        )
    )


# --- period-over-period (week-over-week) -------------------------------------

_WOW_ORACLE = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(SUM(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_fx,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY date_trunc('day', ts)
),
l AS (
  SELECT d.day, d.n, d.value_fx, p.value_fx AS prev_fx
  FROM daily d LEFT JOIN daily p ON p.day = d.day - INTERVAL 7 DAY
)
SELECT day, n, round(value_fx / 1000000.0, 6) AS value_sum,
       round(CASE WHEN prev_fx > 0
                  THEN CAST(value_fx AS DOUBLE) / prev_fx - 1.0 END, 6)
           AS wow_change
FROM l
"""


@register("win_period_over_period", oracle=_WOW_ORACLE)
def q_win_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth per day: daily value totals with the
    ratio against the same calendar day one week earlier — the
    period-over-period comparison every metrics dashboard leads with.
    NULL (not a fake 0) where no prior week exists.

    The prior week comes from a self-join on ``day − 7 days``, not a
    row-offset LAG(7): a LAG over the day spine only means "one week
    earlier" when the spine is dense — any missing day would silently
    shift the comparison to the 7th-prior *present* day. The calendar
    join is gap-proof by construction.

    Scale: the stream reduces to one row per day before the join, so
    both sides are ~365 rows per year regardless of event volume and
    the self-join is a broadcast hash join on the day key. Totals ride
    fixed-point integers; the ratio is one double op on two exact
    values.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.sum(
            F.floor(F.col("value") * 1000000.0 + 0.5).cast("bigint")
        ).alias("value_fx"),
        F.count(F.lit(1)).alias("n"),
    )
    prior = daily.select(
        (F.col("day") + F.expr("INTERVAL 7 DAYS")).alias("day"),
        F.col("value_fx").alias("prev_fx"),
    )
    return (
        daily.join(F.broadcast(prior), "day", "left")
        .select(
            "day",
            "n",
            F.round(F.col("value_fx") / 1000000.0, 6).alias("value_sum"),
            F.round(
                F.when(
                    F.col("prev_fx") > 0,
                    F.col("value_fx").cast("double") / F.col("prev_fx") - 1.0,
                ),
                6,
            ).alias("wow_change"),
        )
    )


# --- dedup cluster-size histogram --------------------------------------------

_CLUSTHIST_ORACLE = """
WITH g AS (
  SELECT md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM documents GROUP BY md5(text)
)
SELECT cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
       CAST((cluster_size - 1) * COUNT(*) AS BIGINT) AS n_removable
FROM g GROUP BY cluster_size
"""


@register("dedup_cluster_histogram", oracle=_CLUSTHIST_ORACLE)
def q_dedup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram: how many exact-duplicate
    clusters exist at each size, how many documents they hold, and how
    many rows dedup would remove — the datasheet row that turns "we
    deduped" into a number (Σ n_removable / Σ n_docs).

    Scale: two shrinking aggregations — content-hash groups (shuffle ∝
    distinct texts, same as dedup_exact) then a ≤max-cluster-size
    histogram. The removable count falls out arithmetically; no second
    pass over the corpus.
    """
    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return g.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).alias("n_docs"),
        ((F.col("cluster_size") - 1) * F.count(F.lit(1))).alias("n_removable"),
    )


# --- rank movers between periods ---------------------------------------------

_MOVERS_ORACLE = """
WITH halves AS (
  SELECT user_id,
         CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 0 ELSE 1 END
             AS half,
         CAST(SUM(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_fx
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT user_id, half,
         ROW_NUMBER() OVER (
             PARTITION BY half ORDER BY value_fx DESC, user_id
         ) AS rk
  FROM halves
)
SELECT a.user_id,
       a.rk AS rank_before, b.rk AS rank_after,
       CAST(a.rk - b.rk AS BIGINT) AS moved_up
FROM ranked a JOIN ranked b
  ON a.user_id = b.user_id AND a.half = 0 AND b.half = 1
ORDER BY abs(a.rk - b.rk) DESC, a.user_id
LIMIT 10
"""


@register("win_rank_movers", oracle=_MOVERS_ORACLE)
def q_win_rank_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leaderboard movers: each user's value rank in the first vs second
    half of the stream window, reporting the 10 largest rank swings —
    the "biggest movers" card on every ranking dashboard. Ranks use
    fixed-point totals and a deterministic tie-break; the final LIMIT
    is totally ordered (|swing| DESC, then user).

    Scale: the stream reduces to |users|×2 rows before any rank; both
    rank windows and the self-join run on that reduced frame. The
    top-10 is a TakeOrderedAndProject over |users| rows.
    """
    ev = load_table(spark, sf_dir, "events")
    halves = ev.groupBy(
        "user_id",
        F.when(
            F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp_ntz"), 0
        )
        .otherwise(1)
        .alias("half"),
    ).agg(
        F.sum(F.floor(F.col("value") * 1000000.0 + 0.5).cast("bigint")).alias(
            "value_fx"
        )
    )
    w = Window.partitionBy("half").orderBy(F.col("value_fx").desc(), "user_id")
    ranked = halves.withColumn("rk", F.row_number().over(w))
    a = ranked.filter(F.col("half") == 0).select(
        "user_id", F.col("rk").alias("rank_before")
    )
    b = ranked.filter(F.col("half") == 1).select(
        "user_id", F.col("rk").alias("rank_after")
    )
    return (
        a.join(b, "user_id")
        .select(
            "user_id",
            "rank_before",
            "rank_after",
            (F.col("rank_before") - F.col("rank_after"))
            .cast("bigint")
            .alias("moved_up"),
        )
        .orderBy(F.abs(F.col("moved_up")).desc(), "user_id")
        .limit(10)
    )


# --- mean family (arithmetic / weighted / geometric / harmonic) ---------------

# Geometric and harmonic means need ln(x) and 1/x per row — both
# quantized to 1e6 BEFORE summation so accumulation order cannot leak;
# ln() agreement across engines is the established contract
# (text_tokens_tfidf, agg_entropy). Values are strictly positive after
# the filter, so every mean is defined.
_MEANS_ORACLE = """
WITH q AS (
  SELECT l_returnflag,
         l_quantity AS x,
         l_extendedprice AS w,
         CAST(floor(l_quantity * 1000000.0 + 0.5) AS BIGINT) AS x_fx,
         CAST(floor(l_extendedprice * 1000000.0 + 0.5) AS BIGINT) AS w_fx,
         CAST(floor(ln(l_quantity) * 1000000.0 + 0.5) AS BIGINT) AS lnx_fx,
         CAST(floor(1000000.0 / l_quantity + 0.5) AS BIGINT) AS invx_fx,
         CAST(floor(l_quantity * l_extendedprice * 100.0 + 0.5) AS BIGINT)
             AS wx_fx2
  FROM lineitem WHERE l_quantity > 0
)
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       round(CAST(SUM(x_fx) AS DOUBLE) / 1000000.0 / COUNT(*), 6)
           AS mean_arith,
       round(CAST(SUM(wx_fx2) AS DOUBLE) / 100.0
             / (CAST(SUM(w_fx) AS DOUBLE) / 1000000.0), 6) AS mean_weighted,
       round(exp(CAST(SUM(lnx_fx) AS DOUBLE) / 1000000.0 / COUNT(*)), 6)
           AS mean_geo,
       round(COUNT(*) / (CAST(SUM(invx_fx) AS DOUBLE) / 1000000.0), 6)
           AS mean_harmonic
FROM q GROUP BY l_returnflag
"""


@register("agg_mean_family", oracle=_MEANS_ORACLE)
def q_agg_mean_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The four means per group — arithmetic, price-weighted, geometric
    (exp of mean-log), harmonic (reciprocal of mean-reciprocal) — the
    full toolkit for rate/ratio metrics where the arithmetic mean is
    the wrong estimator (harmonic for rates, geometric for growth
    factors).

    Scale: one scan, one partial+final agg carrying five integer
    accumulators; every per-row transform (ln, reciprocal, product)
    quantizes before summation so the partials merge exactly anywhere.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    q6 = lambda c: F.floor(c * 1000000.0 + 0.5).cast("bigint")  # noqa: E731
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q6(F.col("l_quantity"))).alias("sx"),
        F.sum(q6(F.col("l_extendedprice"))).alias("sw"),
        F.sum(q6(F.log(F.col("l_quantity")))).alias("slnx"),
        F.sum(
            F.floor(1000000.0 / F.col("l_quantity") + 0.5).cast("bigint")
        ).alias("sinvx"),
        F.sum(
            F.floor(
                F.col("l_quantity") * F.col("l_extendedprice") * 100.0 + 0.5
            ).cast("bigint")
        ).alias("swx"),
    )
    n = F.col("n")
    return s.select(
        "l_returnflag",
        n.cast("bigint").alias("n"),
        F.round(F.col("sx").cast("double") / 1000000.0 / n, 6).alias("mean_arith"),
        F.round(
            F.col("swx").cast("double")
            / 100.0
            / (F.col("sw").cast("double") / 1000000.0),
            6,
        ).alias("mean_weighted"),
        F.round(
            F.exp(F.col("slnx").cast("double") / 1000000.0 / n), 6
        ).alias("mean_geo"),
        F.round(
            n / (F.col("sinvx").cast("double") / 1000000.0), 6
        ).alias("mean_harmonic"),
    )


# --- data profiling -----------------------------------------------------------

_PROFILE_ORACLE = """
SELECT 'o_custkey' AS col,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
       CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS n_null,
       round(MIN(o_custkey), 6) AS min_v, round(MAX(o_custkey), 6) AS max_v
FROM orders
UNION ALL
SELECT 'o_totalprice',
       CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
       CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
       round(MIN(o_totalprice), 6), round(MAX(o_totalprice), 6)
FROM orders
UNION ALL
SELECT 'o_orderdate',
       CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
       CAST(COUNT(*) - COUNT(o_orderdate) AS BIGINT),
       round(CAST(epoch(MIN(o_orderdate)) AS DOUBLE), 6),
       round(CAST(epoch(MAX(o_orderdate)) AS DOUBLE), 6)
FROM orders
"""


@register("pipe_data_profile", oracle=_PROFILE_ORACLE)
def q_pipe_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profile datasheet (row count, distinct, nulls, min/max per
    column, one output row per column) — the first query every data
    platform runs against a new table, and the statistics a cost-based
    optimizer's ANALYZE collects.

    Scale: ALL columns profile in ONE scan — each metric is an
    independent aggregate expression in the same partial+final agg, so
    adding columns widens the accumulator row, not the pass count.
    (Exact distincts expand to one extra shuffle per column; the sketch
    swap is approx_count_distinct with identical topology.) The
    row-per-column shape comes from restacking the single agg row,
    not from per-column jobs.
    """
    o = load_table(spark, sf_dir, "orders")
    s = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("o_custkey").alias("d_cust"),
        F.count("o_custkey").alias("nn_cust"),
        F.min("o_custkey").cast("double").alias("min_cust"),
        F.max("o_custkey").cast("double").alias("max_cust"),
        F.count_distinct("o_totalprice").alias("d_price"),
        F.count("o_totalprice").alias("nn_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.count_distinct("o_orderdate").alias("d_date"),
        F.count("o_orderdate").alias("nn_date"),
        F.unix_timestamp(F.min("o_orderdate")).cast("double").alias("min_date"),
        F.unix_timestamp(F.max("o_orderdate")).cast("double").alias("max_date"),
    )
    n = F.col("n_rows")
    rows = [
        ("o_custkey", "d_cust", "nn_cust", "min_cust", "max_cust"),
        ("o_totalprice", "d_price", "nn_price", "min_price", "max_price"),
        ("o_orderdate", "d_date", "nn_date", "min_date", "max_date"),
    ]
    parts = [
        s.select(
            F.lit(name).alias("col"),
            n.alias("n_rows"),
            F.col(d).cast("bigint").alias("n_distinct"),
            (n - F.col(nn)).cast("bigint").alias("n_null"),
            F.round(F.col(mn), 6).alias("min_v"),
            F.round(F.col(mx), 6).alias("max_v"),
        )
        for name, d, nn, mn, mx in rows
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --- longest daily-activity streak -------------------------------------------

_STREAK_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
),
r AS (
  SELECT user_id, day,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rn
  FROM days
),
runs AS (
  SELECT user_id, day - INTERVAL (rn) DAY AS grp, CAST(COUNT(*) AS BIGINT)
             AS streak
  FROM r GROUP BY user_id, day - INTERVAL (rn) DAY
)
SELECT user_id,
       MAX(streak) AS max_streak,
       CAST(SUM(streak) AS BIGINT) AS active_days
FROM runs GROUP BY user_id
"""


@register("win_streak_longest", oracle=_STREAK_ORACLE)
def q_win_streak_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (plus total
    active days) — the engagement metric behind every "N-day streak"
    product surface, via the classic day-minus-rank trick: consecutive
    days share (day − rank·1day), so streaks fall out of a groupBy.

    Scale: the stream first reduces to distinct (user, day) — bounded
    by users × calendar, not events — and the rank window, the run
    grouping, and the final per-user max all share the user hash
    partitioning: one exchange after the distinct.
    """
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    r = days.withColumn("rn", F.row_number().over(w))
    runs = r.groupBy(
        "user_id",
        (F.col("day") - F.make_dt_interval(F.col("rn"))).alias("grp"),
    ).agg(F.count(F.lit(1)).alias("streak"))
    return runs.groupBy("user_id").agg(
        F.max("streak").alias("max_streak"),
        F.sum("streak").alias("active_days"),
    )


# --- Pareto concentration point ----------------------------------------------

_PARETO_ORACLE = """
WITH u AS (
  SELECT user_id,
         CAST(SUM(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS v_fx
  FROM events GROUP BY user_id
),
r AS (
  SELECT user_id, v_fx,
         ROW_NUMBER() OVER (ORDER BY v_fx DESC, user_id) AS rk,
         SUM(v_fx) OVER (ORDER BY v_fx DESC, user_id
                         ROWS UNBOUNDED PRECEDING) AS cum_fx,
         SUM(v_fx) OVER () AS tot_fx,
         COUNT(*) OVER () AS n_users
  FROM u
)
SELECT CAST(rk AS BIGINT) AS users_to_80pct,
       CAST(n_users AS BIGINT) AS n_users,
       round(CAST(rk AS DOUBLE) / n_users, 6) AS user_share,
       round(CAST(cum_fx AS DOUBLE) / tot_fx, 6) AS value_share
FROM r
WHERE CAST(cum_fx AS DOUBLE) / tot_fx >= 0.8
ORDER BY rk LIMIT 1
"""


@register("agg_pareto_point", oracle=_PARETO_ORACLE)
def q_agg_pareto_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Pareto concentration point: how many top users it takes to
    cover 80% of total value ("is this an 80/20 business?") — one row
    with the user count and the exact shares at the crossing.

    Scale: the stream reduces to per-user fixed-point totals first;
    rank + running share then use the classic distributed cumulative
    sum — value-range slices via approx-percentile boundaries,
    per-slice windows in parallel, broadcast prefix totals to stitch —
    so no un-partitioned window ever sees the user frame (billions of
    users stay spread over |slices| tasks; the only global window runs
    over the ≤33-row slice partials). The cumulative sums are exact
    integers, so the crossing index is deterministic — never a
    float-accumulation coin flip at the 0.8 boundary, and independent
    of where the sampled slice boundaries happen to land.
    """
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.floor(F.col("value") * 1000000.0 + 0.5).cast("bigint")).alias(
            "v_fx"
        )
    )
    # Distributed two-pass cumulative sum (no global un-partitioned
    # window over the user frame, which would funnel every user through
    # ONE WindowExec task):
    #   1. slice the value axis with approx-percentile boundaries —
    #      slice id is a pure monotone function of v_fx (ties never
    #      straddle a slice), so ascending slice = descending v_fx and
    #      ANY boundary choice yields the same final answer;
    #   2. per-slice rank + running sum in parallel (window partitioned
    #      by slice);
    #   3. prefix-stitch with the ≤33-row per-slice partials (the only
    #      un-partitioned window runs over that constant-size frame).
    n_slices = 32
    pcts = [i / n_slices for i in range(1, n_slices)]
    bounds = u.agg(
        F.percentile_approx("v_fx", F.array(*[F.lit(p) for p in pcts]), 2000)
        .alias("bnds")
    )
    sliced = (
        u.crossJoin(F.broadcast(bounds))
        .withColumn(
            "slice",
            F.size(F.filter("bnds", lambda b: b > F.col("v_fx"))),
        )
        .drop("bnds")
    )
    partials = sliced.groupBy("slice").agg(
        F.sum("v_fx").alias("psum"), F.count(F.lit(1)).alias("pcnt")
    )
    wp = Window.orderBy("slice").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.partitionBy()
    prefix = partials.select(
        "slice",
        F.coalesce(F.sum("psum").over(wp), F.lit(0)).alias("pre_sum"),
        F.coalesce(F.sum("pcnt").over(wp), F.lit(0)).alias("pre_cnt"),
        F.sum("psum").over(wall).alias("tot_fx"),
        F.sum("pcnt").over(wall).alias("n_users"),
    )
    ws = Window.partitionBy("slice").orderBy(F.col("v_fx").desc(), "user_id")
    r = (
        sliced.withColumn("rn_loc", F.row_number().over(ws))
        .withColumn(
            "cum_loc",
            F.sum("v_fx").over(
                ws.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .join(F.broadcast(prefix), "slice")
        .select(
            (F.col("pre_cnt") + F.col("rn_loc")).alias("rk"),
            (F.col("pre_sum") + F.col("cum_loc")).alias("cum_fx"),
            "tot_fx",
            "n_users",
        )
    )
    return (
        r.filter(
            F.col("cum_fx").cast("double") / F.col("tot_fx") >= 0.8
        )
        .orderBy("rk")
        .limit(1)
        .select(
            F.col("rk").cast("bigint").alias("users_to_80pct"),
            F.col("n_users").cast("bigint").alias("n_users"),
            F.round(F.col("rk").cast("double") / F.col("n_users"), 6).alias(
                "user_share"
            ),
            F.round(
                F.col("cum_fx").cast("double") / F.col("tot_fx"), 6
            ).alias("value_share"),
        )
    )


# --- cohort lifetime-value curve ---------------------------------------------

_LTV_ORACLE = """
WITH firsts AS (
  SELECT o_custkey, MIN(date_trunc('month', o_orderdate)) AS cohort
  FROM orders GROUP BY o_custkey
),
spend AS (
  SELECT f.cohort,
         date_diff('month', f.cohort, date_trunc('month', o.o_orderdate))
             AS month_idx,
         CAST(SUM(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
  WHERE f.cohort >= TIMESTAMP '1995-01-01' AND f.cohort < TIMESTAMP '1996-01-01'
  GROUP BY 1, 2
),
sizes AS (
  SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_size
  FROM firsts
  WHERE cohort >= TIMESTAMP '1995-01-01' AND cohort < TIMESTAMP '1996-01-01'
  GROUP BY cohort
)
SELECT s.cohort, CAST(s.month_idx AS BIGINT) AS month_idx, z.cohort_size,
       round(CAST(SUM(s.cents) OVER (PARTITION BY s.cohort ORDER BY s.month_idx
                                     ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / 100.0 / z.cohort_size, 6) AS cum_ltv_per_user
FROM spend s JOIN sizes z ON s.cohort = z.cohort
"""


@register("agg_cohort_ltv", oracle=_LTV_ORACLE)
def q_agg_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: for each 1995 signup cohort, the
    cumulative spend per user by months-since-first-order — the revenue
    complement of agg_retention_cohort's activity curve, and the number
    a payback-period decision reads.

    Scale: first-order cohorts and per-(cohort, month) cents both
    partial-agg on bounded keys; the cumulative window runs per cohort
    over ≤ |months| rows. Money stays in integer cents until the final
    per-user division.
    """
    o = load_table(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", F.col("o_orderdate"))).alias("cohort")
    ).filter(
        (F.col("cohort") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("cohort") < F.lit("1996-01-01").cast("timestamp_ntz"))
    )
    joined = o.join(firsts, "o_custkey")
    spend = joined.groupBy(
        "cohort",
        F.months_between(
            F.date_trunc("month", F.col("o_orderdate")), F.col("cohort")
        )
        .cast("bigint")
        .alias("month_idx"),
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint")
        ).alias("cents")
    )
    sizes = firsts.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    w = Window.partitionBy("cohort").orderBy("month_idx").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        spend.join(F.broadcast(sizes), "cohort")
        .select(
            "cohort",
            "month_idx",
            "cohort_size",
            F.round(
                F.sum("cents").over(w).cast("double")
                / 100.0
                / F.col("cohort_size"),
                6,
            ).alias("cum_ltv_per_user"),
        )
    )
