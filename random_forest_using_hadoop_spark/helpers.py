"""Cross-engine determinism helpers.

The driver hash-matches query values against a DuckDB oracle
(order-insensitive, columns sorted by name). Double-precision SUM/AVG
over ≥10⁴ rows differs between engines by ~1e-2 absolute (different
accumulation order), which no post-hoc rounding reliably masks. Policy:

- ``dsum``/``davg``: fixed-point aggregation — quantize each value to
  6 decimals with ``floor(x*1e6 + 0.5)`` (a pure double expression,
  identical in both engines; half-up for the positive domains here),
  sum exactly as BIGINT (order-insensitive), and divide back to double
  at the end. Matching SQL builders ``o_dsum``/``o_davg`` emit the
  DuckDB side. Measured at sf0.1: ~3× faster than summing through
  DECIMAL(18,6) (Spark's decimal aggregate leaves the fast codegen
  path), and bit-identical across engines by construction.

  Overflow envelope: |Σ x|·1e6 must stay < 2^63, i.e. Σ|x| < 9.2e12 per
  group — comfortable for every bench aggregate (~1e10). For sums beyond
  that (true 100 TB global sums), aggregate through DECIMAL(38,6)
  instead — exactness without the envelope, at decimal-agg cost; B28
  (agg_stats) shows the decimal power-sum pattern.

- ``r6``: round(x, 6) for scalar (non-aggregated) float expressions,
  where both engines compute the same IEEE double and rounding only
  guards display-level noise. Do NOT use round() as a determinism tool
  on magnitudes ≥1e10: DuckDB's round() multiplies by 10^d first and
  loses integer precision past 2^53 (measured — see agg_stats).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SCALE = 1_000_000.0


def local_rows(spark, data, schema=None):
    """``spark.createDataFrame`` for SMALL driver-side lists (file maps,
    spines, commit descriptors, fixture feeds) without the
    defaultParallelism fan-out: the plain list path parallelizes even a
    4-row list into one Python partition PER CORE, so materializing it
    costs ``local[32]`` thirty-two Python-worker round trips (measured
    4.7 s for a 4-row coalesce(1) write; 0.7 s with one slice). One
    bounded-metadata list = one partition — same row-verification
    and type-conversion path (``createDataFrame(RDD, schema)`` is the
    list path minus the fan-out), so values are identical. Lists that
    are NOT bounded metadata (none in this engine — everything
    row-scale is a distributed scan) should keep the plain call."""
    if not data:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(data, 1), schema
    )


def assert_multiset_equal(a, b, what: str) -> None:
    """In-key honesty gate: require two frames to be multiset-equal
    (same rows with the same multiplicities — exactly what
    ``a.exceptAll(b)`` AND ``b.exceptAll(a)`` both empty proves), in
    ONE Spark job instead of two: union the sides with +1/-1 weights,
    hash-aggregate by every column, and look for any nonzero net
    count. Each exceptAll direction recomputes BOTH inputs, so for
    un-checkpointed gate inputs this also halves how often the (often
    expensive) sides are evaluated. The failure message says which
    direction broke, recovered from the sign of the net weight."""
    cols = a.columns
    off = (
        a.select(*cols).withColumn("_w", F.lit(1))
        .unionByName(b.select(*cols).withColumn("_w", F.lit(-1)))
        .groupBy(*cols)
        .agg(F.sum("_w").alias("_d"))
        .filter(F.col("_d") != 0)
        .limit(1)
        .collect()
    )
    if off:
        side = "left has rows the right lacks" if off[0]["_d"] > 0 else (
            "right has rows the left lacks"
        )
        raise ValueError(f"{what}: {side} ({off[0].asDict()})")


def _fixed(c: Column) -> Column:
    return F.floor(c * SCALE + 0.5).cast("bigint")


def dsum(col: Column | str) -> Column:
    """Order-insensitive cross-engine-exact sum of a double column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(_fixed(c)) / F.lit(SCALE)


def davg(col: Column | str) -> Column:
    """Exact fixed-point mean: (Σ quantized)/1e6/count, double at the end."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(_fixed(c)) / F.lit(SCALE)) / F.count(c)


def o_dsum(expr: str) -> str:
    """DuckDB SQL mirroring :func:`dsum` (SUM(BIGINT) → HUGEINT, so pin
    BIGINT before the final division)."""
    return (
        f"CAST(SUM(CAST(floor(({expr}) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)"
        f" / 1000000.0"
    )


def o_davg(expr: str) -> str:
    """DuckDB SQL mirroring :func:`davg`."""
    return f"({o_dsum(expr)}) / COUNT(({expr}))"


def r6(col: Column) -> Column:
    return F.round(col, 6)


def salted_agg(df, keys, salt_col, aggs, n_salts: int = 16):
    """Two-phase salted aggregation for hot grouping keys.

    Phase 1 groups by (keys, salt) — the hot key's rows spread over
    ``n_salts`` reducers; phase 2 re-aggregates the per-salt partials by
    the true keys (tiny input: #keys × n_salts rows). ``salt_col`` must
    be a deterministic column expression (e.g. ``pmod(event_id, 16)``)
    so results are reproducible; use a uniform row id, never a value
    correlated with the keys.

    Only needed when map-side partial aggregation can't compress the hot
    key first — distinct-like states, collect_list, or extreme
    single-key skew where even partial states overload one reducer.
    ``aggs`` maps output name → (phase1_agg_fn, phase2_merge_fn), each
    Column → Column.
    """
    phase1 = df.groupBy(*keys, salt_col.alias("_salt")).agg(
        *[fn1(name).alias(f"_p_{name}") for name, (fn1, _) in aggs.items()]
    )
    return phase1.groupBy(*keys).agg(
        *[
            fn2(F.col(f"_p_{name}")).alias(name)
            for name, (_, fn2) in aggs.items()
        ]
    )


def dist_row_number(
    df, order_cols, out: str = "rn", n_parts: int = 32
):
    """Distributed global ROW_NUMBER over a total order — the
    scale-safe replacement for ``row_number().over(Window.orderBy(...))``,
    whose un-partitioned WindowExec funnels the whole frame through ONE
    task (SinglePartition exchange) at 100 TB.

    Mechanics (classic two-pass rank): range-repartition on the sort
    key (Spark's RangePartitioner samples the key distribution, so
    near-even splits even under value skew), sort within partitions,
    count rows per range slice, broadcast the ≤``n_parts`` prefix
    offsets back, and add them to a per-slice ``row_number``. The
    driver collects only ``n_parts`` (pid, count) rows — bounded
    scheduler-class metadata, not data.

    ``order_cols`` must be a TOTAL order (include a unique tie-break
    column): rows equal on the full sort key could otherwise straddle a
    range boundary and the per-slice window would rank them
    arbitrarily. Ascending/descending is expressed in the Column
    expressions (e.g. ``F.col("v").desc()``).

    The partitioned frame is cached before the counts action:
    RangePartitioner derives its boundaries from a seeded sample keyed
    to the instantiated RDD lineage, so pinning ONE InMemoryRelation
    guarantees the offsets job and the caller's final job see identical
    slice assignment (an evicted block recomputes through the same
    lineage, hence the same boundaries). Released via the engine-wide
    release_caches() hook.

    Returns ``(ranked, total)``: the ranked frame and ``|df|``, already
    summed driver-side from the per-slice counts, so callers that need
    the row count (e.g. the bitmap encoder's vocabulary size) do not
    pay a second full count() job over the same frame.
    """
    part = (
        df.repartitionByRange(n_parts, *order_cols)
        .withColumn("_rn_pid", F.spark_partition_id())
        .cache()
    )
    counts = dict(
        part.groupBy("_rn_pid").count().collect()
    )  # ≤ n_parts rows
    offsets, acc = {}, 0
    for pid in range(n_parts):
        offsets[pid] = acc
        acc += counts.get(pid, 0)
    from pyspark.sql import Window

    w = Window.partitionBy("_rn_pid").orderBy(*order_cols)
    off = F.element_at(
        F.create_map(
            *[
                F.lit(x)
                for pid in sorted(offsets)
                for x in (pid, offsets[pid])
            ]
        ),
        F.col("_rn_pid"),
    )
    ranked = part.withColumn(
        out, (F.row_number().over(w) + off).cast("bigint")
    ).drop("_rn_pid")
    # expose the internal cached frame so callers that bound their own
    # cache lifetimes (the dedup session memos) can unpersist it with
    # their entry instead of waiting for the engine-wide
    # release_caches() boundary
    ranked._rn_pin = part
    return ranked, acc


def ntile_from_rn(rn_col: str, n: int, k: int) -> Column:
    """Exact SQL ``NTILE(k)`` bucket from a 1-based global row number.

    SQL NTILE front-loads the ``n mod k`` remainder rows: the first
    ``e = n mod k`` buckets get ``q+1`` rows (``q = n div k``), the
    rest get ``q``. The naive identity ``((rn−1)·k) div n + 1`` is NOT
    equivalent — it spreads the remainder (e.g. n=7, k=5 gives bucket
    sizes 2,1,2,1,1 vs NTILE's 2,2,1,1,1) — so any oracle written with
    NTILE() would hash-mismatch whenever ``n mod k ∉ {0, k−1}``. This
    computes the true assignment:

        bucket = (rn−1) div (q+1) + 1                    if rn ≤ e·(q+1)
               = e + (rn − e·(q+1) − 1) div q + 1        otherwise

    Pure integer arithmetic on the already-distributed ``rn`` from
    :func:`dist_row_number` — no window, no shuffle, scale-free.
    Degenerate ``n ≤ k`` (q = 0: every row its own bucket) falls out of
    the first branch because then e = n and all rows satisfy rn ≤ e·1.
    """
    q, e = n // k, n % k
    rn = F.col(rn_col)
    # exact BIGINT `div` (not double `/`, which loses precision > 2^53);
    # backtick-quote the column so non-identifier names still bind
    qc = "`" + rn_col.replace("`", "``") + "`"
    head = F.expr(f"(({qc} - 1) div {q + 1}) + 1")
    if q == 0:
        return head.cast("int")
    cut = e * (q + 1)
    tail = F.expr(f"{e} + (({qc} - {cut} - 1) div {q}) + 1")
    return F.when(rn <= cut, head).otherwise(tail).cast("int")
