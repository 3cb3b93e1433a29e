"""Round-8 operators: dedup resolution + corpus-maintenance surfaces.

Themes (all SQL-oracle graded, all scale-shaped):
- dedup RESOLUTION — turning pairwise/component output into the
  decisions a corpus build actually ships (canonical survivor pick,
  threshold calibration sweep, sub-document chunk dedup);
- table MAINTENANCE — incremental materialized-view upkeep proven
  equivalent to recompute, a cross-engine order-independent table
  checksum, and a declarative expectation (data-quality constraint)
  suite;
- ML audit — probability calibration bins for the RF classifier.

Determinism: integer counts everywhere possible; float aggregates via
helpers.dsum / o_dsum fixed-point; thresholds swept over exact dyadic
/ short-decimal literals cast to DOUBLE on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from random_forest_using_hadoop_spark.helpers import local_rows
from random_forest_using_hadoop_spark.helpers import o_dsum
from random_forest_using_hadoop_spark.registry import register
from random_forest_using_hadoop_spark.sources import (
    docs_spread_width,
    load_table,
)

# --- canonical survivor pick per near-dup component ---------------------------

# Component stage mirrors _CC_ORACLE (dedup_lsh.py): brute-force exact
# Jaccard edges + recursive-CTE closure; the survivor rule is then an
# argmax on (n_chars DESC, doc_id ASC) inside each component.
_CANON_ORACLE = """
WITH RECURSIVE sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(length(text) - 4, 1) + 1),
                       i -> text[i : i + 4])) AS shingles
  FROM documents
),
sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
tok AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
inter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS i
  FROM tok a JOIN tok b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT inter.a, inter.b
  FROM inter
  JOIN sz sa ON sa.doc_id = inter.a
  JOIN sz sb ON sb.doc_id = inter.b
  WHERE round(i * 1.0 / (sa.n + sb.n - i), 6) >= 0.6
),
edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
walk(doc_id, root) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, w.root FROM walk w JOIN edges e ON e.a = w.doc_id
),
comp AS (SELECT doc_id, MIN(root) AS component_id FROM walk GROUP BY doc_id),
j AS (
  SELECT c.doc_id, c.component_id, d.n_chars
  FROM comp c JOIN documents d USING (doc_id)
),
surv AS (
  SELECT component_id, doc_id AS canonical_id,
         ROW_NUMBER() OVER (PARTITION BY component_id
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM j
)
SELECT j.doc_id, j.component_id, s.canonical_id,
       j.doc_id = s.canonical_id AS keep
FROM j
JOIN (SELECT component_id, canonical_id FROM surv WHERE rn = 1) s
  USING (component_id)
"""


@register("dedup_canonical_keep", oracle=_CANON_ORACLE)
def q_dedup_canonical_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection — the step that turns near-dup components into
    the keep/drop list a corpus build ships: per component, keep the
    highest-quality member (here: longest document, ties broken by
    smallest doc_id — swap in any scalar quality score unchanged) and
    mark every other member as dropped in favor of `canonical_id`.

    Spark side rides the session-memoized verified-pair stage
    ([[dedup_connected_components]] reuses it too): label propagation
    gives components, then the survivor is an AGGREGATE, not a window —
    max(struct(n_chars, -doc_id)) per component is one partial-agg
    shuffle of |docs| rows and recovers argmax exactly (both fields are
    exact ints), where a row_number window would sort every component's
    members. Oracle: recursive-CTE closure over brute-force edges + the
    same argmax as a window — a hash match proves candidate pruning,
    propagation, AND the survivor rule all agree.

    Scale: reuses CC's per-round bounded joins; the pick itself adds
    one groupBy(component_id) + one broadcast-sized join of component
    survivors back onto members (components are tiny; the join key is
    the component id).
    """
    from random_forest_using_hadoop_spark.operators.dedup_lsh import (
        _component_labels,
    )

    labels = _component_labels(spark, sf_dir)
    j = labels.join(
        load_table(spark, sf_dir, "documents").select("doc_id", "n_chars"),
        "doc_id",
    )
    surv = (
        j.groupBy("component_id")
        .agg(
            F.max(
                F.struct(F.col("n_chars").alias("nc"), (-F.col("doc_id")).alias("nd"))
            ).alias("s")
        )
        .select("component_id", (-F.col("s.nd")).alias("canonical_id"))
    )
    return j.join(surv, "component_id").select(
        "doc_id",
        "component_id",
        "canonical_id",
        (F.col("doc_id") == F.col("canonical_id")).alias("keep"),
    )


# --- dedup threshold calibration sweep ----------------------------------------

_SWEEP_TS = (0.6, 0.7, 0.8, 0.9)

_SWEEP_ORACLE = f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(length(text) - 4, 1) + 1),
                       i -> text[i : i + 4])) AS shingles
  FROM documents
),
sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
tok AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
inter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS i
  FROM tok a JOIN tok b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT inter.a, inter.b, round(i * 1.0 / (sa.n + sb.n - i), 6) AS j
  FROM inter
  JOIN sz sa ON sa.doc_id = inter.a
  JOIN sz sb ON sb.doc_id = inter.b
  WHERE round(i * 1.0 / (sa.n + sb.n - i), 6) >= 0.6
),
t AS (SELECT CAST(unnest([{", ".join(map(str, _SWEEP_TS))}]) AS DOUBLE) AS threshold),
p AS (
  SELECT t.threshold, pairs.a, pairs.b
  FROM t JOIN pairs ON pairs.j >= t.threshold
),
np AS (SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM p GROUP BY 1),
nd AS (
  SELECT threshold, CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs_affected
  FROM (SELECT threshold, a AS doc FROM p
        UNION ALL SELECT threshold, b FROM p)
  GROUP BY 1
)
SELECT np.threshold, np.n_pairs, nd.n_docs_affected
FROM np JOIN nd USING (threshold)
"""


@register("dedup_threshold_sweep", oracle=_SWEEP_ORACLE)
def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold calibration for the near-dup pass: how many pairs and
    how many affected documents each candidate Jaccard cutoff would
    yield — the table a data engineer reads before committing a dedup
    threshold to a 100 TB run. Rides the session-memoized verified pair
    set (`_verified_pairs`), so after [[dedup_minhash]] this is pure
    reuse: a 4-way threshold explode over an already-cached frame of a
    few dozen rows. Sweep floor = the pipeline's own verify threshold
    (0.6); the memoized frame cannot see below it.

    Determinism: thresholds are short-decimal literals cast to DOUBLE
    on both engines (DuckDB's bare 0.6 is DECIMAL — a dtype the
    canonicalizer would repr differently); jaccard is the same
    round(·,6) double both sides compute from identical integer
    intersection/size arithmetic.
    """
    from random_forest_using_hadoop_spark.operators.dedup_lsh import (
        _verified_pairs,
    )

    pairs = _verified_pairs(spark, sf_dir)
    th = F.explode(F.array(*[F.lit(t) for t in _SWEEP_TS])).alias("threshold")
    p = pairs.select("a", "b", "jaccard", th).filter(
        F.col("jaccard") >= F.col("threshold")
    )
    np_ = p.groupBy("threshold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    nd = (
        p.select("threshold", F.explode(F.array("a", "b")).alias("doc"))
        .groupBy("threshold")
        .agg(F.count_distinct("doc").cast("bigint").alias("n_docs_affected"))
    )
    return np_.join(nd, "threshold")


# --- sub-document (chunk-level) exact dedup -----------------------------------

_CHUNK_WORDS = 10

# C4/RefinedWeb-style line-level dedup adapted to this corpus's
# newline-free text: a "line" is a run of 10 consecutive words. A chunk
# is duplicated when its exact content appears in more than one doc.
_CHUNK_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
c AS (
  SELECT doc_id,
         list_distinct(list_transform(
             range(0, greatest(CAST(ceil(len(toks) / {_CHUNK_WORDS}.0) AS INT), 1)),
             k -> array_to_string(toks[k * {_CHUNK_WORDS} + 1 : (k + 1) * {_CHUNK_WORDS}], ' ')
         )) AS chunks
  FROM t
),
tok AS (SELECT doc_id, unnest(chunks) AS chunk FROM c),
df AS (SELECT chunk, COUNT(*) AS n_docs FROM tok GROUP BY chunk)
SELECT tok.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(*) FILTER (df.n_docs > 1) AS BIGINT) AS n_dup_chunks,
       round(COUNT(*) FILTER (df.n_docs > 1) * 1.0 / COUNT(*), 6)
         AS dup_chunk_fraction
FROM tok JOIN df USING (chunk)
GROUP BY tok.doc_id
"""


@register("dedup_chunk_exact", oracle=_CHUNK_ORACLE)
def q_dedup_chunk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup — the line/paragraph-granularity pass of
    C4 and RefinedWeb, where boilerplate repeats INSIDE otherwise
    distinct pages: split each doc into {_CHUNK_WORDS}-word chunks
    (this corpus has no newlines, so fixed word runs stand in for
    lines; the plumbing is delimiter-agnostic), count how many of each
    doc's distinct chunks also appear verbatim in another doc, and
    report the duplicated fraction. The planted shared-prefix families
    surface with high fractions; complements [[dedup_substring]]
    (arbitrary-offset runs) with aligned-unit semantics that let the
    whole pass run as ONE groupBy — no pair join at all.

    Scale: explode to (doc, chunk) — chunk df is a hash groupBy with
    map-side combine; the doc rollup joins each chunk to its df (equi,
    shuffle ∝ chunks). No pairwise anything: cost is linear in corpus
    size, which is why production line-dedup (C4) runs this shape at
    web scale. Per-doc distinct chunks keep the join input minimal.
    """
    d = load_table(spark, sf_dir, "documents").repartition(
        docs_spread_width(sf_dir), "doc_id"
    )
    chunks = F.expr(
        f"array_distinct(transform("
        f" sequence(0, greatest(cast(ceil(size(toks) / {_CHUNK_WORDS}.0) as int), 1) - 1),"
        f" k -> array_join(slice(toks, k * {_CHUNK_WORDS} + 1, {_CHUNK_WORDS}), ' ')))"
    )
    tok = (
        d.select("doc_id", F.split("text", " ").alias("toks"))
        .select("doc_id", F.explode(chunks).alias("chunk"))
    )
    df_tab = tok.groupBy("chunk").agg(F.count(F.lit(1)).alias("n_docs"))
    dup = F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).cast("bigint")
    return (
        tok.join(df_tab, "chunk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            dup.alias("n_dup_chunks"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_dup_chunks",
            F.round(
                F.col("n_dup_chunks") * 1.0 / F.col("n_chunks"), 6
            ).alias("dup_chunk_fraction"),
        )
    )


# --- declarative expectation suite (data-quality gate) ------------------------

_EXPECT_ORACLE = """
SELECT 'c_custkey_unique' AS constraint_name, 'customer' AS table_name,
       CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT) AS n_violations,
       COUNT(*) = COUNT(DISTINCT c_custkey) AS passed
FROM customer
UNION ALL
SELECT 'o_custkey_fk', 'orders',
       CAST(COUNT(*) FILTER (c.c_custkey IS NULL) AS BIGINT),
       COUNT(*) FILTER (c.c_custkey IS NULL) = 0
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
UNION ALL
SELECT 'l_orderkey_fk', 'lineitem',
       CAST(COUNT(*) FILTER (o.o_orderkey IS NULL) AS BIGINT),
       COUNT(*) FILTER (o.o_orderkey IS NULL) = 0
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'o_totalprice_positive', 'orders',
       CAST(COUNT(*) FILTER (o_totalprice <= 0) AS BIGINT),
       COUNT(*) FILTER (o_totalprice <= 0) = 0
FROM orders
UNION ALL
SELECT 'l_quantity_in_1_50', 'lineitem',
       CAST(COUNT(*) FILTER (l_quantity < 1 OR l_quantity > 50) AS BIGINT),
       COUNT(*) FILTER (l_quantity < 1 OR l_quantity > 50) = 0
FROM lineitem
UNION ALL
SELECT 'o_orderstatus_accepted', 'orders',
       CAST(COUNT(*) FILTER (o_orderstatus NOT IN ('O', 'F', 'P')) AS BIGINT),
       COUNT(*) FILTER (o_orderstatus NOT IN ('O', 'F', 'P')) = 0
FROM orders
UNION ALL
SELECT 'doc_text_nonempty', 'documents',
       CAST(COUNT(*) FILTER (text IS NULL OR length(text) = 0) AS BIGINT),
       COUNT(*) FILTER (text IS NULL OR length(text) = 0) = 0
FROM documents
"""


@register("pipe_expectation_suite", oracle=_EXPECT_ORACLE)
def q_pipe_expectation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (the Great-Expectations /
    dbt-test shape): a suite of named constraints — uniqueness,
    referential integrity, range, accepted values, non-emptiness —
    evaluated in one pass each, emitting one row per constraint with
    its violation count and verdict. The table a pipeline run publishes
    next to its output so downstream consumers can gate on it.

    Scale: each uniqueness/range/accepted-values check is a single
    aggregate over one scan (conditional-count form, map-side
    combined); each FK check is one left join on the key it audits —
    customer broadcasts under AQE sizing, orders⋈lineitem shuffles on
    the natural join key. Nothing quadratic, nothing driver-side; the
    suite's result set is one row per constraint regardless of SF.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    docs = load_table(spark, sf_dir, "documents")

    def row(name: str, table: str, viol):
        return (
            F.lit(name).alias("constraint_name"),
            F.lit(table).alias("table_name"),
            viol.cast("bigint").alias("n_violations"),
            (viol == 0).alias("passed"),
        )

    uniq = cust.agg(
        *row(
            "c_custkey_unique",
            "customer",
            F.count(F.lit(1)) - F.count_distinct("c_custkey"),
        )
    )
    fk_o = (
        orders.join(
            cust.select("c_custkey"),
            orders.o_custkey == cust.c_custkey,
            "left",
        ).agg(
            *row(
                "o_custkey_fk",
                "orders",
                F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0)),
            )
        )
    )
    fk_l = (
        li.join(
            orders.select("o_orderkey"),
            li.l_orderkey == orders.o_orderkey,
            "left",
        ).agg(
            *row(
                "l_orderkey_fk",
                "lineitem",
                F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)),
            )
        )
    )
    price = orders.agg(
        *row(
            "o_totalprice_positive",
            "orders",
            F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)),
        )
    )
    qty = li.agg(
        *row(
            "l_quantity_in_1_50",
            "lineitem",
            F.sum(
                F.when(
                    (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1
                ).otherwise(0)
            ),
        )
    )
    status = orders.agg(
        *row(
            "o_orderstatus_accepted",
            "orders",
            F.sum(
                F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
            ),
        )
    )
    nonempty = docs.agg(
        *row(
            "doc_text_nonempty",
            "documents",
            F.sum(
                F.when(
                    F.col("text").isNull() | (F.length("text") == 0), 1
                ).otherwise(0)
            ),
        )
    )
    out = uniq
    for part in (fk_o, fk_l, price, qty, status, nonempty):
        out = out.unionByName(part)
    return out


# --- incremental materialized-view maintenance --------------------------------

_MV_CUTOFF = "2001-01-01 00:00:00"

# Oracle is the FULL recompute — a hash match proves base+delta merge
# reconstructs it exactly (the correctness property incremental view
# maintenance must preserve).
_MV_ORACLE = f"""
SELECT o_custkey AS custkey,
       CAST(COUNT(*) AS BIGINT) AS order_count,
       {o_dsum('o_totalprice')} AS total_spend
FROM orders
GROUP BY o_custkey
"""


@register("sink_mv_delta_maintenance", oracle=_MV_ORACLE)
def q_sink_mv_delta_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a per-customer order
    summary MV is MATERIALIZED from the historical partition (orders
    before {_MV_CUTOFF[:10]}), written to parquet, then brought up to
    date by merging only the late-arriving delta — never rescanning
    history. The oracle recomputes the view from scratch; the value
    hash is the equivalence proof every incremental-maintenance system
    owes its users (count and fixed-point sum are self-maintainable
    aggregates: merge = pointwise +).

    Scale: this is THE pattern for a 100 TB fact table with a daily
    tail — the base MV is |customers| rows, the delta scan touches only
    the new partition (the cutoff predicate pushes to parquet), and the
    merge is a union + re-aggregate on the MV key: one shuffle of
    |customers| + |delta groups| rows. The quantized spend column sums
    exactly under merge (BIGINT micros), so increment ≡ recompute at
    any merge order — the property a raw double MV would NOT have.
    """
    from random_forest_using_hadoop_spark.operators.scans import _tmp

    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit(_MV_CUTOFF).cast("timestamp")
    q = F.floor(F.col("o_totalprice") * 1000000.0 + 0.5).cast("bigint")
    base = (
        orders.filter(F.col("o_orderdate") < cutoff)
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("order_count"),
            F.sum(q).cast("bigint").alias("spend_q"),
        )
    )
    path = _tmp(sf_dir, "mv_cust_orders")
    base.write.mode("overwrite").parquet(path)
    mv = spark.read.parquet(path)
    # The base/delta split must be EXHAUSTIVE: a NULL o_orderdate fails
    # both `< cutoff` and `>= cutoff`, so route nulls into the delta leg
    # or the merged MV silently loses those orders vs the full recompute.
    delta = (
        orders.filter(
            (F.col("o_orderdate") >= cutoff) | F.col("o_orderdate").isNull()
        )
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("order_count"),
            F.sum(q).cast("bigint").alias("spend_q"),
        )
    )
    return (
        mv.unionByName(delta)
        .groupBy("custkey")
        .agg(
            F.sum("order_count").cast("bigint").alias("order_count"),
            F.sum("spend_q").cast("bigint").alias("spend_q"),
        )
        .select(
            "custkey",
            "order_count",
            (F.col("spend_q") / 1000000.0).alias("total_spend"),
        )
    )


# --- order-independent cross-engine table checksum ----------------------------

# Canonical row string uses exact-typed columns only (BIGINT keys,
# integer-valued quantity cast to BIGINT, VARCHAR codes) — dates and
# raw doubles are excluded so the string is trivially engine-portable.
_CKSUM_ORACLE = """
WITH l AS (
  SELECT ('0x' || substr(md5(
           coalesce(CAST(l_orderkey AS VARCHAR), '^^NULL^^') || '|' ||
           coalesce(CAST(l_linenumber AS VARCHAR), '^^NULL^^') || '|' ||
           coalesce(CAST(l_partkey AS VARCHAR), '^^NULL^^') || '|' ||
           coalesce(CAST(l_suppkey AS VARCHAR), '^^NULL^^') || '|' ||
           coalesce(CAST(CAST(floor(l_quantity) AS BIGINT) AS VARCHAR),
                    '^^NULL^^') || '|' ||
           coalesce(l_returnflag, '^^NULL^^') || '|' ||
           coalesce(l_linestatus, '^^NULL^^')), 1, 15))::BIGINT AS h
  FROM lineitem
),
o AS (
  SELECT ('0x' || substr(md5(
           coalesce(CAST(o_orderkey AS VARCHAR), '^^NULL^^') || '|' ||
           coalesce(CAST(o_custkey AS VARCHAR), '^^NULL^^') || '|' ||
           coalesce(o_orderstatus, '^^NULL^^') || '|' ||
           coalesce(o_orderpriority, '^^NULL^^')), 1, 15))::BIGINT AS h
  FROM orders
)
SELECT 'lineitem' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(bit_xor(h) AS BIGINT) AS checksum_xor,
       CAST(SUM(h % 1000003) AS BIGINT) AS checksum_summod
FROM l
UNION ALL
SELECT 'orders', CAST(COUNT(*) AS BIGINT),
       CAST(bit_xor(h) AS BIGINT), CAST(SUM(h % 1000003) AS BIGINT)
FROM o
"""


@register("agg_table_checksum", oracle=_CKSUM_ORACLE)
def q_agg_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table fingerprint — the migration/replication
    audit primitive: fold a canonical per-row string through md5 to a
    60-bit BIGINT, then combine with TWO commutative aggregates (XOR,
    which alone is blind to duplicate-pair insertion, plus a modular
    sum that isn't) and the row count. Two engines — or two clusters,
    or a table before and after a rewrite — agree on all three numbers
    iff the row multisets agree (up to 60-bit collision odds). This is
    exactly how cross-system data validation runs at 100 TB: no sort,
    no collect, one pass.

    Determinism notes: the canonical string uses exact-typed columns
    only (keys, quantity through floor() — identical on both engines,
    unlike a raw BIGINT cast, which truncates in Spark but rounds in
    DuckDB — and flag/mode codes), each field coalesced to an explicit
    '^^NULL^^' sentinel so a NULL hashes deterministically and
    identically on both engines (Spark concat_ws SKIPS null fields
    while DuckDB '||' nulls the whole string — and a skipped field can
    alias a different row's canonical form); '|'-joined so field
    boundaries can't alias. XOR is overflow-free; the mod-1000003 sum
    stays under 2^63 to ~9e12 rows.

    Scale: map-side fold + a single partial-aggregated reduce per
    table; shuffle is one row per partition.
    """
    def fold(cols: list) -> F.Column:
        # coalesce each field to the sentinel BEFORE concat_ws: concat_ws
        # silently drops nulls, which both diverges from the oracle's
        # null-propagating '||' and lets a 6-field row alias a 7-field one.
        safe = [
            "coalesce(cast((" + c + ") as string), '^^NULL^^')" for c in cols
        ]
        return F.expr(
            "cast(conv(substring(md5(" + "concat_ws('|', "
            + ", ".join(safe)
            + ")), 1, 15), 16, 10) as bigint)"
        )

    li = load_table(spark, sf_dir, "lineitem").select(
        fold(
            [
                "l_orderkey",
                "l_linenumber",
                "l_partkey",
                "l_suppkey",
                "cast(floor(l_quantity) as bigint)",
                "l_returnflag",
                "l_linestatus",
            ]
        ).alias("h")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        fold(
            ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
        ).alias("h")
    )

    def summarize(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.expr("bit_xor(h)").cast("bigint").alias("checksum_xor"),
            F.sum(F.col("h") % 1000003).cast("bigint").alias("checksum_summod"),
        )

    return summarize(li, "lineitem").unionByName(summarize(orders, "orders"))


# --- RF probability calibration bins ------------------------------------------

_CALIB_ORACLE = """
SELECT CAST(COUNT(DISTINCT label) AS BIGINT) AS n_classes,
       TRUE AS bins_in_0_9,
       TRUE AS coverage_full,
       TRUE AS acc_in_01,
       TRUE AS conf_in_bin,
       TRUE AS conf_at_least_uniform
FROM embeddings
"""


@register("ml_calibration_bins", oracle=_CALIB_ORACLE)
def q_ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability calibration audit for the RF classifier (reliability-
    diagram bins): bucket held-out predictions by top-class confidence
    (decile bins, clamped to 9), compare per-bin confidence against
    per-bin empirical accuracy — the check that tells you whether the
    forest's probabilities MEAN anything before anyone thresholds them.
    House ml-audit grading style (ml_eval precedent): the oracle
    recomputes the class count from source, and the graded booleans pin
    the invariants — bins in [0,9], bin populations summing to the test
    set (no prediction silently dropped), accuracies in [0,1], each
    bin's mean confidence inside its own bin bounds, and every
    confidence ≥ 1/n_classes (the argmax of a probability vector cannot
    sit below uniform).

    Scale: one vector_to_array projection + one 10-key groupBy over the
    held-out predictions; the calibration table is ≤10 rows.
    """
    from random_forest_using_hadoop_spark.ml.forest import _fitted

    art = _fitted(spark, sf_dir)
    from pyspark.ml.functions import vector_to_array

    pred = art["pred"].select(
        "label",
        "prediction",
        F.array_max(vector_to_array("probability")).alias("conf"),
    )
    binned = (
        pred.select(
            "label",
            "prediction",
            "conf",
            F.least(F.floor(F.col("conf") * 10), F.lit(9)).cast("int").alias("bin"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("label") == F.col("prediction"), 1).otherwise(0)
            ).alias("n_correct"),
            F.min("conf").alias("conf_lo"),
            F.max("conf").alias("conf_hi"),
        )
        .collect()
    )
    n_test = art["n_total"] - art["n_train"]
    n_classes = art["model"].numClasses
    bins_ok = all(0 <= r["bin"] <= 9 for r in binned)
    coverage = sum(r["n"] for r in binned) == n_test
    acc_ok = all(0 <= r["n_correct"] <= r["n"] for r in binned)
    # Tolerance on BOTH bounds: F.floor(conf*10) can round a product up
    # across an integer boundary, putting conf infinitesimally below
    # bin/10 — mirror the upper bound's epsilon on the lower bound.
    conf_in_bin = all(
        r["bin"] / 10.0 - 1e-12 <= r["conf_lo"]
        and r["conf_hi"] <= (r["bin"] + 1) / 10.0 + 1e-12
        for r in binned
    )
    conf_uniform = all(r["conf_lo"] >= 1.0 / n_classes - 1e-12 for r in binned)
    return local_rows(spark, 
        [
            (
                n_classes,
                bool(bins_ok),
                bool(coverage),
                bool(acc_ok),
                bool(conf_in_bin),
                bool(conf_uniform),
            )
        ],
        "n_classes long, bins_in_0_9 boolean, coverage_full boolean,"
        " acc_in_01 boolean, conf_in_bin boolean,"
        " conf_at_least_uniform boolean",
    )


# --- pre-join hot-key skew diagnostics ----------------------------------------

_SKEW_ORACLE = """
WITH stats AS (
  SELECT 'lineitem.l_orderkey' AS join_key, l_orderkey AS k, COUNT(*) AS c
  FROM lineitem GROUP BY 2
  UNION ALL
  SELECT 'orders.o_custkey', o_custkey, COUNT(*) FROM orders GROUP BY 2
),
hist AS (
  SELECT join_key, c, COUNT(*) AS nk FROM stats GROUP BY 1, 2
),
tot AS (
  SELECT join_key, CAST(SUM(nk) AS BIGINT) AS n_keys,
         CAST(SUM(c * nk) AS BIGINT) AS n_rows,
         CAST(MAX(c) AS BIGINT) AS max_rows
  FROM hist GROUP BY 1
),
cum AS (
  SELECT join_key, c,
         SUM(nk) OVER (PARTITION BY join_key ORDER BY c) AS cum_nk
  FROM hist
),
p99 AS (
  SELECT cum.join_key, CAST(MIN(cum.c) AS BIGINT) AS p99_rows
  FROM cum JOIN tot ON tot.join_key = cum.join_key
  WHERE cum.cum_nk * 100 >= tot.n_keys * 99
  GROUP BY 1
)
SELECT tot.join_key, tot.n_keys, tot.n_rows, tot.max_rows, p99.p99_rows,
       round(CAST(tot.n_rows AS DOUBLE) / tot.n_keys, 6) AS mean_rows,
       round(CAST(tot.max_rows AS DOUBLE) * tot.n_keys / tot.n_rows, 6)
         AS skew_ratio,
       tot.max_rows * tot.n_keys > 10 * tot.n_rows AS salting_recommended
FROM tot JOIN p99 USING (join_key)
"""


@register("agg_join_skew_diagnostics", oracle=_SKEW_ORACLE)
def q_agg_join_skew_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join hot-key skew report — the diagnosis that decides whether
    a join needs [[join_skew_salted]] treatment BEFORE burning a
    cluster-hour discovering it: per candidate join key, the key count,
    row count, max and exact-p99 rows-per-key, mean, the max/mean skew
    ratio, and an exact-integer salting verdict (max > 10× mean tested
    as max·n_keys > 10·n_rows — no float in the decision).

    Scale: one hash groupBy per audited key (map-side combined), then
    everything runs on the rows-per-key HISTOGRAM (distinct count
    values — hundreds, not |keys|): the exact p99 is a cumulative sum
    over that bounded frame, never a global sort of the key counts.
    This is the same reduce-to-histogram doctrine as
    agg_percentile_histogram / agg_interorder_gaps.
    """
    from pyspark.sql import Window

    def per_key(df: DataFrame, key: str, label: str) -> DataFrame:
        return (
            df.groupBy(F.col(key).alias("k"))
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("c")
            .agg(F.count(F.lit(1)).alias("nk"))
            .select(F.lit(label).alias("join_key"), "c", "nk")
        )

    hist = per_key(
        load_table(spark, sf_dir, "lineitem"), "l_orderkey", "lineitem.l_orderkey"
    ).unionByName(
        per_key(load_table(spark, sf_dir, "orders"), "o_custkey", "orders.o_custkey")
    )
    tot = hist.groupBy("join_key").agg(
        F.sum("nk").cast("bigint").alias("n_keys"),
        F.sum(F.col("c") * F.col("nk")).cast("bigint").alias("n_rows"),
        F.max("c").cast("bigint").alias("max_rows"),
    )
    # the cumulative window runs on the bounded histogram (distinct
    # count values per key), partitioned by join_key — metadata-sized
    w = Window.partitionBy("join_key").orderBy("c")
    cum = hist.select("join_key", "c", F.sum("nk").over(w).alias("cum_nk"))
    p99 = (
        cum.join(tot.select("join_key", "n_keys"), "join_key")
        .filter(F.col("cum_nk") * 100 >= F.col("n_keys") * 99)
        .groupBy("join_key")
        .agg(F.min("c").cast("bigint").alias("p99_rows"))
    )
    return tot.join(p99, "join_key").select(
        "join_key",
        "n_keys",
        "n_rows",
        "max_rows",
        "p99_rows",
        F.round(F.col("n_rows").cast("double") / F.col("n_keys"), 6).alias(
            "mean_rows"
        ),
        F.round(
            F.col("max_rows").cast("double") * F.col("n_keys") / F.col("n_rows"), 6
        ).alias("skew_ratio"),
        (F.col("max_rows") * F.col("n_keys") > 10 * F.col("n_rows")).alias(
            "salting_recommended"
        ),
    )


# --- staged dedup funnel (exact -> near-dup canonical) -------------------------

_FUNNEL_ORACLE = """
WITH RECURSIVE grp AS (
  SELECT doc_id, n_chars, md5(text) AS h FROM documents
),
exact_surv AS (
  SELECT MIN(doc_id) AS doc_id FROM grp GROUP BY h
),
ex AS (
  SELECT g.doc_id, g.n_chars, s.doc_id IS NOT NULL AS kept
  FROM grp g LEFT JOIN exact_surv s ON s.doc_id = g.doc_id
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(length(text) - 4, 1) + 1),
                       i -> text[i : i + 4])) AS shingles
  FROM documents
),
sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
tok AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
inter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS i
  FROM tok a JOIN tok b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT inter.a, inter.b
  FROM inter
  JOIN sz sa ON sa.doc_id = inter.a
  JOIN sz sb ON sb.doc_id = inter.b
  WHERE round(i * 1.0 / (sa.n + sb.n - i), 6) >= 0.6
),
edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
walk(doc_id, root) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, w.root FROM walk w JOIN edges e ON e.a = w.doc_id
),
comp AS (SELECT doc_id, MIN(root) AS component_id FROM walk GROUP BY doc_id),
j AS (
  SELECT c.doc_id, c.component_id, d.n_chars
  FROM comp c JOIN documents d USING (doc_id)
),
surv AS (
  SELECT component_id, doc_id AS canonical_id,
         ROW_NUMBER() OVER (PARTITION BY component_id
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM j
),
canon AS (
  SELECT j.doc_id, j.doc_id = s.canonical_id AS keep
  FROM j JOIN (SELECT component_id, canonical_id FROM surv WHERE rn = 1) s
    USING (component_id)
)
SELECT 'exact' AS stage,
       CAST(COUNT(*) AS BIGINT) AS docs_in,
       CAST(COUNT(*) FILTER (ex.kept) AS BIGINT) AS docs_kept,
       CAST(COUNT(*) FILTER (NOT ex.kept) AS BIGINT) AS docs_dropped,
       CAST(COALESCE(SUM(ex.n_chars) FILTER (NOT ex.kept), 0) AS BIGINT)
         AS chars_dropped
FROM ex
UNION ALL
SELECT 'near_dup',
       CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) FILTER (canon.keep) AS BIGINT),
       CAST(COUNT(*) FILTER (NOT canon.keep) AS BIGINT),
       CAST(COALESCE(SUM(ex.n_chars) FILTER (NOT canon.keep), 0) AS BIGINT)
FROM ex JOIN canon USING (doc_id)
WHERE ex.kept
"""


@register("pipe_dedup_stage_funnel", oracle=_FUNNEL_ORACLE)
def q_pipe_dedup_stage_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup FUNNEL a corpus build publishes: stage-by-stage
    accounting of what exact dedup and near-dup canonical selection
    each removed — docs in/kept/dropped and characters reclaimed. Stage
    composition is well-defined because the canonical survivor of any
    component is itself an exact-dedup survivor (exact copies share
    n_chars, so the (max n_chars, min doc_id) argmax lands on the
    smallest doc_id of its identical-text group — the exact stage's
    keep rule).

    Spark side composes the already-registered stages: md5 groups for
    the exact pass, [[dedup_canonical_keep]] (which rides the
    session-memoized verified-pair stage) for the near-dup pass; this
    key adds two aggregates and one join on doc_id. The oracle chains
    the same logic through the recursive-CTE closure, so the hash match
    proves the two stages COMPOSE correctly — not just that each works
    alone.

    Scale: exact pass is one hash groupBy on the content digest;
    near-dup accounting joins two |docs|-row frames on doc_id. Nothing
    here outlives the dedup passes it audits.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", F.md5("text").alias("h")
    )
    surv = docs.groupBy("h").agg(F.min("doc_id").alias("sdoc"))
    ex = docs.join(
        surv.select(F.col("sdoc").alias("doc_id")).withColumn(
            "kept", F.lit(True)
        ),
        "doc_id",
        "left",
    ).select(
        "doc_id", "n_chars", F.coalesce("kept", F.lit(False)).alias("kept")
    )
    # coalesce(·, 0) on the conditional sums: a global agg over an
    # EMPTY corpus yields one row with NULL sums while the oracle's
    # COUNT(*) FILTER yields 0 — an empty input partition must report
    # zeros, not NULLs (empty-table fuzz probe)
    stage1 = ex.agg(
        F.lit("exact").alias("stage"),
        F.count(F.lit(1)).cast("bigint").alias("docs_in"),
        F.coalesce(F.sum(F.when(F.col("kept"), 1).otherwise(0)), F.lit(0))
        .cast("bigint")
        .alias("docs_kept"),
        F.coalesce(F.sum(F.when(~F.col("kept"), 1).otherwise(0)), F.lit(0))
        .cast("bigint")
        .alias("docs_dropped"),
        F.coalesce(
            F.sum(F.when(~F.col("kept"), F.col("n_chars"))), F.lit(0)
        )
        .cast("bigint")
        .alias("chars_dropped"),
    )
    canon = q_dedup_canonical_keep(spark, sf_dir).select("doc_id", "keep")
    stage2 = (
        ex.filter(F.col("kept"))
        .join(canon, "doc_id")
        .agg(
            F.lit("near_dup").alias("stage"),
            F.count(F.lit(1)).cast("bigint").alias("docs_in"),
            F.coalesce(
                F.sum(F.when(F.col("keep"), 1).otherwise(0)), F.lit(0)
            )
            .cast("bigint")
            .alias("docs_kept"),
            F.coalesce(
                F.sum(F.when(~F.col("keep"), 1).otherwise(0)), F.lit(0)
            )
            .cast("bigint")
            .alias("docs_dropped"),
            F.coalesce(
                F.sum(F.when(~F.col("keep"), F.col("n_chars"))), F.lit(0)
            )
            .cast("bigint")
            .alias("chars_dropped"),
        )
    )
    return stage1.unionByName(stage2)


# --- data freshness SLA report --------------------------------------------------

_FRESH_SLA_DAYS = 1

_FRESH_ORACLE = f"""
WITH g AS (SELECT MAX(ts) AS gmax FROM events),
per AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
         MAX(ts) AS last_ts
  FROM events GROUP BY event_type
)
SELECT per.event_type, per.n_events, per.last_ts,
       CAST(date_diff('day', CAST(per.last_ts AS DATE),
                      CAST(g.gmax AS DATE)) AS BIGINT) AS lag_days,
       date_diff('day', CAST(per.last_ts AS DATE), CAST(g.gmax AS DATE))
         <= {_FRESH_SLA_DAYS} AS fresh
FROM per, g
"""


@register("agg_data_freshness_sla", oracle=_FRESH_ORACLE)
def q_agg_data_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream freshness SLA report — the ops table a 100 TB ingest
    publishes so consumers can gate on staleness: per event type, the
    event count, the most recent event timestamp, its calendar-day lag
    behind the freshest event anywhere in the table, and the SLA
    verdict (lag ≤ {_FRESH_SLA_DAYS} day). Day-granularity lag is the
    cross-engine-portable choice (datediff/date_diff on DATE both count
    calendar boundaries; sub-day units disagree between engines on
    boundary-crossing vs full-unit semantics).

    Scale: one groupBy(event_type) with map-side combine + a broadcast
    one-row global max — two aggregates over a single scan, no window,
    no sort. The raw µs-timestamp column rides through the grading
    canonicalizer as a native timestamp on both engines
    (scan_events_nanos precedent).
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    g = ev.agg(F.max("ts").alias("gmax"))
    per = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max("ts").alias("last_ts"),
    )
    lag = F.datediff(F.to_date("gmax"), F.to_date("last_ts")).cast("bigint")
    return per.crossJoin(F.broadcast(g)).select(
        "event_type",
        "n_events",
        "last_ts",
        lag.alias("lag_days"),
        (lag <= _FRESH_SLA_DAYS).alias("fresh"),
    )
