"""Scan / source / sink operators — SURVEY.md §2 B1–B5.

Reference analog [recon]: the reference's only source is an HDFS text
scan with a user-declared descriptor; here sources are schema-carrying
parquet/CSV/JSON reads where Catalyst pushes pruning and predicates into
the scan, and sinks are partitioned parquet writes.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from random_forest_using_hadoop_spark import delta_log
from random_forest_using_hadoop_spark.delta_log import (
    _delta_commit,
    _delta_live_files,
    _delta_max_version,
)
from random_forest_using_hadoop_spark.helpers import local_rows
from random_forest_using_hadoop_spark.helpers import dsum, o_dsum
from random_forest_using_hadoop_spark.registry import register
from random_forest_using_hadoop_spark.sources import load_table

_TMP_ROOT = "/tmp/rf_engine_io"


def _tmp(sf_dir: str, tag: str) -> str:
    sf_tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return os.path.join(_TMP_ROOT, f"{tag}_{sf_tag}")


def _norm_file_uri(col):
    """`input_file_name()` → the raw staged filesystem path: strip the
    file: scheme and decode ONLY %XX escapes. Plain `url_decode` is
    form-decoding (application/x-www-form-urlencoded) and would also
    turn a literal '+' into a space — but Hadoop's path URIs never
    encode '+', so a data file named `a+b.parquet` would stop matching
    the planner's raw path and its rows would be silently dropped
    (inner joins) or its deletes left unapplied (anti-joins). Escaping
    '+' to %2B first makes url_decode a pure percent-decoder, the exact
    inverse of the URI encoding input_file_name applies."""
    c = F.regexp_replace(col, "^file:(//)?", "")
    return F.url_decode(F.regexp_replace(c, r"\+", "%2B"))


# --- B1: full parquet scan ---------------------------------------------------


@register("scan_parquet", oracle="SELECT * FROM nation")
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1: whole-table columnar scan (dimension table; full row fidelity)."""
    return load_table(spark, sf_dir, "nation")


# --- B2: pruned + pushed-down scan ------------------------------------------

_B2_ORACLE = """
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
WHERE l_quantity < 5 AND l_returnflag = 'A'
"""


@register("scan_prune_pushdown", oracle=_B2_ORACLE)
def q_scan_prune_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2: 3-of-11-column projection + predicates.

    Scale: both filters reach the parquet reader (PushedFilters) and the
    scan's ReadSchema carries 5 columns, so row groups failing the
    min-max stats are skipped — at 100 TB this is the difference between
    reading the table and reading a slice.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") < 5) & (F.col("l_returnflag") == "A")
    ).select("l_orderkey", "l_linenumber", "l_extendedprice")


# --- B3: nanos-timestamp ingestion ------------------------------------------

_B3_ORACLE = """
SELECT event_id, ts, event_type
FROM events
WHERE event_type = 'purchase'
  AND ts BETWEEN TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-10 00:00:00'
"""


@register("scan_events_nanos", oracle=_B3_ORACLE)
def q_scan_events_nanos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3: the TIMESTAMP(NANOS) hazard (SURVEY.md §1.2).

    Spark 4 refuses nanos parquet; the loader reads them as int64 via
    ``nanosAsLong`` and rebuilds µs-precision timestamp_ntz with integer
    division — exactly DuckDB's internal nanos→µs truncation.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(
        (F.col("event_type") == "purchase")
        & F.col("ts").between(
            F.lit("2024-01-05 00:00:00").cast("timestamp_ntz"),
            F.lit("2024-01-10 00:00:00").cast("timestamp_ntz"),
        )
    ).select("event_id", "ts", "event_type")


# --- B4: CSV/JSON ingestion with explicit schema ----------------------------

_B4_ORACLE = """
SELECT l_returnflag AS key, COUNT(*) AS n, 'csv' AS src FROM lineitem GROUP BY l_returnflag
UNION ALL
SELECT lang AS key, COUNT(*) AS n, 'json' AS src FROM documents GROUP BY lang
"""


@register("src_csv_json", oracle=_B4_ORACLE)
def q_src_csv_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4: text-format ingestion (the reference's native source format
    [recon]) — write CSV/JSON copies, read back with explicit schemas
    (no inference job at scale), and aggregate to prove fidelity.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")

    csv_path, json_path = _tmp(sf_dir, "csv"), _tmp(sf_dir, "json")
    li.write.mode("overwrite").option("header", True).csv(csv_path)
    docs.write.mode("overwrite").json(json_path)

    csv_schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_returnflag", T.StringType()),
        ]
    )
    json_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    csv_back = spark.read.schema(csv_schema).option("header", True).csv(csv_path)
    json_back = spark.read.schema(json_schema).json(json_path)

    a = (
        csv_back.groupBy(F.col("l_returnflag").alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("src", F.lit("csv"))
    )
    b = (
        json_back.groupBy(F.col("lang").alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("src", F.lit("json"))
    )
    return a.unionByName(b)


# --- B5: partitioned parquet sink + read-back -------------------------------

_B5_ORACLE = f"""
SELECT l_returnflag, COUNT(*) AS n, {o_dsum('l_quantity')} AS sum_qty
FROM lineitem GROUP BY l_returnflag
"""


@register("sink_parquet_part", oracle=_B5_ORACLE)
def q_sink_parquet_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5: hive-style partitioned write, then scan the partitioned layout.

    Scale: partitionBy(l_returnflag) gives downstream readers partition
    pruning on the flag; the read-back aggregation prunes nothing here
    (all flags) but proves layout fidelity.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    path = _tmp(sf_dir, "parquet_part")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"), dsum("l_quantity").alias("sum_qty")
    )


# --- range-clustered parquet sink + pruned read-back -------------------------

_RANGE_ORACLE = f"""
SELECT COUNT(*) AS n,
       {o_dsum('l_extendedprice')} AS revenue,
       MIN(l_shipdate) AS first_ship,
       MAX(l_shipdate) AS last_ship
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
"""


@register("sink_range_cluster", oracle=_RANGE_ORACLE)
def q_sink_range_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-layout rewrite: range-partition + sort the fact table by ship
    date, then answer a date-slice query from the clustered copy.

    Scale: repartitionByRange samples the key to build balanced ranges,
    so each output file covers a disjoint, sorted date slice; a
    date-band predicate then prunes whole files by footer min/max and
    whole row groups by page stats — on a 100 TB fact table the slice
    query reads only the files overlapping the band. This is the
    cluster-by/z-order-lite layout step every large table wants after
    ingest. The read-back filter is pushed (PushedFilters, gated in
    test_plans).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_shipdate", "l_extendedprice"
    )
    path = _tmp(sf_dir, "range_cluster")
    (
        li.repartitionByRange(8, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    lo = F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    hi = F.lit("1997-07-01 00:00:00").cast("timestamp_ntz")
    return back.filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    ).agg(
        F.count(F.lit(1)).alias("n"),
        dsum("l_extendedprice").alias("revenue"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


# --- ORC + raw-text ingestion -------------------------------------------------

_ORC_TEXT_ORACLE = """
SELECT o_orderpriority AS key, COUNT(*) AS n, 'orc' AS src
FROM orders GROUP BY o_orderpriority
UNION ALL
SELECT 'lines' AS key, COUNT(*) AS n, 'text' AS src FROM documents
UNION ALL
SELECT 'chars' AS key, CAST(SUM(len(text)) AS BIGINT) AS n, 'text' AS src
FROM documents
"""


@register("src_orc_text", oracle=_ORC_TEXT_ORACLE)
def q_src_orc_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remaining built-in source formats: columnar ORC (write → read →
    aggregate; Spark-native, same pushdown/pruning machinery as parquet)
    and raw line-text (``spark.read.text`` — the reference's actual
    native input [recon]: newline-delimited records), proven faithful by
    line and character counts against the parquet-sourced truth.

    Scale: ORC shares parquet's scan economics (footer stats, column
    pruning). Line-text has none of it — no pushdown, no pruning, full
    decode of every byte; the docstring-level advice IS the operator:
    land text once, rewrite columnar, never re-scan text.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    docs = load_table(spark, sf_dir, "documents").select("text")

    orc_path, txt_path = _tmp(sf_dir, "orc"), _tmp(sf_dir, "text")
    o.write.mode("overwrite").orc(orc_path)
    docs.write.mode("overwrite").text(txt_path)

    orc_back = spark.read.orc(orc_path)
    txt_back = spark.read.text(txt_path)  # one row per line, column 'value'

    a = (
        orc_back.groupBy(F.col("o_orderpriority").alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("src", F.lit("orc"))
    )
    b = txt_back.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("lines").alias("key"), "n", F.lit("text").alias("src")
    )
    c = txt_back.agg(
        F.sum(F.length("value")).cast("bigint").alias("n")
    ).select(F.lit("chars").alias("key"), "n", F.lit("text").alias("src"))
    return a.unionByName(b).unionByName(c)


# --- small-file compaction ---------------------------------------------------

_COMPACT_ORACLE = """
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       COUNT(DISTINCT doc_id) AS n_ids
FROM documents
GROUP BY lang
"""


@register("sink_compact", oracle=_COMPACT_ORACLE)
def q_sink_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: simulate a fragmented landing zone (64
    shard files), rewrite it into few large files, and prove the content
    survived byte-for-byte via per-lang stats against the source table.

    Scale: streaming ingests and hourly partitions leave 100 TB tables
    as millions of KB-sized files — scan throughput dies on open() and
    footer reads, and the NameNode/catalog bloats. Compaction is a
    keyless repartition(target) — a round-robin shuffle sized so each
    output file approaches the 128 MB..1 GB sweet spot. coalesce() would
    avoid the shuffle but chains upstream parallelism into the narrow
    stage; for a layout rewrite the shuffle IS the point.
    """
    d = load_table(spark, sf_dir, "documents")
    frag = _tmp(sf_dir, "compact_frag")
    d.repartition(64).write.mode("overwrite").parquet(frag)
    compacted = _tmp(sf_dir, "compact_out")
    spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(
        compacted
    )
    back = spark.read.parquet(compacted)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.countDistinct("doc_id").alias("n_ids"),
    )


# --- CDC upsert (merge) sink -------------------------------------------------

_UPSERT_ORACLE = f"""
WITH snap AS (
  SELECT * FROM orders WHERE o_orderkey % 10 <> 0
),
upd AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice + 1e2 AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 7 = 0
),
merged AS (
  SELECT * FROM upd
  UNION ALL
  SELECT s.* FROM snap s ANTI JOIN upd u ON s.o_orderkey = u.o_orderkey
)
SELECT o_orderstatus,
       COUNT(*) AS n_rows,
       {o_dsum('o_totalprice')} AS sum_price
FROM merged
GROUP BY o_orderstatus
"""


@register("sink_upsert", oracle=_UPSERT_ORACLE)
def q_sink_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC upsert (MERGE) into a parquet snapshot: an update batch wins
    on key collision, unmatched snapshot rows survive, new keys insert —
    then the merged table is rewritten and audited per status.

    The snapshot is orders minus every 10th key; the batch repriced
    copies of every 7th key (some colliding, some net-new), so all three
    MERGE outcomes occur. Implementation is the lake-table primitive:
    batch ∪ (snapshot ANTI-JOIN batch) — copy-on-write over plain
    parquet, which is exactly what Delta/Iceberg/Hudi optimize into
    metadata. Scale: the anti-join keys on the merge key, so with both
    sides partitioned by it the rewrite touches only colliding
    partitions; the batch side is typically small → broadcast anti-join,
    no snapshot shuffle at all.
    """
    o = load_table(spark, sf_dir, "orders")
    cols = o.columns
    snap = o.filter(F.col("o_orderkey") % 10 != 0)
    upd = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(100.0))
        .select(cols)
    )
    merged = upd.unionByName(
        snap.join(F.broadcast(upd.select("o_orderkey")), "o_orderkey", "left_anti")
        .select(cols)
    )
    path = _tmp(sf_dir, "upsert")
    merged.write.mode("overwrite").parquet(path)
    return (
        spark.read.parquet(path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("o_totalprice").alias("sum_price"),
        )
    )


# --- schema evolution: mergeSchema across file generations -------------------

_EVOLVE_ORACLE = f"""
WITH merged AS (
  SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey, CAST(NULL AS DOUBLE), o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 1
)
SELECT COUNT(*) AS n_rows,
       COUNT(o_totalprice) AS n_with_price,
       COUNT(o_orderpriority) AS n_with_prio,
       {o_dsum('o_totalprice')} AS sum_price
FROM merged
"""


@register("scan_schema_evolution", oracle=_EVOLVE_ORACLE)
def q_scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution: two parquet generations with different columns
    (v1 carries price, v2 added priority and dropped price) read as ONE
    table via mergeSchema, audited by null-aware counts.

    Scale: mergeSchema reconciles footers at planning time — missing
    columns read as null without rewriting old files, which is how a
    100 TB table survives a column add. The merge step reads only
    footers (one RPC per file), so compacted generations (few large
    files) keep planning cheap; this is also why mergeSchema defaults
    OFF — enable it per-read, not globally.
    """
    o = load_table(spark, sf_dir, "orders")
    root = _tmp(sf_dir, "evolve")
    o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    ).write.mode("overwrite").parquet(f"{root}/gen=1")
    o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderpriority"
    ).write.mode("overwrite").parquet(f"{root}/gen=2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{root}/gen=1", f"{root}/gen=2"
    )
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_totalprice").alias("n_with_price"),
        F.count("o_orderpriority").alias("n_with_prio"),
        dsum("o_totalprice").alias("sum_price"),
    )


# --- binary-file ingestion (the multimodal raw-bytes path) --------------------

_BINFILE_ORACLE = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents
WHERE doc_id < 5
"""


@register("src_binaryfile", oracle=_BINFILE_ORACLE)
def q_src_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw binary-file ingestion via Spark's `binaryFile` source — the
    path image/audio/video bytes take into a multimodal table before
    [[multimodal_struct]] packs them alongside text and embeddings.
    Five deterministic blobs (the UTF-8 bytes of the 5 lowest-doc_id
    documents) are staged as .bin files, read back as (path, length,
    content) rows, and verified by length + md5 against the source —
    proving the bytes survive the scan untouched.

    Scale: binaryFile is a real FileFormat — distributed listing,
    per-file tasks, pushdown on path/length metadata — so a billion
    media blobs scan exactly like parquet does; one row per file keeps
    each blob a single task-local value (no row-splitting of content).
    The 5-row driver-side stage is test plumbing only: production bytes
    already live in object storage. md5 runs JVM-side on BINARY in
    Spark and on the identical byte string in DuckDB.
    """
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 5)
        .select("doc_id", "text")
        .collect()  # 5 bounded rows of stage plumbing, not operator data
    )
    path = _tmp(sf_dir, "binfiles")
    # truncate like Spark's mode("overwrite") staging writes elsewhere in
    # this module — a stale .bin from a prior corpus would otherwise
    # survive into the glob and break the row-count match
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    for r in docs:
        with open(os.path.join(path, f"doc_{r.doc_id}.bin"), "wb") as f:
            f.write(r.text.encode("utf-8"))
    back = spark.read.format("binaryFile").load(os.path.join(path, "*.bin"))
    return back.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("length").cast("bigint").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


# --- dynamic partition pruning over a month-partitioned layout ---------------

_DPP_ORACLE = f"""
SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
       CAST(COUNT(*) AS BIGINT) AS n,
       {o_dsum('l_extendedprice')} AS revenue
FROM lineitem
WHERE strftime(l_shipdate, '%Y-%m') IN (
    SELECT DISTINCT strftime(o_orderdate, '%Y-%m')
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
)
GROUP BY strftime(l_shipdate, '%Y-%m')
"""


@register("scan_dpp_prune", oracle=_DPP_ORACLE)
def q_scan_dpp_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: stage the fact table partitioned by
    ship month (~84 partitions), then answer a join whose partition
    filter is only known at RUNTIME — the months that had urgent 1997
    orders. Catalyst turns the broadcast dim into a
    dynamicpruningexpression on the scan, so only the ~12 qualifying
    month directories are read (gated in tests/test_plans.py).

    Scale: on a 100 TB month-partitioned fact table this is the
    difference between reading ~12/84 partitions and a full scan —
    static predicate pushdown cannot do it because the month set comes
    from another table. The staged write is itself the recommended
    layout for time-series facts (low-cardinality date-derived
    partition key, files sized by the writer, no small-file explosion
    from over-partitioning).
    """
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "ship_month", F.date_format("l_shipdate", "yyyy-MM")
    )
    path = _tmp(sf_dir, "dpp_month")
    li.write.mode("overwrite").partitionBy("ship_month").parquet(path)
    fact = spark.read.parquet(path)
    months = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
        .select(F.date_format("o_orderdate", "yyyy-MM").alias("ship_month"))
        .distinct()
    )
    return (
        fact.join(F.broadcast(months), "ship_month")
        .groupBy("ship_month")
        .agg(F.count(F.lit(1)).alias("n"), dsum("l_extendedprice").alias("revenue"))
    )


# --- corrupt-record-tolerant CSV ingestion -----------------------------------

_N_BAD = 7  # malformed lines injected into the staged CSV

_CORRUPT_ORACLE = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_good,
       CAST({_N_BAD} AS BIGINT) AS n_corrupt,
       CAST(COUNT(*) + {_N_BAD} AS BIGINT) AS n_total,
       CAST(SUM(CAST(floor(c_acctbal * 1000000.0 + 0.5) AS BIGINT))
            AS BIGINT) / 1000000.0 AS sum_acctbal
FROM customer
"""


@register("scan_corrupt_records", oracle=_CORRUPT_ORACLE)
def q_scan_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input tolerance: stage the customer table as CSV with
    deliberately broken lines mixed in (truncated fields, non-numeric
    keys), read it back in PERMISSIVE mode with a _corrupt_record
    column, and account for every line — good rows aggregate, bad rows
    are counted, nothing is silently dropped.

    Scale: PERMISSIVE + corrupt-record capture is the only ingestion
    mode that lets a 100 TB raw feed keep flowing while quarantining
    garbage for replay (FAILFAST halts the world; DROPMALFORMED loses
    data silently — the audit row this query emits is exactly what
    DROPMALFORMED cannot produce). Schema is declared, so the reader
    never pays the inference pass.
    """
    import os

    c = load_table(spark, sf_dir, "customer")
    path = _tmp(sf_dir, "corrupt_csv")
    c.select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    ).coalesce(1).write.mode("overwrite").option("header", False).csv(path)
    part = next(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".csv")
    )
    with open(part, "a", encoding="utf-8") as fh:
        for i in range(_N_BAD):
            # non-numeric key + missing columns → unparseable under the
            # declared schema
            fh.write(f"not_a_key_{i},broken\n")
    for f in os.listdir(path):
        # drop Hadoop's local-FS checksum sidecars — the append above
        # invalidates them and ChecksumFileSystem would fail the read
        if f.endswith(".crc"):
            os.remove(os.path.join(path, f))
    schema = (
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string, _corrupt_record string"
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    back = back.cache()  # one read: Spark requires caching to filter on
    # the corrupt-record column (SPARK-21610: the raw record is not
    # otherwise available after pushdown)
    try:
        good = back.filter(F.col("_corrupt_record").isNull())
        bad = back.filter(F.col("_corrupt_record").isNotNull())
        fx = F.floor(F.col("c_acctbal") * 1000000.0 + 0.5).cast("bigint")
        audit = (
            good.agg(
                F.count(F.lit(1)).alias("n_good"),
                (F.sum(fx) / 1000000.0).alias("sum_acctbal"),
            )
            .crossJoin(bad.agg(F.count(F.lit(1)).alias("n_corrupt")))
            .select(
                "n_good",
                "n_corrupt",
                (F.col("n_good") + F.col("n_corrupt")).alias("n_total"),
                "sum_acctbal",
            )
        )
        # materialize the one audit row NOW so the cache can be released
        # before returning — a long grading/test session otherwise leaks
        # one cached CSV copy per invocation
        rows, schema = audit.collect(), audit.schema
    finally:
        back.unpersist()
    return local_rows(spark, rows, schema)


# --- nested-JSON ingestion ----------------------------------------------------

_NESTED_ORACLE = """
WITH lines AS (
  SELECT o_custkey, o_orderkey, o_totalprice, o_orderpriority
  FROM orders
)
SELECT o_custkey AS custkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_urgent,
       CAST(SUM(CAST(floor(o_totalprice * 1000000.0 + 0.5) AS BIGINT))
            AS BIGINT) / 1000000.0 AS total_spend
FROM lines GROUP BY o_custkey
"""


@register("src_json_nested", oracle=_NESTED_ORACLE)
def q_src_json_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-JSON ingestion: stage each customer's orders as ONE JSON
    document (struct customer + array of order structs — the shape
    every API export and event envelope arrives in), read back with an
    explicit nested schema, explode the array, and flatten to the
    relational rollup the oracle recomputes from the original table.

    Scale: the declared schema skips inference (a full extra pass at
    100 TB); explode is a flatMap with no shuffle; array elements
    carry no per-row key duplication until flattening, which is why
    envelope-per-entity beats line-per-event for cold storage. The
    collect_list staging shuffle is the write side only.
    """
    o = load_table(spark, sf_dir, "orders")
    nested = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.collect_list(
            F.struct("o_orderkey", "o_totalprice", "o_orderpriority")
        ).alias("orders")
    )
    path = _tmp(sf_dir, "json_nested")
    nested.write.mode("overwrite").json(path)

    schema = T.StructType(
        [
            T.StructField("custkey", T.LongType()),
            T.StructField(
                "orders",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("o_orderkey", T.LongType()),
                            T.StructField("o_totalprice", T.DoubleType()),
                            T.StructField("o_orderpriority", T.StringType()),
                        ]
                    )
                ),
            ),
        ]
    )
    back = spark.read.schema(schema).json(path)
    flat = back.select(
        "custkey", F.explode("orders").alias("o")
    ).select(
        "custkey",
        F.col("o.o_totalprice").alias("price"),
        F.col("o.o_orderpriority").alias("prio"),
    )
    fx = F.floor(F.col("price") * 1000000.0 + 0.5).cast("bigint")
    return flat.groupBy("custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(F.col("prio") == "1-URGENT", 1).otherwise(0))
        .cast("bigint")
        .alias("n_urgent"),
        (F.sum(fx) / 1000000.0).alias("total_spend"),
    )


# --- XML source (Spark 4 built-in) -------------------------------------------

_XML_ORACLE = """
SELECT r.r_name,
       CAST(COUNT(*) AS BIGINT) AS n_nations,
       CAST(SUM(n.n_nationkey) AS BIGINT) AS key_checksum
FROM nation n JOIN region r ON r.r_regionkey = n.n_regionkey
GROUP BY 1
"""


@register("src_xml", oracle=_XML_ORACLE)
def q_src_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingestion via Spark 4's BUILT-IN xml data source (the
    spark-xml package was merged into core in 4.0): stage nation as
    <row> elements, read it back with a DECLARED schema (no inference
    pass, exact int/string fidelity), broadcast-join region, and audit
    counts + key checksums per region against the parquet-sourced
    truth.

    Scale: XML is a config/feed interchange format, not an analytics
    layout — rowTag parsing is record-at-a-time with no pushdown,
    pruning, or stats, so the operator's doctrine matches src_orc_text:
    land it once, rewrite columnar immediately. Declaring the schema
    matters even at ingest scale — inference is a full extra pass over
    every byte.
    """
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    path = _tmp(sf_dir, "xml_nation")
    n.write.mode("overwrite").format("xml").option("rootTag", "nations").option(
        "rowTag", "nation"
    ).save(path)
    schema = StructType(
        [
            StructField("n_nationkey", IntegerType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", IntegerType()),
        ]
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema(schema)
        .load(path)
    )
    return (
        back.join(F.broadcast(r), back.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.sum("n_nationkey").cast("bigint").alias("key_checksum"),
        )
    )


# --- metadata-only aggregates (parquet aggregate pushdown) -------------------

_AGG_PUSH_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(o_custkey) AS BIGINT) AS custkey_lo,
       CAST(MAX(o_custkey) AS BIGINT) AS custkey_hi,
       CAST(MIN(o_orderkey) AS BIGINT) AS orderkey_lo,
       CAST(MAX(o_orderkey) AS BIGINT) AS orderkey_hi,
       TRUE AS agg_pushed
"""


@register("scan_agg_pushdown", oracle=_AGG_PUSH_ORACLE + "FROM orders")
def q_scan_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only aggregation: COUNT/MIN/MAX answered from parquet
    FOOTER STATISTICS via Spark's v2 aggregate pushdown
    (spark.sql.parquet.aggregatePushdown) — at 100 TB these queries
    return in milliseconds because no data page is ever decoded; the
    scan reads row-group metadata only. The operator flips the v2
    reader + pushdown confs, runs the aggregate EAGERLY (one bounded
    row), asserts from its own executed plan that `PushedAggregation`
    actually engaged — reported as the graded `agg_pushed` column, so
    a silent fallback to a full scan FAILS the oracle — and restores
    both confs in a finally (the v2 reader must not leak into other
    operators' plan shapes mid-session).

    Scale note: pushdown requires stats-complete footers and bails on
    nullable-edge cases and post-scan filters; the plan column, not
    wall clock, is the honest detector.
    """
    import os

    keys = ("spark.sql.sources.useV1SourceList", "spark.sql.parquet.aggregatePushdown")
    # Bare conf.get returns the session DEFAULT for unset keys, and a
    # string sentinel default trips type validation on boolean confs —
    # so ask the RuntimeConfig directly whether each key is EXPLICITLY
    # set (guarded: on any internal-API failure, degrade to restoring
    # an explicit value, never to an error). Unset what was unset.
    def _explicit(k: str) -> bool:
        try:
            return bool(spark._jsparkSession.conf().contains(k))
        except Exception:
            return True

    old = {k: (spark.conf.get(k) if _explicit(k) else None) for k in keys}
    try:
        spark.conf.set("spark.sql.sources.useV1SourceList", "")
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        agg = o.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("o_custkey").cast("bigint").alias("custkey_lo"),
            F.max("o_custkey").cast("bigint").alias("custkey_hi"),
            F.min("o_orderkey").cast("bigint").alias("orderkey_lo"),
            F.max("o_orderkey").cast("bigint").alias("orderkey_hi"),
        )
        row = agg.collect()[0]
        # Pushdown detection, version-tolerant but SPECIFIC: require
        # every aggregate this query computes (COUNT plus MIN/MAX of
        # both columns) to appear inside the PushedAggregation list —
        # a partial pushdown (e.g. MIN/MAX pushed, COUNT falling back
        # to a scan) must grade false. Case-insensitive because the
        # exact spelling drifts across Spark minors. A list whose
        # closing ']' never appears (plan string truncated by
        # spark.sql.debug.maxToStringFields) is matched on whatever
        # prefix survived rather than auto-failed on a print limit.
        # Falls back to the formatted explain text if the private plan
        # accessor moves.
        import contextlib
        import io
        import re

        try:
            plan = agg._jdf.queryExecution().executedPlan().toString()
        except Exception:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                agg.explain("formatted")
            plan = buf.getvalue()
        m = re.search(
            # [^\]\n]* so the capture stops at end of line: a truncated
            # list must not swallow later plan lines (whose aggregate
            # spellings would fake a full pushdown)
            r"PushedAggregation:?\s*\[([^\]\n]*)(\]|$)",
            plan,
            re.IGNORECASE | re.MULTILINE,
        )
        items = (m.group(1) if m else "").lower()
        pushed = all(
            needle in items
            for needle in (
                "count(",
                "min(o_custkey",
                "max(o_custkey",
                "min(o_orderkey",
                "max(o_orderkey",
            )
        )
    finally:
        for k in keys:
            if old[k] is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old[k])
    return local_rows(spark, 
        [
            (
                row["n_rows"],
                row["custkey_lo"],
                row["custkey_hi"],
                row["orderkey_lo"],
                row["orderkey_hi"],
                bool(pushed),
            )
        ],
        "n_rows long, custkey_lo long, custkey_hi long,"
        " orderkey_lo long, orderkey_hi long, agg_pushed boolean",
    )


# --- dictionary encode/decode round trip -------------------------------------

_DICT_ORACLE = """
WITH dict AS (
  SELECT o_orderpriority AS v,
         ROW_NUMBER() OVER (ORDER BY o_orderpriority) AS id
  FROM (SELECT DISTINCT o_orderpriority FROM orders)
),
enc AS (
  SELECT o.o_orderkey, d.id
  FROM orders o JOIN dict d ON d.v = o.o_orderpriority
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST((SELECT COUNT(*) FROM dict) AS BIGINT) AS n_dict,
       CAST(SUM(id) AS BIGINT) AS id_checksum,
       CAST(0 AS BIGINT) AS n_roundtrip_mismatch
FROM enc
"""


@register("sink_dictionary_encode", oracle=_DICT_ORACLE)
def q_sink_dictionary_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary encoding as an ENGINE-level layout operation: build a
    deterministic value→id dictionary (rank over the distinct values —
    bounded by column cardinality), rewrite the fact column as ids,
    stage encoded + dictionary as separate parquet, then read back,
    decode via a broadcast dictionary join, and count round-trip
    mismatches against the original column (graded as exactly 0, with
    an id checksum pinning the dictionary assignment). Parquet already
    dictionary-encodes strings *inside* a column chunk; the engine-level
    version is what normalizes a low-cardinality join/group key across
    TABLES — grouping and joining on 4-byte ids instead of strings is
    the classic star-schema surrogate-key move (cf. fn_surrogate_key).

    Scale: dictionary build is a distinct + rank on ≤|cardinality|
    rows; encode and decode are broadcast hash joins against that
    dictionary — the fact table never shuffles.
    """
    import os

    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    dic = (
        o.select(F.col("o_orderpriority").alias("v"))
        .distinct()
        .select(
            "v", F.row_number().over(Window.orderBy("v")).alias("id")
        )
    )
    enc = o.join(F.broadcast(dic), o.o_orderpriority == dic.v).select(
        "o_orderkey", "id"
    )
    root = _tmp(sf_dir, "dict_enc")
    enc.write.mode("overwrite").parquet(os.path.join(root, "encoded"))
    dic.write.mode("overwrite").parquet(os.path.join(root, "dict"))

    enc_back = spark.read.parquet(os.path.join(root, "encoded"))
    dic_back = spark.read.parquet(os.path.join(root, "dict"))
    decoded = enc_back.join(F.broadcast(dic_back), "id").select(
        "o_orderkey", F.col("v").alias("decoded"), "id"
    )
    joined = decoded.join(o, "o_orderkey")
    return joined.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("id").cast("bigint").alias("id_checksum"),
        F.sum(
            (F.col("decoded") != F.col("o_orderpriority")).cast("bigint")
        ).alias("n_roundtrip_mismatch"),
    ).crossJoin(
        F.broadcast(dic_back.agg(F.count(F.lit(1)).alias("n_dict")))
    )


# --- runtime missing-file resilience -----------------------------------------

_MISSING_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(l_orderkey) AS BIGINT) AS key_checksum
FROM lineitem WHERE l_returnflag <> 'R'
GROUP BY 1
"""


@register("scan_missing_file_resilient", oracle=_MISSING_ORACLE)
def q_scan_missing_file_resilient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime missing-file tolerance: a 100 TB scan lists its files
    once, then reads for minutes-to-hours — files compacted or expired
    mid-flight raise FileNotFound and kill the job unless
    spark.sql.files.ignoreMissingFiles is on. Staged here exactly as
    the race happens: write lineitem partitioned by l_returnflag, LET
    THE READER LIST the directory (DataFrame creation pins the file
    index), then delete the 'R' partition from under it; the
    subsequent aggregation must return precisely the surviving
    partitions' rows — the oracle states them — instead of erroring.
    The conf flips inside try/finally and is restored to its prior
    state (unset stays unset).

    Scale note: ignoreMissingFiles trades fail-stop for partial reads;
    production pairs it with manifest-pinned snapshots
    (sink_snapshot_timetravel) so readers never race compaction at
    all — this operator demonstrates the failure mode the manifest
    layer exists to prevent.
    """
    import shutil

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag"
    )
    path = _tmp(sf_dir, "missing_file")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(path)

    def _explicit(k: str) -> bool:
        try:
            return bool(spark._jsparkSession.conf().contains(k))
        except Exception:
            return True

    key = "spark.sql.files.ignoreMissingFiles"
    old = spark.conf.get(key) if _explicit(key) else None
    try:
        spark.conf.set(key, "true")
        back = spark.read.parquet(path)  # file index pinned HERE
        shutil.rmtree(os.path.join(path, "l_returnflag=R"), ignore_errors=True)
        out = back.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_orderkey").cast("bigint").alias("key_checksum"),
        )
        rows = out.collect()  # eager: the conf must be live during read
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    return local_rows(spark, 
        rows, "l_returnflag string, n long, key_checksum long"
    )


# --- Delta-protocol transaction-log reader -----------------------------------


def _delta_list_files(data_dir: str) -> set[str]:
    if not os.path.isdir(data_dir):
        return set()
    return {f for f in os.listdir(data_dir) if f.endswith(".parquet")}


def _delta_stage_history(
    spark: SparkSession,
    o: DataFrame,
    root: str,
    remove_ts_ms: int | None = None,
) -> tuple[set[str], set[str], set[str]]:
    """Stage the shared three-commit Delta history under `root` (wiped
    first): v0 = even-orderkey base (2 files), v1 = odd-slice append,
    v2 = COMPACTION of v0's files into one (content-identical rewrite,
    `dataChange: false` per spec — an empty base slice on adversarial
    micro corpora commits metadata only; `remove_ts_ms` stamps its
    removes' deletionTimestamp). Returns the per-commit add sets;
    shared by src_delta_log / src_delta_checkpoint /
    stream_delta_commits so protocol fixes land in ONE place."""
    import shutil

    data_dir = os.path.join(root, "data")
    log_dir = os.path.join(root, "_delta_log")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(log_dir, exist_ok=True)

    # v0 writes straight to the table; v1 lands in a staging dir
    # CONCURRENTLY (guide §2.6 — independent jobs overlap), and the v2
    # compaction (which reads v0's files) overlaps v1's tail. Staged
    # part files keep their unique basenames when moved in, so the
    # commit contents are exactly the sequential layout's.
    def _write_v0():
        o.filter(F.col("o_orderkey") % 2 == 0).repartition(2).write.mode(
            "append"
        ).parquet(data_dir)

    v1_stage = os.path.join(root, ".v1.staging")

    def _write_v1():
        o.filter(F.col("o_orderkey") % 2 == 1).repartition(1).write.mode(
            "overwrite"
        ).parquet(v1_stage)

    def _move_in(stage_dir: str) -> set[str]:
        moved = set()
        for f in sorted(os.listdir(stage_dir)):
            if f.endswith(".parquet"):
                os.replace(
                    os.path.join(stage_dir, f), os.path.join(data_dir, f)
                )
                moved.add(f)
        shutil.rmtree(stage_dir, ignore_errors=True)
        return moved

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f0 = pool.submit(_write_v0)
        f1 = pool.submit(_write_v1)
        f0.result()
        v0_adds = _delta_list_files(data_dir)
        v2_stage = os.path.join(root, ".v2.staging")
        f2 = None
        if v0_adds:
            f2 = pool.submit(
                lambda: spark.read.parquet(
                    *[os.path.join(data_dir, f) for f in sorted(v0_adds)]
                ).repartition(1).write.mode("overwrite").parquet(v2_stage)
            )
        _delta_commit(log_dir, 0, v0_adds, set())
        f1.result()
        v1_adds = _move_in(v1_stage)
        _delta_commit(log_dir, 1, v1_adds, set())
        v2_adds = set()
        if f2 is not None:
            f2.result()
            v2_adds = _move_in(v2_stage)
        _delta_commit(
            log_dir,
            2,
            v2_adds,
            v0_adds,
            data_change=False,
            remove_ts_ms=remove_ts_ms,
        )
    return v0_adds, v1_adds, v2_adds


_DELTA_LOG_ORACLE = """
SELECT v.version,
       CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)), 0)
            AS BIGINT) AS total_cents
FROM (VALUES (0), (1), (2)) AS v(version)
LEFT JOIN orders o ON (v.version >= 1 OR o.o_orderkey % 2 = 0)
GROUP BY v.version
"""


@register("src_delta_log", oracle=_DELTA_LOG_ORACLE)
def q_src_delta_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a Delta-protocol table WITHOUT delta-spark: stage a table
    whose `_delta_log/` holds three JSON-lines commits per the open
    Delta transaction-log spec (delta-io PROTOCOL.md — zero-padded
    `<version>.json`, one action object per line, `add`/`remove`
    carrying table-root-relative paths), then reconstruct every
    version's live file set by LOG REPLAY and audit rows + exact cent
    totals per version against the source of truth.

    Commits staged: v0 = even-orderkey orders (two files), v1 = append
    of the odd-orderkey slice, v2 = COMPACTION — `remove` of v0's files
    plus `add` of their single-file rewrite. v2's content therefore
    EQUALS v1's (the oracle states identical rows/cents for versions
    1 and 2): getting that right requires honoring `remove` actions in
    replay order, which is exactly what a naive directory listing — or
    a reader that only unions `add`s — gets wrong.

    Replay as a Spark plan (no per-version rescans): the log is read
    ONCE with an explicit schema (no inference pass), each action
    tagged with its commit version from the file name; `explode
    (sequence(u, max_version))` projects each action onto every
    version it is visible in, and `max_by(is_add, u)` per (version,
    file) keeps the LAST action — a file is live at v iff that action
    is an `add`. The data dir is also scanned ONCE, rows tagged with
    their source file via input_file_name(), and a broadcast join onto
    the live-(version, file) table fans each row into exactly the
    versions that see it; one hash agg per version finishes. A
    single-version production read instead passes the replayed file
    list straight to the parquet source (the sink_snapshot_timetravel
    shape) so pruning/pushdown work as on a plain scan.

    Scale: the log is bounded driver-class metadata (real tables
    checkpoint it in parquet once commits reach thousands — same
    replay rule, different container); data files are never listed
    from the directory, so readers cannot race compaction — the
    failure mode scan_missing_file_resilient demonstrates. The
    version-projection explode is |actions| x |versions| metadata
    rows, never data.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = _tmp(sf_dir, "delta_log")
    data_dir = os.path.join(root, "data")
    log_dir = os.path.join(root, "_delta_log")
    _delta_stage_history(spark, o, root)

    # shared protocol-generic replay: version bound derived from the
    # log listing (r10 verdict task 2 — no fixture constant), live sets
    # by explode-projection + max_by(is_add, u)
    max_v = _delta_max_version(log_dir)
    live = _delta_live_files(spark, log_dir)
    data = o.sparkSession.read.parquet(data_dir).withColumn(
        "fname", F.element_at(F.split(F.input_file_name(), "/"), -1)
    )
    per_version = (
        data.join(F.broadcast(live), "fname")
        .groupBy("version")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            ).alias("total_cents"),
        )
    )
    spine = spark.range(max_v + 1).select(F.col("id").cast("int").alias("version"))
    return spine.join(per_version, "version", "left").select(
        "version",
        F.coalesce("n_rows", F.lit(0).cast("bigint")).alias("n_rows"),
        F.coalesce("total_cents", F.lit(0).cast("bigint")).alias("total_cents"),
    )


_DELTA_CKPT_ORACLE = """
SELECT s.snapshot,
       CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)), 0)
            AS BIGINT) AS total_cents
FROM (VALUES ('checkpoint_v2'), ('latest_v3')) AS s(snapshot)
LEFT JOIN orders o
       ON (s.snapshot = 'checkpoint_v2' OR o.o_orderkey % 2 = 0)
GROUP BY s.snapshot
"""


@register("src_delta_checkpoint", oracle=_DELTA_CKPT_ORACLE)
def q_src_delta_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-protocol CHECKPOINT read — the mechanism that keeps log
    replay bounded at scale. A long-lived table accretes thousands of
    commits; per the open spec a checkpoint parquet
    (`<version>.checkpoint.parquet`, pointed at by `_last_checkpoint`)
    materializes the reconciled action state at one version, and a
    reader replays checkpoint + ONLY the JSON commits after it —
    O(live files + tail), never O(history).

    Staged: the same v0/v1/v2 history as [[src_delta_log]] (even base,
    odd append, compaction), a checkpoint at v2 (one `add` row per
    live file, written as parquet BY SPARK, not driver JSON), then
    v3 = a DELETE of the odd slice (`remove` of its file). The reader
    never opens v0–v2's JSON: it loads the checkpoint's add rows,
    stacks the post-checkpoint actions (v3 only), and replays
    `max_by(is_add, u)` exactly as the full-history reader — the
    checkpoint rows enter the fold as version-2 adds. Output audits
    BOTH reconstructions: `checkpoint_v2` (all orders — compaction is
    content-neutral) and `latest_v3` (evens only — the remove must
    actually drop the odd file). A reader that unions adds without
    honoring the v3 remove, or that re-reads removed v0 files, fails
    the oracle.

    Scale: checkpoint size ∝ live files (metadata), read as a parquet
    scan like any other — millions of files stream through executors,
    never the driver; `_last_checkpoint` is one driver-side JSON read,
    exactly how delta readers bootstrap.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = _tmp(sf_dir, "delta_ckpt")
    data_dir = os.path.join(root, "data")
    log_dir = os.path.join(root, "_delta_log")
    v0_adds, v1_adds, v2_adds = _delta_stage_history(spark, o, root)

    # checkpoint at v2: reconciled live-add state, written AS PARQUET by
    # a Spark job (checkpoint size ∝ live files — executor-side at scale).
    # Spark writes a directory; the spec's classic checkpoint is a single
    # `<v>.checkpoint.parquet` FILE, so the one part-file is renamed into
    # place (the write-then-rename commit idiom; object stores do a copy)
    # — an external Delta reader can bootstrap from this table (r10
    # ADVICE: the directory form overstated interop).
    import shutil

    live_v2 = sorted(v1_adds | v2_adds)
    ckpt_path = os.path.join(log_dir, "00000000000000000002.checkpoint.parquet")
    ckpt_tmp = os.path.join(root, "_ckpt_stage")
    local_rows(spark, 
        [(f"data/{p}",) for p in live_v2], "add_path string"
    ).select(
        F.struct(F.col("add_path").alias("path")).alias("add")
    ).repartition(1).write.mode("overwrite").parquet(ckpt_tmp)
    (part_file,) = [
        f for f in os.listdir(ckpt_tmp) if f.endswith(".parquet")
    ]  # repartition(1) → exactly one part
    os.replace(os.path.join(ckpt_tmp, part_file), ckpt_path)
    shutil.rmtree(ckpt_tmp, ignore_errors=True)
    delta_log.write_last_checkpoint(log_dir, {"version": 2})

    # v3: DELETE the odd slice — remove-only commit, dataChange TRUE
    # (a real delete, unlike the staged compaction)
    _delta_commit(log_dir, 3, set(), v1_adds)

    # --- reader: bootstrap from _last_checkpoint, never open v0-v2 json
    ckpt_v = int(delta_log.read_last_checkpoint(log_dir)["version"])
    ckpt_adds = (
        spark.read.parquet(
            os.path.join(log_dir, f"{ckpt_v:020d}.checkpoint.parquet")
        )
        .select(
            F.col("add.path").alias("path"),
            F.lit(True).alias("is_add"),
            F.lit(ckpt_v).alias("u"),
        )
    )
    max_v = _delta_max_version(log_dir)  # one listing, not a constant
    tail = delta_log.file_actions(
        delta_log.read_log(spark, log_dir, range(ckpt_v + 1, max_v + 1))
    ).withColumnRenamed("version", "u")
    actions = ckpt_adds.unionByName(tail)
    live = (
        actions.select(
            "path",
            "is_add",
            "u",
            F.explode(
                F.array(F.lit("checkpoint_v2"), F.lit("latest_v3"))
            ).alias("snapshot"),
        )
        # the checkpoint_v2 reconstruction sees only actions at u <= 2
        .filter((F.col("snapshot") == "latest_v3") | (F.col("u") <= ckpt_v))
        .groupBy("snapshot", "path")
        .agg(F.max_by("is_add", "u").alias("live"))
        .filter("live")
        .select(
            "snapshot",
            F.element_at(F.split("path", "/"), -1).alias("fname"),
        )
    )
    data = o.sparkSession.read.parquet(data_dir).withColumn(
        "fname", F.element_at(F.split(F.input_file_name(), "/"), -1)
    )
    per_snap = (
        data.join(F.broadcast(live), "fname")
        .groupBy("snapshot")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            ).alias("total_cents"),
        )
    )
    spine = local_rows(spark, 
        [("checkpoint_v2",), ("latest_v3",)], "snapshot string"
    )
    return spine.join(per_snap, "snapshot", "left").select(
        "snapshot",
        F.coalesce("n_rows", F.lit(0).cast("bigint")).alias("n_rows"),
        F.coalesce("total_cents", F.lit(0).cast("bigint")).alias(
            "total_cents"
        ),
    )


_DELTA_PRUNE_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderpriority
"""


@register("src_delta_partition_prune", oracle=_DELTA_PRUNE_ORACLE)
def q_src_delta_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only partition pruning from the Delta log: per the open
    protocol every `add` action carries the file's `partitionValues`
    map, so a partition predicate selects files from the LOG ALONE —
    no directory listing, no parquet footer reads, no file opened that
    the predicate excludes. At 100 TB this is why lake formats plan a
    pruned scan in milliseconds where hive-style listing walks millions
    of directory entries.

    Staged: orders written partitioned by o_orderpriority (one commit,
    one `add` per partition file with its partitionValues); the reader
    replays the log, applies the predicate (`priority ∈ {1-URGENT,
    2-HIGH}`) to the partitionValues COLUMN of the action table — a
    Catalyst filter on metadata rows — and hands ONLY the surviving
    paths to the parquet source. The partition column itself is
    restored from partitionValues (per spec it is NOT stored in the
    data files), and the per-priority totals must match the oracle
    computed over the unpartitioned source of truth.
    `tests/test_plans.py::test_delta_partition_prune_reads_only_pruned_files`
    asserts the scan's input files are exactly the pruned set.

    Scale: the pruned file list rides one driver-side collect of the
    SURVIVING add actions — bounded by selected partitions, the same
    metadata class as sink_snapshot_timetravel's manifest (real tables
    checkpoint the action table in parquet and filter it distributed,
    collecting only the matches — identical shape).
    """
    import shutil

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    root = _tmp(sf_dir, "delta_prune")
    data_dir = os.path.join(root, "data")
    log_dir = os.path.join(root, "_delta_log")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(log_dir, exist_ok=True)

    # one file per partition dir (repartition(1) keeps the layout
    # deterministic at fixture scale; a production writer shards)
    o.repartition(1).write.mode("overwrite").partitionBy(
        "o_orderpriority"
    ).parquet(data_dir)
    adds = []
    for d in sorted(os.listdir(data_dir)):
        pdir = os.path.join(data_dir, d)
        if not (os.path.isdir(pdir) and d.startswith("o_orderpriority=")):
            continue
        pval = d.split("=", 1)[1]
        for f in sorted(os.listdir(pdir)):
            if f.endswith(".parquet"):
                adds.append(
                    {
                        "add": {
                            "path": f"data/{d}/{f}",
                            "partitionValues": {"o_orderpriority": pval},
                            "dataChange": True,
                        }
                    }
                )
    delta_log.commit(
        log_dir, 0, [{"commitInfo": {"operation": "WRITE"}}] + adds
    )

    wanted = ("1-URGENT", "2-HIGH")
    pruned = (
        delta_log.read_log(spark, log_dir)
        .select(
            F.col("add.path").alias("path"),
            F.element_at(F.col("add.partitionValues"), "o_orderpriority").alias(
                "pval"
            ),
        )
        .filter(F.col("path").isNotNull() & F.col("pval").isin(*wanted))
        .collect()  # metadata: one row per SURVIVING file
    )
    if not pruned:
        return local_rows(spark, 
            [], "o_orderpriority string, n_rows long, total_cents long"
        )
    # partition column restored from partitionValues, never from data;
    # ONE scan node per surviving partition value (not per file)
    by_val: dict[str, list[str]] = {}
    for r in pruned:
        by_val.setdefault(r["pval"], []).append(os.path.join(root, r["path"]))
    scans = [
        spark.read.parquet(*sorted(paths)).withColumn(
            "o_orderpriority", F.lit(v)
        )
        for v, paths in sorted(by_val.items())
    ]
    df = scans[0]
    for s in scans[1:]:
        df = df.unionByName(s)
    return df.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("total_cents"),
    )


# --- Avro OCF source (from-scratch codec, fully distributed) -----------------

_AVRO_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM orders
GROUP BY o_orderpriority
"""

_AVRO_ORDERS_SCHEMA = {
    "type": "record",
    "name": "orders_slice",
    "fields": [
        {"name": "o_orderkey", "type": "long"},
        {"name": "o_totalprice", "type": "double"},
        {"name": "o_orderpriority", "type": "string"},
    ],
}


@register("src_avro", oracle=_AVRO_ORACLE)
def q_src_avro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro OCF as a USER-FACING row data source (Avro spec §Object
    Container Files) — the codec that already backs the Iceberg
    manifest layer (iceberg_format.py), promoted to a first-class
    source the way CSV/JSON/XML/ORC are. Both directions are
    DISTRIBUTED: staging writes one OCF shard per partition from the
    executors (`mapInPandas` + the from-scratch encoder), and the read
    is a `binaryFile` scan whose per-file decode runs executor-side on
    the file CONTENT (`ocf_read_bytes` — no local-filesystem
    assumption), so neither direction ever routes rows through the
    driver.

    Scale doctrine: Avro is a row-oriented interchange format — no
    column pruning, no predicate pushdown, no stats. Parallelism here
    is per-file (one OCF shard = one decode task), which is exactly how
    a 100 TB Avro landing zone is laid out (thousands of shards);
    within a shard the spec's sync-marker splits could subdivide
    further, but the engine's doctrine (src_orc_text, src_xml) stands:
    land it once, rewrite columnar immediately."""
    import shutil

    from pyspark import cloudpickle

    from random_forest_using_hadoop_spark import iceberg_format as _icefmt

    cloudpickle.register_pickle_by_value(_icefmt)
    _ocf_write = _icefmt.ocf_write
    _ocf_read_bytes = _icefmt.ocf_read_bytes
    schema = _AVRO_ORDERS_SCHEMA

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    out_dir = _tmp(sf_dir, "avro_orders")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)

    def _write_shards(it):
        import os as _os

        import pandas as _pd
        from pyspark import TaskContext

        recs: list[dict] = []
        for pdf in it:
            recs.extend(
                {
                    "o_orderkey": int(k),
                    "o_totalprice": float(p),
                    "o_orderpriority": str(v),
                }
                for k, p, v in zip(
                    pdf["o_orderkey"],
                    pdf["o_totalprice"],
                    pdf["o_orderpriority"],
                )
            )
        if recs:
            pid = TaskContext.get().partitionId()
            _ocf_write(
                _os.path.join(out_dir, f"part-{pid:05d}.avro"),
                schema,
                recs,
            )
        yield _pd.DataFrame({"n": _pd.Series([len(recs)], dtype="int64")})

    o.repartition(4).mapInPandas(_write_shards, schema="n long").collect()

    out_schema = (
        "o_orderkey long, o_totalprice double, o_orderpriority string"
    )
    if not any(f.endswith(".avro") for f in os.listdir(out_dir)):
        rows = local_rows(spark, [], out_schema)  # empty corpus
    else:

        def _decode(it):
            import pandas as _pd

            for pdf in it:
                for content, path in zip(pdf["content"], pdf["path"]):
                    _, recs, _ = _ocf_read_bytes(
                        bytes(content), source=path
                    )
                    if recs:
                        yield _pd.DataFrame.from_records(recs)[
                            [
                                "o_orderkey",
                                "o_totalprice",
                                "o_orderpriority",
                            ]
                        ]

        rows = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.avro")
            .load(out_dir)
            .select("content", "path")
            .mapInPandas(_decode, schema=out_schema)
        )
    return rows.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).cast("bigint").alias("total_cents"),
    )
