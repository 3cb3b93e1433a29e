"""Training-data pipeline operators, part 2 — the corpus-hygiene passes
a 100 TB pretraining build runs between raw crawl and tokenizer:

- benchmark contamination detection (n-gram overlap vs an eval set),
- intra-document repetition scoring (Gopher/RefinedWeb-style signals),
- deterministic sequence packing (token-budget bins),
- target-mixture resampling (per-domain hash downsampling),
- the corpus mix report (the "datasheet" aggregate).

Everything is built from JVM-side primitives: higher-order array
functions for per-document token/n-gram work (zero shuffle — the
document is the unit of parallelism), hash-groupBy only where a global
view is genuinely needed (contamination join, mix report). The only
Python in this file is test plumbing — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from random_forest_using_hadoop_spark.registry import register
from random_forest_using_hadoop_spark.sources import load_table


def _guarded_ngram_expr(n: int, tok_expr: str = "split(text, ' ')") -> str:
    """Spark SQL for the distinct word n-grams of `text`, empty for docs
    with < n tokens. The guard matters: Spark's sequence(1, 0) yields a
    DESCENDING [1, 0] and slice(..., 0, n) then throws, while DuckDB's
    generate_series(1, 0) is simply empty — so every n-gram site must
    branch before building the sequence. Pass ``tok_expr`` naming a
    precomputed token-array column when the caller scans large corpora
    — the default re-splits `text` at each of its four mentions, which
    the r9 profile measured as the contamination scan's dominant cost."""
    t = tok_expr
    return (
        f"CASE WHEN size({t}) >= {n} THEN"
        f" array_distinct(transform(sequence(1, size({t}) - {n - 1}),"
        f" i -> concat_ws(' ', slice({t}, i, {n}))))"
        f" ELSE cast(array() as array<string>) END"
    )


# Stand-in eval-benchmark strata: everything from these sources is
# "benchmark"; the rest of the corpus is checked against it.
_BENCH_SOURCES = ("src0", "src1")


# --- contamination: 4-gram overlap vs the benchmark set ----------------------

_CONTAM_ORACLE = """
WITH toks AS (
    SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
),
ngr AS (
    SELECT doc_id, source,
           unnest(list_transform(generate_series(1, len(t) - 3),
                                 i -> array_to_string(t[i:i+3], ' '))) AS g
    FROM toks
),
dist AS (SELECT DISTINCT doc_id, source, g FROM ngr),
bench AS (SELECT DISTINCT g FROM dist WHERE source IN ('src0', 'src1')),
corpus AS (
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_ngrams,
           CAST(COUNT(*) FILTER (WHERE g IN (SELECT g FROM bench)) AS BIGINT)
             AS n_hit
    FROM dist
    WHERE source NOT IN ('src0', 'src1')
    GROUP BY doc_id
)
SELECT doc_id, n_ngrams, n_hit,
       n_hit * 1.0 / n_ngrams AS contamination_ratio
FROM corpus
WHERE n_hit > 0
"""


@register("pipe_contamination_ngram", oracle=_CONTAM_ORACLE)
def q_pipe_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: for every corpus document, the
    fraction of its distinct word 4-grams that also occur anywhere in
    the benchmark strata (sources src0/src1). Emits only contaminated
    docs (n_hit > 0) with their overlap ratio — the decontamination
    filter's input.

    Scale: n-grams are built array-side (transform over sequence — no
    explode until after array_distinct, so duplicate n-grams within a
    doc never hit the shuffle). The benchmark n-gram set is DISTINCT'd
    then broadcast (eval suites are ~10⁵ rows even at 100 TB corpus
    scale); the probe is a broadcast inner join, so the only shuffle is
    the per-doc hit count on doc_id — high-cardinality, even. Ratio is
    int/int division: bit-identical cross-engine.
    """
    d = load_table(spark, sf_dir, "documents")
    with_ngrams = d.select(
        "doc_id", "source", F.split("text", " ").alias("toks")
    ).select(
        "doc_id",
        "source",
        F.expr(_guarded_ngram_expr(4, tok_expr="toks")).alias("grams"),
    )
    bench = (
        with_ngrams.filter(F.col("source").isin(*_BENCH_SOURCES))
        .select(F.explode("grams").alias("g"))
        .distinct()
    )
    corpus = with_ngrams.filter(~F.col("source").isin(*_BENCH_SOURCES)).select(
        "doc_id",
        F.size("grams").cast("bigint").alias("n_ngrams"),
        F.explode("grams").alias("g"),
    )
    return (
        corpus.join(F.broadcast(bench), "g")
        .groupBy("doc_id", "n_ngrams")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .select(
            "doc_id",
            "n_ngrams",
            "n_hit",
            (F.col("n_hit") * 1.0 / F.col("n_ngrams")).alias("contamination_ratio"),
        )
    )


# --- repetition: dup-3gram and top-token concentration -----------------------

_REPEAT_ORACLE = """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
feats AS (
    SELECT doc_id,
           list_transform(generate_series(1, len(t) - 2),
                          i -> array_to_string(t[i:i+2], ' ')) AS g,
           list_max(list_transform(list_distinct(t),
                                   tok -> len(list_filter(t, x -> x = tok)))) AS top_cnt,
           len(t) AS n_toks
    FROM toks
)
SELECT doc_id,
       1.0 - len(list_distinct(g)) * 1.0 / len(g) AS dup_3gram_ratio,
       top_cnt * 1.0 / n_toks AS top_token_ratio,
       (1.0 - len(list_distinct(g)) * 1.0 / len(g)) > 0.2
         OR (top_cnt * 1.0 / n_toks) > 0.2 AS repetitive
FROM feats
WHERE len(g) > 0
"""


@register("pipe_repetition_score", oracle=_REPEAT_ORACLE)
def q_pipe_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals (the Gopher-rules family):
    duplicate-3-gram ratio and the most-frequent-token concentration,
    plus the boolean filter verdict at the 0.2 thresholds.

    Scale: a pure stateless projection — every signal is computed with
    higher-order array functions inside whole-stage codegen, so the op
    is scan-bound with ZERO shuffle at any corpus size. The per-doc
    token loop is O(distinct·n) on ~10² tokens; for multi-MB documents
    swap in a sorted-run count (same output, still array-side). Ratios
    are int/int divisions: bit-identical cross-engine.
    """
    d = load_table(spark, sf_dir, "documents")
    t = "split(text, ' ')"
    # NB: the repetition signal needs the NON-distinct gram stream (its
    # whole point is counting duplicates), so this one keeps its own
    # guarded expression rather than _guarded_ngram_expr's distinct form.
    g = (
        f"CASE WHEN size({t}) >= 3 THEN"
        f" transform(sequence(1, size({t}) - 2), i -> concat_ws(' ', slice({t}, i, 3)))"
        f" ELSE cast(array() as array<string>) END"
    )
    # NB: arithmetic happens in PySpark column space — a `1.0` literal
    # inside F.expr SQL is DECIMAL in Spark, which would ship decimal
    # ratios to the driver while DuckDB ships doubles.
    feats = d.select(
        "doc_id",
        F.expr(f"size({g})").alias("n_g"),
        F.expr(f"size(array_distinct({g}))").alias("nd_g"),
        F.expr(
            f"array_max(transform(array_distinct({t}), tok -> size(filter({t}, x -> x = tok))))"
        ).alias("top_cnt"),
        F.expr(f"size({t})").alias("n_toks"),
    ).filter(F.col("n_g") > 0)
    dup = 1.0 - F.col("nd_g") * 1.0 / F.col("n_g")
    top = F.col("top_cnt") * 1.0 / F.col("n_toks")
    return feats.select(
        "doc_id",
        dup.alias("dup_3gram_ratio"),
        top.alias("top_token_ratio"),
        ((dup > 0.2) | (top > 0.2)).alias("repetitive"),
    )


# --- sequence packing: deterministic token-budget bins -----------------------

_PACK_BUDGET = 512
_PACK_BUCKETS = 8

_PACK_ORACLE = f"""
WITH sized AS (
    SELECT doc_id,
           doc_id % {_PACK_BUCKETS} AS bucket,
           len(string_split(text, ' ')) AS n_toks
    FROM documents
),
placed AS (
    SELECT bucket, n_toks,
           SUM(n_toks) OVER (PARTITION BY bucket ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
    FROM sized
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST((cum - n_toks) // {_PACK_BUDGET} AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS sum_tokens
FROM placed
GROUP BY bucket, bin
ORDER BY bucket, bin
"""


@register("pipe_seq_packing", oracle=_PACK_ORACLE)
def q_pipe_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence packing: assign documents to fixed
    token-budget training bins (budget 512) by streaming next-fit —
    docs are sharded into 8 hash buckets, ordered by doc_id
    within each, and a doc joins the bin its cumulative start offset
    falls in. Emits the packing manifest (docs and tokens per bin).

    Scale: packing is embarrassingly parallel across buckets — one
    window partition per bucket, so bucket count (in production:
    thousands) sets the parallelism and NO global sort exists. The
    cumulative sum is the only state and it's a running bigint. The
    same manifest re-materializes identically on re-run/backfill
    because placement is a pure function of (doc_id, n_toks).
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(_PACK_BUCKETS)).alias("bucket"),
        F.size(F.split(F.col("text"), " ")).alias("n_toks"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = sized.withColumn("cum", F.sum("n_toks").over(w))
    return (
        placed.groupBy(
            F.col("bucket").cast("bigint").alias("bucket"),
            F.expr(f"(cum - n_toks) div {_PACK_BUDGET}").cast("bigint").alias("bin"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("sum_tokens"),
        )
        .orderBy("bucket", "bin")
    )


# --- target-mixture resampling ----------------------------------------------

# Per-lang keep thresholds on the first md5 byte: en is downsampled to
# ~1/3 ('55' keeps 85/256 ≈ 33.2%), every other lang keeps all rows
# ('zz' exceeds any hex prefix). Membership is a pure function of
# (lang, doc_id) — partition-layout- and engine-independent.
_MIX_CASE = "CASE WHEN lang = 'en' THEN '55' ELSE 'zz' END"

_MIXTURE_ORACLE = f"""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) FILTER (WHERE substr(md5(concat(lang, '#',
           CAST(doc_id AS VARCHAR))), 1, 2) < ({_MIX_CASE})) AS BIGINT) AS n_kept,
       CAST(SUM(len(string_split(text, ' '))) FILTER (WHERE
           substr(md5(concat(lang, '#', CAST(doc_id AS VARCHAR))), 1, 2)
             < ({_MIX_CASE})) AS BIGINT) AS tokens_kept
FROM documents
GROUP BY lang
ORDER BY lang
"""


@register("pipe_domain_mixture", oracle=_MIXTURE_ORACLE)
def q_pipe_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-mixture resampling audit: deterministically downsample the
    dominant language (en → ~33%) while keeping the rest, reporting
    per-lang doc and token counts kept — the knob a data-mix pipeline
    turns to hit a target language distribution.

    Scale: membership is a stateless md5 projection (no sampling pass,
    no per-stratum state); the audit is one partial+final hash agg on a
    5-value key. Changing the mixture = editing the threshold CASE —
    the scan and shuffle shape never change. Unlike ``sampleBy``, the
    kept set survives re-runs, repartitions, and engine swaps bit-for-
    bit ([[sample_hash_stratified]] uses the same doctrine per-source).
    """
    d = load_table(spark, sf_dir, "documents")
    thresh = F.when(F.col("lang") == "en", "55").otherwise("zz")
    kept = (
        F.substring(
            F.md5(F.concat(F.col("lang"), F.lit("#"), F.col("doc_id").cast("string"))),
            1,
            2,
        )
        < thresh
    )
    n_toks = F.size(F.split(F.col("text"), " "))
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(kept, 1)).alias("n_kept"),
            F.sum(F.when(kept, n_toks)).cast("bigint").alias("tokens_kept"),
        )
        .orderBy("lang")
    )


# --- corpus mix report -------------------------------------------------------

_MIXREPORT_ORACLE = """
WITH per AS (
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM documents
    GROUP BY source, lang
)
SELECT source, lang, n_docs, n_tokens,
       n_tokens * 1.0 / SUM(n_tokens) OVER () AS token_share
FROM per
"""


@register("pipe_corpus_mix_report", oracle=_MIXREPORT_ORACLE)
def q_pipe_corpus_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus datasheet: per (source, lang) document and token
    counts plus each cell's share of the global token count.

    Scale: the heavy pass is one partial+final hash agg over the scan
    (token counting stays array-side in codegen — the text column never
    shuffles). The global-share window runs on the AGGREGATED frame —
    |sources|×|langs| rows, bounded by design — so the unpartitioned
    window is a deliberate single-task step over ~10² rows, not a
    scale hazard. Shares are bigint/bigint divisions off an exact sum:
    bit-identical cross-engine.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("bigint").alias("n_tokens"),
    )
    return per.select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        (
            F.col("n_tokens")
            * 1.0
            / F.sum("n_tokens").over(Window.partitionBy())
        ).alias("token_share"),
    )


# --- composite quality verdict: the final keep/drop pass ----------------------

_QV_ORACLE = """
WITH t AS (
    SELECT doc_id, lang, n_chars, string_split(text, ' ') AS tk FROM documents
),
f AS (
    SELECT doc_id, lang, n_chars,
           len(tk) AS n_toks,
           CASE WHEN len(tk) >= 3 THEN
               list_transform(generate_series(1, len(tk) - 2),
                              i -> array_to_string(tk[i:i+2], ' '))
           ELSE [] END AS g
    FROM t
),
s AS (
    SELECT doc_id,
           (n_chars BETWEEN 100 AND 500) AS len_ok,
           lang IN ('en', 'de', 'fr', 'es') AS lang_ok,
           (n_chars * 1.0 / n_toks) BETWEEN 5.0 AND 6.0 AS tok_ok,
           NOT (len(g) > 0
                AND (1.0 - len(list_distinct(g)) * 1.0 / len(g)) > 0.05)
             AS rep_ok
    FROM f
)
SELECT doc_id,
       CAST(CASE WHEN len_ok THEN 0 ELSE 1 END
          + CASE WHEN lang_ok THEN 0 ELSE 2 END
          + CASE WHEN tok_ok THEN 0 ELSE 4 END
          + CASE WHEN rep_ok THEN 0 ELSE 8 END AS BIGINT) AS fail_mask,
       len_ok AND lang_ok AND tok_ok AND rep_ok AS keep
FROM s
"""


@register("pipe_quality_composite", oracle=_QV_ORACLE)
def q_pipe_quality_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's final keep/drop gate: every quality signal — length
    band, language allowlist, mean-token-length band, duplicate-3-gram
    repetition — evaluated in ONE scan, emitting a per-document verdict
    plus a reason BITMASK (bit0 length, bit1 lang, bit2 token shape,
    bit3 repetition) so downstream dashboards can attribute every
    dropped byte to a rule without re-running the filters.

    Scale: a pure stateless projection — all four signals are codegen
    array/scalar expressions over the single documents scan, ZERO
    shuffle at any corpus size (the same doctrine as
    [[pipe_repetition_score]]). Changing a policy threshold re-runs the
    scan only. All signal arithmetic is int/int division and integer
    masks: bit-identical cross-engine.
    """
    d = load_table(spark, sf_dir, "documents")
    t = "split(text, ' ')"
    # non-distinct gram stream, same reason as pipe_repetition_score
    g = (
        f"CASE WHEN size({t}) >= 3 THEN"
        f" transform(sequence(1, size({t}) - 2), i -> concat_ws(' ', slice({t}, i, 3)))"
        f" ELSE cast(array() as array<string>) END"
    )
    feats = d.select(
        "doc_id",
        F.col("n_chars").between(100, 500).alias("len_ok"),
        F.col("lang").isin("en", "de", "fr", "es").alias("lang_ok"),
        (F.col("n_chars") * 1.0 / F.expr(f"size({t})"))
        .between(5.0, 6.0)
        .alias("tok_ok"),
        (
            ~(
                (F.expr(f"size({g})") > 0)
                & (
                    (
                        1.0
                        - F.expr(f"size(array_distinct({g}))")
                        * 1.0
                        / F.expr(f"size({g})")
                    )
                    > 0.05
                )
            )
        ).alias("rep_ok"),
    )
    mask = (
        F.when(F.col("len_ok"), 0).otherwise(1)
        + F.when(F.col("lang_ok"), 0).otherwise(2)
        + F.when(F.col("tok_ok"), 0).otherwise(4)
        + F.when(F.col("rep_ok"), 0).otherwise(8)
    ).cast("bigint")
    return feats.select(
        "doc_id",
        mask.alias("fail_mask"),
        (
            F.col("len_ok") & F.col("lang_ok") & F.col("tok_ok") & F.col("rep_ok")
        ).alias("keep"),
    )


# --- dedup manifest: fingerprint groups → keep/drop accounting ----------------

_MANIFEST_ORACLE = """
SELECT CAST(MIN(doc_id) AS BIGINT) AS canonical_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped,
       CAST(SUM(n_chars) - arg_min(n_chars, doc_id) AS BIGINT) AS chars_dropped
FROM documents
GROUP BY md5(substr(text, 1, 40))
HAVING COUNT(*) > 1
"""


@register("pipe_dedup_manifest", oracle=_MANIFEST_ORACLE)
def q_pipe_dedup_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decision layer on top of dedup: fingerprint groups (40-char
    prefix hash — the planted near-dup families share exactly this
    prefix) collapse to a keep/drop MANIFEST: canonical survivor
    (minimum doc_id — deterministic, re-run-stable), member count, and
    the bytes reclaimed by dropping the rest. This is the artifact a
    100 TB dedup job actually ships: the filter pass that follows
    joins against it, and the savings number is the job's report card.

    Scale: one hash groupBy on the fingerprint (map-side partial
    combine; group count ≪ corpus) — no pair joins at all, which is
    why fingerprint dedup is the first pass before any
    MinHash/SimHash machinery ([[dedup_minhash]], [[dedup_simhash]]).
    min/min_by/sum are order-insensitive; every output is BIGINT.
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.expr("substring(text, 1, 40)")).alias("fp"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_members"),
            (F.count(F.lit(1)) - 1).alias("n_dropped"),
            (F.sum("n_chars") - F.min_by("n_chars", "doc_id"))
            .cast("bigint")
            .alias("chars_dropped"),
        )
        .filter(F.col("n_members") > 1)
        .drop("fp")
    )


# --- token-share concentration curve (data-mix analytics) ---------------------

_LORENZ_ORACLE = """
WITH per AS (
    SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM documents GROUP BY source
),
ranked AS (
    SELECT source, n_tokens,
           ROW_NUMBER() OVER (ORDER BY n_tokens DESC, source) AS rk,
           SUM(n_tokens) OVER (ORDER BY n_tokens DESC, source
                               ROWS UNBOUNDED PRECEDING) AS cum_tokens
    FROM per
)
SELECT source, n_tokens, CAST(rk AS BIGINT) AS rk,
       CAST(cum_tokens AS BIGINT) * 1.0
         / (SELECT SUM(n_tokens) FROM per) AS cum_share
FROM ranked
"""


@register("pipe_token_share_curve", oracle=_LORENZ_ORACLE)
def q_pipe_token_share_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-concentration (Lorenz) curve of the corpus: sources ranked
    by token volume with the cumulative share each rank covers — the
    chart a data-mix review reads to see that "top 3 sources are 40% of
    the tokens" before deciding rebalancing weights
    ([[pipe_domain_mixture]] is the knob this analysis turns).

    Scale: token counting stays array-side in the scan; the heavy pass
    is one partial+final hash agg to |sources| rows. The ranking window
    then runs UNPARTITIONED on the aggregated frame — |sources| is
    bounded by design (thousands at worst), so the single-task window
    is deliberate, not a hazard (same doctrine as
    [[pipe_corpus_mix_report]]'s global-share window). Cumulative sums
    are BIGINT; the share divides two exact integers.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).cast("bigint").alias("n_tokens")
    )
    w = Window.orderBy(F.col("n_tokens").desc(), "source")
    total = Window.partitionBy()
    return per.select(
        "source",
        "n_tokens",
        F.row_number().over(w).cast("bigint").alias("rk"),
        (
            F.sum("n_tokens")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("bigint")
            * 1.0
            / F.sum("n_tokens").over(total)
        ).alias("cum_share"),
    )


# --- token-rarity scoring (vocab-join quality signal) -------------------------

_RARITY_ORACLE = """
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
vocab AS (
    SELECT t, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY t
)
SELECT tok.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_toks,
       CAST(SUM(vocab.tf) AS BIGINT) AS sum_tf,
       CAST(SUM(vocab.tf) AS BIGINT) * 1.0 / COUNT(*) AS mean_tf
FROM tok JOIN vocab ON vocab.t = tok.t
GROUP BY tok.doc_id
"""


@register("pipe_token_rarity", oracle=_RARITY_ORACLE)
def q_pipe_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-rarity scoring: each document's mean corpus term frequency —
    the integer-exact stand-in for the KenLM/unigram-LM perplexity
    signal pretraining pipelines use to rank crawl text (low mean
    frequency = rare/unusual vocabulary, high = boilerplate). Two
    passes: build the corpus vocabulary with counts, then score every
    document against it through a token join.

    Scale: the vocab table is a hash agg over the token stream
    (map-side combined, |vocab| ≪ |tokens|); the scoring join shuffles
    on the token key — Zipf skew on stop-tokens is the classic hazard,
    and the mitigation is the same salting doctrine as
    [[agg_salted_hotkey]] or a broadcast of the head of the vocabulary.
    The score is Σtf/n — two exact BIGINTs and one division, so the
    hash can never drift (a log-probability variant would hit libm
    last-ulp differences cross-engine; rank/frequency statistics don't).
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("t"))
    vocab = tok.groupBy("t").agg(F.count(F.lit(1)).alias("tf"))
    return (
        tok.join(vocab, "t")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum("tf").alias("sum_tf"),
            (F.sum("tf") * 1.0 / F.count(F.lit(1))).alias("mean_tf"),
        )
    )


# --- PII scrubbing: regex redaction over mixed content ------------------------

# Java-regex / RE2 common subset ONLY (no lookaround, no backrefs): the
# same pattern strings must mean the same thing to Spark and DuckDB.
_PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_PHONE = r"\+1-555-[0-9]{4}"
_PII_IP = r"\b(10\.[0-9]{1,3}\.0\.[0-9]{1,3})\b"

# The corpus is synthetic word-soup with no planted PII, so the operator
# AUGMENTS each doc with deterministic contact strings (same SQL on both
# engines) and then scrubs them back out — redaction counts and the md5
# of the scrubbed body prove the regexes fired on real mixed content.
_PII_AUG_SPARK = (
    "concat(text, ' contact user', doc_id, '@mail', doc_id % 7, '.com or"
    " +1-555-', lpad(cast(doc_id % 10000 as string), 4, '0'),"
    " ' ip 10.', doc_id % 256, '.0.', (doc_id * 7) % 256)"
)

_PII_ORACLE = rf"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@mail' || (doc_id % 7)
              || '.com or +1-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' ip 10.' || (doc_id % 256) || '.0.' || ((doc_id * 7) % 256)
           AS body
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(body, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(body, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(body, '{_PII_IP}')) AS BIGINT) AS n_ips,
       md5(regexp_replace(regexp_replace(regexp_replace(body,
           '{_PII_EMAIL}', '<EMAIL>', 'g'),
           '{_PII_PHONE}', '<PHONE>', 'g'),
           '{_PII_IP}', '<IP>', 'g')) AS scrub_md5
FROM aug
"""


@register("pipe_pii_scrub", oracle=_PII_ORACLE)
def q_pipe_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction pass every pretraining corpus runs
    before tokenization: emails, phone numbers, and private-range IPs
    are replaced with typed placeholder tags, and per-doc redaction
    counts feed the pipeline's audit log. Patterns stay inside the
    Java-regex ∩ RE2 common subset so the oracle runs the literally
    identical expressions; the graded md5 of the scrubbed body proves
    byte-exact redaction, not just matching counts.

    Scale: a pure per-row projection — regexp_replace/extract_all are
    JVM codegen expressions, zero shuffle, no UDF; at 100 TB this is
    scan-bandwidth-bound and embarrassingly parallel, exactly like the
    quality filters it composes with.
    """
    d = load_table(spark, sf_dir, "documents").withColumn(
        "body", F.expr(_PII_AUG_SPARK)
    )
    scrub = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("body"), _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_IP,
        "<IP>",
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("body", F.lit(_PII_EMAIL), F.lit(0)))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("body", F.lit(_PII_PHONE), F.lit(0)))
        .cast("bigint")
        .alias("n_phones"),
        F.size(F.regexp_extract_all("body", F.lit(_PII_IP), F.lit(0)))
        .cast("bigint")
        .alias("n_ips"),
        F.md5(scrub).alias("scrub_md5"),
    )


# --- overlapped document chunking (pre-tokenizer windowing) ------------------

_CHUNK_SIZE = 32  # tokens per chunk
_CHUNK_STRIDE = 24  # overlap = size - stride = 8 tokens

_CHUNK_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
  WHERE text IS NOT NULL
),
n AS (
  SELECT doc_id, toks, len(toks) AS nt,
         greatest((len(toks) + {_CHUNK_STRIDE - _CHUNK_SIZE + _CHUNK_STRIDE - 1})
                  // {_CHUNK_STRIDE}, 1) AS n_chunks
  FROM t
),
c AS (
  SELECT doc_id, nt, unnest(range(0, n_chunks)) AS chunk_id, toks FROM n
)
SELECT doc_id, chunk_id,
       CAST(len(list_slice(toks, chunk_id * {_CHUNK_STRIDE} + 1,
                           chunk_id * {_CHUNK_STRIDE} + {_CHUNK_SIZE})) AS BIGINT)
         AS n_chunk_tokens,
       md5(array_to_string(list_slice(toks, chunk_id * {_CHUNK_STRIDE} + 1,
                                      chunk_id * {_CHUNK_STRIDE} + {_CHUNK_SIZE}),
                           ' ')) AS chunk_md5
FROM c
"""


@register("pipe_doc_chunk", oracle=_CHUNK_ORACLE)
def q_pipe_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapped document chunking — the pre-tokenizer windowing pass:
    each doc becomes ⌈(n−overlap)/stride⌉ chunks of ≤32 tokens with an
    8-token overlap, so every token lands in at least one chunk and
    context straddles chunk boundaries. Graded on per-chunk token
    counts and the md5 of each reassembled chunk (byte-exact windowing,
    both engines slice the same token array).

    Scale: sequence-explode per doc (fan-out = chunks per doc, bounded
    by doc length), then pure projections — no shuffle at all; chunk
    manifests at 100 TB are written straight from the map side. The
    chunk count uses integer ceiling arithmetic shared by both engines
    (no float division at the boundary).
    """
    size, stride = _CHUNK_SIZE, _CHUNK_STRIDE
    # a NULL document yields no chunks, enforced identically on both
    # engines (greatest(NULL, 1) otherwise diverges: Spark skips the
    # NULL and manufactures one phantom chunk; null_text fuzz corpus)
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    ).select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    n_chunks = F.greatest(
        F.expr(f"(size(toks) + {stride - size + stride - 1}) div {stride}"),
        F.lit(1),
    )
    c = d.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    chunk = F.slice(F.col("toks"), F.col("chunk_id") * stride + 1, size)
    return c.select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )


# --- blocklist filtering (term-level corpus hygiene) --------------------------

# Deterministic stand-in blocklist drawn from the corpus vocabulary so
# the pass is non-vacuous at every SF; a production list arrives as a
# side table and follows the identical broadcast shape.
_BLOCKLIST = ("spark", "error", "slow")

_BLOCKLIST_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
hits AS (
  SELECT doc_id,
         len(list_filter(toks,
             x -> list_contains({list(_BLOCKLIST)}, x))) AS n_blocked,
         len(toks) AS n_tokens
  FROM t
)
SELECT doc_id,
       CAST(n_blocked AS BIGINT) AS n_blocked,
       round(n_blocked * 1.0 / n_tokens, 6) AS blocked_ratio,
       n_blocked * 1.0 / n_tokens < 0.05 AS keep
FROM hits
"""


@register("pipe_blocklist_filter", oracle=_BLOCKLIST_ORACLE)
def q_pipe_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist filtering — the term-level hygiene pass (slurs,
    boilerplate markers, machine-generated tells) every corpus build
    runs: count blocked-term occurrences per doc, keep docs whose
    blocked-token ratio stays under 5%. The verdict and the ratio are
    both graded, so the filter's decision boundary is oracle-checked,
    not just its counts.

    Scale: the blocklist folds into the plan as an array literal here;
    a real multi-thousand-term list broadcasts as a side table (the
    contamination scan shows that shape) or compiles to one regex.
    Either way the pass is a zero-shuffle projection: per-doc token
    filter inside codegen, no UDF, no exchange — scan-bandwidth-bound
    like every other hygiene stage, which is what lets a 100 TB build
    run all of them in one pass over the data.
    """
    blocked = F.array(*[F.lit(w) for w in _BLOCKLIST])
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    n_blocked = F.size(
        F.filter(F.col("toks"), lambda x: F.array_contains(blocked, x))
    )
    ratio = n_blocked * F.lit(1.0) / F.size("toks")
    return d.select(
        "doc_id",
        n_blocked.cast("bigint").alias("n_blocked"),
        F.round(ratio, 6).alias("blocked_ratio"),
        (ratio < 0.05).alias("keep"),
    )


# --- n-gram novelty score ----------------------------------------------------

_NOVELTY_ORACLE = """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
ngr AS (
    SELECT DISTINCT doc_id,
           unnest(list_transform(generate_series(1, len(t) - 7),
                                 i -> array_to_string(t[i:i+7], ' '))) AS g
    FROM toks WHERE len(t) >= 8
),
freq AS (
    SELECT g, CAST(COUNT(*) AS BIGINT) AS doc_count FROM ngr GROUP BY g
)
SELECT n.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_ngrams,
       CAST(COUNT(*) FILTER (WHERE f.doc_count = 1) AS BIGINT) AS n_novel,
       round(CAST(COUNT(*) FILTER (WHERE f.doc_count = 1) AS DOUBLE)
             / COUNT(*), 6) AS novelty
FROM ngr n JOIN freq f ON n.g = f.g
GROUP BY n.doc_id
"""


@register("pipe_ngram_novelty", oracle=_NOVELTY_ORACLE)
def q_pipe_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document novelty: the share of a document's distinct
    8-grams that appear in NO other document — the memorization /
    template-diversity audit (low novelty → the doc is assembled from
    phrasing the corpus already contains; the inverse view of the
    contamination and near-dup screens).

    Scale: the n-gram frequency table is vocabulary-bounded and built
    with one partial-agg pass; the scoring join is keyed exactly on
    the gram. Same cost envelope as pipe_contamination_ngram, whose
    guarded n-gram expression this reuses (short docs yield empty
    arrays, never a negative-length sequence).
    """
    d = load_table(spark, sf_dir, "documents")
    ngr = (
        d.select("doc_id", F.split("text", " ").alias("toks"))
        .select(
            "doc_id",
            F.expr(_guarded_ngram_expr(8, tok_expr="toks")).alias("grams"),
        )
        .select("doc_id", F.explode("grams").alias("g"))
    )
    freq = ngr.groupBy("g").agg(F.count(F.lit(1)).alias("doc_count"))
    # grams are already distinct per doc (array_distinct in the helper),
    # so doc_count counts documents, matching the oracle's DISTINCT.
    return (
        ngr.join(freq, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.count(F.when(F.col("doc_count") == 1, 1)).alias("n_novel"),
            F.round(
                F.count(F.when(F.col("doc_count") == 1, 1)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("novelty"),
        )
    )


# --- secrets / credential scan -----------------------------------------------

# Pattern classes kept to regex constructs with identical semantics in
# Java regex (Spark) and RE2 (DuckDB): literal prefixes, character
# classes, bounded repetition. The synthetic corpus contains no real
# secrets, so the graded signal is the per-source hit accounting plus
# the planted-pattern check the oracle recomputes from the same text.
_SECRET_PATTERNS = {
    "aws_key": "AKIA[0-9A-Z]{16}",
    "hex40_token": "[0-9a-f]{40}",
    "long_base64ish": "[A-Za-z0-9+/]{32,}={0,2}",
}

_SECRETS_ORACLE = f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN regexp_matches(text, 'AKIA[0-9A-Z]{{16}}')
                THEN 1 ELSE 0 END) AS BIGINT) AS hits_aws_key,
       CAST(SUM(CASE WHEN regexp_matches(text, '[0-9a-f]{{40}}')
                THEN 1 ELSE 0 END) AS BIGINT) AS hits_hex40_token,
       CAST(SUM(CASE WHEN regexp_matches(text, '[A-Za-z0-9+/]{{32,}}={{0,2}}')
                THEN 1 ELSE 0 END) AS BIGINT) AS hits_long_base64ish,
       CAST(SUM(CASE WHEN regexp_matches(text, 'AKIA[0-9A-Z]{{16}}')
                  OR regexp_matches(text, '[0-9a-f]{{40}}')
                  OR regexp_matches(text, '[A-Za-z0-9+/]{{32,}}={{0,2}}')
                THEN 1 ELSE 0 END) AS BIGINT) AS docs_flagged
FROM documents GROUP BY source
"""


@register("pipe_secrets_scan", oracle=_SECRETS_ORACLE)
def q_pipe_secrets_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Credential/secret scan: per-source counts of documents matching
    each leak-pattern class (AWS-style key ids, 40-hex tokens,
    long base64 runs) — the redaction/drop gate a training corpus
    passes before anything else, complementing pipe_pii_scrub's
    formatted-PII pass.

    Scale: pure projection + bounded agg — each pattern is one
    rlike over the scan, all classes evaluated in the same pass, and
    the rollup key is the 20-value source. Pattern semantics restricted
    to the Java-regex ∩ RE2 subset so the oracle runs the exact same
    automaton class.
    """
    d = load_table(spark, sf_dir, "documents")
    hits = {k: F.col("text").rlike(p) for k, p in _SECRET_PATTERNS.items()}
    any_hit = hits["aws_key"] | hits["hex40_token"] | hits["long_base64ish"]
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.sum(F.when(c, 1).otherwise(0)).alias(f"hits_{k}")
            for k, c in hits.items()
        ],
        F.sum(F.when(any_hit, 1).otherwise(0)).alias("docs_flagged"),
    )


# --- deterministic epoch shuffle + contiguous sharding -----------------------

_SHUF_EPOCHS = 2
_SHUF_SHARDS = 8
_SHUF_MOD = 1_000_000_007


def _epoch_shuffle_oracle() -> str:
    per_epoch = " UNION ALL ".join(
        f"""
SELECT {e} AS epoch, doc_id, n_chars,
       ROW_NUMBER() OVER (
         ORDER BY md5('{e}:' || CAST(doc_id AS VARCHAR)), doc_id
       ) AS rn
FROM documents"""
        for e in range(_SHUF_EPOCHS)
    )
    return f"""
WITH ranked AS ({per_epoch}),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
sharded AS (
  SELECT epoch,
         CAST(((rn - 1) * {_SHUF_SHARDS}) // tot.n AS INT) AS shard,
         doc_id, n_chars, rn
  FROM ranked, tot
),
disp AS (
  SELECT round(AVG(ABS(a.rn - b.rn)), 6) AS mean_displacement
  FROM sharded a JOIN sharded b ON a.doc_id = b.doc_id
  WHERE a.epoch = 0 AND b.epoch = 1
)
SELECT epoch, shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM((rn * doc_id) % {_SHUF_MOD}) AS BIGINT) AS order_checksum,
       disp.mean_displacement
FROM sharded, disp
GROUP BY 1, 2, 6
"""


@register("pipe_epoch_shuffle", oracle=_epoch_shuffle_oracle())
def q_pipe_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffling + contiguous sharding — the
    data-loading primitive under every large-scale training run: each
    epoch e defines a total order by md5(e:doc_id) (reshufflable,
    reproducible, no RNG state), the order is split into {s} contiguous
    shards whose sizes differ by at most one BY CONSTRUCTION
    (shard = ((rn−1)·{s}) div n), and per (epoch, shard) the operator
    reports size, byte budget, and a modular position checksum that
    pins the exact within-shard order. `mean_displacement` — the mean
    |rank₀ − rank₁| across epochs, ≈ n/3 for independent permutations —
    proves successive epochs are genuinely re-shuffled, not rotated.

    Scale: the global rank per epoch is helpers.dist_row_number
    (range-repartition on the md5 sort key + per-slice rank + broadcast
    prefix offsets — the md5 key is uniform, so range slices are even
    by construction and the rank never funnels through one task; the
    oracle's single-node ROW_NUMBER is the same function). Checksums
    are per-term modular so they cannot overflow at corpus scale.
    """.format(s=_SHUF_SHARDS)
    from random_forest_using_hadoop_spark.helpers import dist_row_number

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    n_tot = d.count()

    def ranked_epoch(e: int) -> DataFrame:
        keyed = d.withColumn(
            "_k", F.md5(F.concat(F.lit(f"{e}:"), F.col("doc_id").cast("string")))
        )
        r, _ = dist_row_number(
            keyed, [F.col("_k"), F.col("doc_id")], out="rn"
        )
        return r.select(
            F.lit(e).alias("epoch"),
            "doc_id",
            "n_chars",
            "rn",
            F.expr(f"CAST(((rn - 1) * {_SHUF_SHARDS}) div {n_tot} AS INT)").alias(
                "shard"
            ),
        )

    sharded = ranked_epoch(0).unionByName(ranked_epoch(1))
    disp = (
        sharded.filter(F.col("epoch") == 0)
        .select("doc_id", F.col("rn").alias("r0"))
        .join(
            sharded.filter(F.col("epoch") == 1).select(
                "doc_id", F.col("rn").alias("r1")
            ),
            "doc_id",
        )
        .agg(
            F.round(F.avg(F.abs(F.col("r0") - F.col("r1"))), 6).alias(
                "mean_displacement"
            )
        )
    )
    return (
        sharded.groupBy("epoch", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.sum(F.expr(f"(rn * doc_id) % {_SHUF_MOD}"))
            .cast("bigint")
            .alias("order_checksum"),
        )
        .crossJoin(F.broadcast(disp))
    )


# --- tokenizer vocabulary coverage / OOV -------------------------------------

_VOCAB_K = 256

_VOCAB_COV_ORACLE = f"""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
),
freq AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM tok
  WHERE t <> '' GROUP BY t
),
vocab AS (
  SELECT t FROM freq ORDER BY c DESC, t LIMIT {_VOCAB_K}
),
cov AS (
  SELECT tok.source,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) FILTER (WHERE vocab.t IS NOT NULL) AS BIGINT)
             AS n_covered
  FROM tok LEFT JOIN vocab ON vocab.t = tok.t
  WHERE tok.t <> ''
  GROUP BY 1
)
SELECT source, n_tokens, n_covered,
       round(CAST(n_covered AS DOUBLE) / n_tokens, 6) AS coverage,
       round(1.0 - CAST(n_covered AS DOUBLE) / n_tokens, 6) AS oov_rate
FROM cov
"""


@register("pipe_vocab_coverage", oracle=_VOCAB_COV_ORACLE)
def q_pipe_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-design metric: induce a top-{k} vocabulary from global
    term frequencies (deterministic count-then-term tie-break) and
    report per-source token coverage and OOV rate — the number that
    decides whether a vocabulary budget fits a corpus slice before any
    tokenizer training run.

    Scale: token stream → hash-agg frequencies (map-side combine), a
    TakeOrderedAndProject for the top-{k} (never a global sort), and a
    BROADCAST left join of the ≤{k}-term vocab against the token
    stream — the probe never shuffles. Adding sources or corpus volume
    changes executor count, not plan shape.
    """.format(k=_VOCAB_K)
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("t")
    ).filter(F.col("t") != "")
    vocab = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "t")
        .limit(_VOCAB_K)
        .select("t", F.lit(True).alias("in_vocab"))
    )
    cov = (
        tok.join(F.broadcast(vocab), "t", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce("in_vocab", F.lit(False)).cast("bigint")).alias(
                "n_covered"
            ),
        )
    )
    ratio = F.col("n_covered").cast("double") / F.col("n_tokens")
    return cov.select(
        "source",
        "n_tokens",
        "n_covered",
        F.round(ratio, 6).alias("coverage"),
        F.round(1.0 - ratio, 6).alias("oov_rate"),
    )


# --- boilerplate stripping (r14) -----------------------------------------------

# Deterministic per-source decoration BOTH engines apply identically:
# the synthetic corpus has no natural boilerplate (random tokens never
# repeat at aligned positions), so the op decorates each document with
# the header a crawler actually sees — making the mechanism gradable
# while the math stays fully data-derived.
_BP_HEADER = (
    "copyright {src} all rights reserved terms privacy cookie notice"
)
_BP_CHUNK = 8          # aligned non-overlapping token chunks ("lines")
_BP_FRACTION = 0.5     # chunk is boilerplate at df >= max(2, 50% docs)

_BOILERPLATE_ORACLE = f"""
WITH decorated AS (
  SELECT doc_id, source,
         'copyright ' || source ||
         ' all rights reserved terms privacy cookie notice ' || text AS t
  FROM documents
),
w AS (SELECT doc_id, source, string_split(t, ' ') AS words FROM decorated),
c AS (
  SELECT doc_id, source,
         array_to_string(
           words[(i-1)*{_BP_CHUNK}+1:(i)*{_BP_CHUNK}], ' '
         ) AS chunk
  FROM (
    SELECT doc_id, source, words,
           unnest(range(1, CAST(ceil(len(words)/{_BP_CHUNK}.0) AS BIGINT) + 1))
               AS i
    FROM w
  )
),
df AS (SELECT source, chunk, COUNT(DISTINCT doc_id) AS dfreq
       FROM c GROUP BY 1, 2),
tot AS (SELECT source, COUNT(DISTINCT doc_id) AS ndocs FROM c GROUP BY 1),
flag AS (
  SELECT c.doc_id, c.source, c.chunk,
         (dfreq >= GREATEST(2.0, {_BP_FRACTION} * ndocs)) AS is_bp
  FROM c JOIN df USING (source, chunk) JOIN tot USING (source)
)
SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS chunks_total,
       CAST(SUM(CASE WHEN is_bp THEN 1 ELSE 0 END) AS BIGINT)
           AS chunks_removed,
       CAST(SUM(CASE WHEN is_bp THEN 0 ELSE length(chunk) END) AS BIGINT)
           AS chars_retained
FROM flag
GROUP BY source
"""


@register("pipe_boilerplate_strip", oracle=_BOILERPLATE_ORACLE)
def q_pipe_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOILERPLATE STRIPPING — the Common-Crawl-style cleanup every
    web-scale training corpus needs: a text unit that recurs across
    many documents of the SAME source (headers, footers, cookie
    banners, nav bars) is template, not content, and keeping it
    poisons dedup, quality scores, and the LM itself. Unit here =
    aligned non-overlapping 8-token chunks (this corpus is
    single-line; on real crawl text the unit is the line — the math is
    identical); a chunk is boilerplate when its per-source document
    frequency reaches max(2, 50% of the source's docs).

    The corpus is decorated with a deterministic per-source header
    (both engines apply the same expression) because random synthetic
    tokens never repeat at aligned positions — the header's first
    chunk must come out removed in EVERY doc, the mixed
    header/content chunk must survive, and a reader that mis-aligns
    chunking, computes df globally instead of per-source, or counts
    df per occurrence instead of per document fails on values.

    Scale (100 TB): explode to chunks (linear), df = one groupBy on
    (source, chunk), flagging = one equi-join back on the same key —
    all bucketed shuffles on bounded keys; no windows, no driver
    loops, no UDF. The chunk df table is the only intermediate and is
    itself a candidate for a frequency cutoff at extreme scale.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    decorated = docs.select(
        "doc_id",
        "source",
        F.concat(
            F.lit("copyright "),
            F.col("source"),
            F.lit(" all rights reserved terms privacy cookie notice "),
            F.col("text"),
        ).alias("t"),
    )
    words = decorated.select(
        "doc_id", "source", F.split("t", " ").alias("words")
    )
    chunks = words.select(
        "doc_id",
        "source",
        F.explode(
            F.sequence(
                F.lit(1),
                F.ceil(F.size("words") / F.lit(float(_BP_CHUNK))).cast("int"),
            )
        ).alias("i"),
        "words",
    ).select(
        "doc_id",
        "source",
        F.array_join(
            F.slice("words", (F.col("i") - 1) * _BP_CHUNK + 1, _BP_CHUNK),
            " ",
        ).alias("chunk"),
    )
    dfreq = chunks.groupBy("source", "chunk").agg(
        F.countDistinct("doc_id").alias("dfreq")
    )
    tot = chunks.groupBy("source").agg(
        F.countDistinct("doc_id").alias("ndocs")
    )
    flagged = (
        chunks.join(dfreq, ["source", "chunk"])
        .join(F.broadcast(tot), "source")
        .withColumn(
            "is_bp",
            F.col("dfreq")
            >= F.greatest(F.lit(2.0), F.lit(_BP_FRACTION) * F.col("ndocs")),
        )
    )
    return flagged.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("chunks_total"),
        F.sum(F.col("is_bp").cast("bigint")).alias("chunks_removed"),
        F.sum(
            F.when(F.col("is_bp"), F.lit(0)).otherwise(F.length("chunk"))
        ).cast("bigint").alias("chars_retained"),
    )


# --- DSIR-style importance weighting (r14) ---------------------------------------

# Data Selection via Importance Resampling (Xie et al., 2023,
# arXiv:2302.03169): weight each raw document by how much its hashed
# n-gram profile looks like the TARGET distribution vs the RAW
# distribution. The published method scores log p_target - log p_raw;
# floating logs are not bit-portable across engines, so this
# implementation grades the integer-exact linear variant — per-bucket
# scaled frequency DELTA (ppm_target - ppm_raw, integer floor
# division) summed over the document's token buckets. Ranking
# behavior is the same shape (target-like docs score high); the
# deviation is documented here and in the docstring.
_DSIR_BUCKETS = 256
_DSIR_TARGET_LANG = "en"
_DSIR_SCALE = 1_000_000  # parts-per-million, integer

_DSIR_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, lang, source,
         (('0x' || substr(md5(unnest(string_split(text, ' '))), 1, 15))::BIGINT
          % {_DSIR_BUCKETS}) AS b
  FROM documents
),
raw_f AS (SELECT b, COUNT(*) AS c FROM tok GROUP BY b),
raw_t AS (SELECT COUNT(*) AS n FROM tok),
tgt_f AS (SELECT b, COUNT(*) AS c FROM tok
          WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY b),
tgt_t AS (SELECT COUNT(*) AS n FROM tok WHERE lang = '{_DSIR_TARGET_LANG}'),
delta AS (
  -- GREATEST(n, 1): a corpus with no target-language docs must score
  -- every bucket at -ppm_raw, not divide by zero (mirrors the Spark
  -- side's tgt_n guard)
  SELECT raw_f.b,
         CAST(COALESCE(tgt_f.c, 0) * {_DSIR_SCALE}
              // GREATEST(tgt_t.n, 1) AS BIGINT)
         - CAST(raw_f.c * {_DSIR_SCALE} // raw_t.n AS BIGINT) AS d
  FROM raw_f
  LEFT JOIN tgt_f USING (b), raw_t, tgt_t
),
scored AS (
  SELECT tok.doc_id, tok.lang, SUM(delta.d) AS score
  FROM tok JOIN delta USING (b)
  GROUP BY tok.doc_id, tok.lang
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(score) AS BIGINT) AS score_sum,
       CAST(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_selected
FROM scored
GROUP BY lang
"""


@register("pipe_dsir_weights", oracle=_DSIR_ORACLE)
def q_pipe_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style DATA SELECTION — importance-weight every raw
    document toward a target domain (here: the `en` slice) from hashed
    unigram profiles, the technique behind quality-targeted pretraining
    mixes (Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling"). Per md5-hashed token bucket the weight
    contribution is the integer ppm-frequency DELTA between target and
    raw corpus (the published method uses log-ratios; integer deltas
    keep the score bit-portable across engines — same high-scores-
    target-like ranking shape, documented deviation). A document's
    score sums its buckets' deltas; docs with positive score lean
    target-like. Graded per lang: the target language must come out
    with the highest selection rate — a hash mismatch, a frequency
    table built on the wrong corpus, or a non-integer division breaks
    the value hash.

    Scale (100 TB): two bounded frequency tables (256 buckets — the
    hashed-feature trick is exactly what makes DSIR O(corpus) at
    scale), broadcast-joined back to the token stream; one groupBy per
    doc, one per lang. No UDF — the md5 bucket is a JVM expression.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    tok = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("bigint")
            % _DSIR_BUCKETS
        ).alias("b"),
    )
    raw_f = tok.groupBy("b").agg(F.count(F.lit(1)).alias("c_raw"))
    tgt_f = tok.filter(F.col("lang") == _DSIR_TARGET_LANG).groupBy("b").agg(
        F.count(F.lit(1)).alias("c_tgt")
    )
    raw_n = max(tok.count(), 1)
    # degenerate corpus: no target slice — every delta is -ppm_raw
    tgt_n = max(
        tok.filter(F.col("lang") == _DSIR_TARGET_LANG).count(), 1
    )
    delta = (
        raw_f.join(tgt_f, "b", "left")
        .select(
            "b",
            (
                # exact integer floor division (`div`), matching the
                # oracle's `//` — routing through F.floor(double /)
                # loses exactness past 2^53/SCALE bucket counts
                F.expr(
                    f"(coalesce(c_tgt, 0L) * {_DSIR_SCALE}L)"
                    f" div {tgt_n}L"
                )
                - F.expr(f"(c_raw * {_DSIR_SCALE}L) div {raw_n}L")
            ).alias("d"),
        )
    )
    scored = (
        tok.join(F.broadcast(delta), "b")
        .groupBy("doc_id", "lang")
        .agg(F.sum("d").alias("score"))
    )
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("score").cast("bigint").alias("score_sum"),
        F.sum((F.col("score") > 0).cast("bigint")).alias("n_selected"),
    )
