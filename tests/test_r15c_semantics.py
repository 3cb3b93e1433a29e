"""Round-15c semantics beyond generic oracle parity (sibling of
test_r5/r7/r8_semantics.py): the Spark-4 variable/collation surface,
ANOVA invariants, and the tokenizer-fertility / preference-pair
accounting identities."""

from __future__ import annotations

import random_forest_using_hadoop_spark as engine
from random_forest_using_hadoop_spark import iceberg_meta
from tests.conftest import SF_DIR, assert_parity

engine.load_all()


def _run(key, spark):
    return engine.REGISTRY[key].fn(spark, SF_DIR)


def _parity(key, spark, duck):
    assert_parity(_run(key, spark), engine.REGISTRY[key].oracle, duck)


def test_session_variables_parity_and_rerun(spark, duck):
    """Parity plus the scripting trap: DECLARE OR REPLACE must make the
    key idempotent within one session (a second run re-declares and
    re-assigns the same variable instead of failing)."""
    _parity("sql_session_variables", spark, duck)
    _parity("sql_session_variables", spark, duck)  # same session, again


def test_session_variable_value_is_the_mean_cents(spark, duck):
    """The emitted cut_cents column equals the oracle-side exact
    floor-division mean, pinning the SET VAR assignment itself."""
    row = _run("sql_session_variables", spark).limit(1).collect()[0]
    want = duck.execute(
        "SELECT CAST(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))"
        " AS BIGINT) // COUNT(*) FROM customer"
    ).fetchone()[0]
    assert row["cut_cents"] == want


def test_collation_collapses_variants(spark):
    """Every segment must show exactly 3 binary spellings (lower /
    Title / UPPER by custkey % 3) collapsing to 1 under UTF8_LCASE —
    the semantic payload of the collation key."""
    rows = _run("sql_string_collation", spark).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["n_binary_variants"] == 3, r
        assert r["n_ci_variants"] == 1, r
        if r["segment"] == "building":
            assert r["n_building_ci"] == r["n_rows"]
        else:
            assert r["n_building_ci"] == 0


def test_anova_decomposition_and_f_sign(spark):
    """SSB + SSW must reconstruct the total sum of squares computed
    independently (within fixed-point tolerance), and both components
    must be positive — the ANOVA identity, not just a hash."""
    from pyspark.sql import functions as F

    from random_forest_using_hadoop_spark.sources import load_table

    row = _run("agg_anova_oneway", spark).collect()[0]
    assert row["k"] == 5
    assert row["ss_between"] > 0 and row["ss_within"] > 0
    assert row["f_stat"] > 0
    o = load_table(spark, SF_DIR, "orders")
    y = F.col("o_totalprice") / 1000.0
    stats = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(y).alias("s"),
        F.sum(y * y).alias("q"),
    ).collect()[0]
    sst = stats["q"] - stats["s"] * stats["s"] / stats["n"]
    got = row["ss_between"] + row["ss_within"]
    # fixed-point quantization error is <= 0.5e-6 per row
    assert abs(got - sst) < 1e-6 * stats["n"] + 1e-3, (got, sst)


def test_fertility_english_anchor_is_unity(spark):
    """fertility_vs_en for 'en' itself must be exactly 1000 milli, and
    every language's toks_per_word must be >= 1000 (the BPE-ish regex
    never merges across whitespace, so tokens >= words)."""
    rows = {r["lang"]: r for r in _run("pipe_tokenizer_fertility", spark).collect()}
    assert rows["en"]["fertility_vs_en_milli"] == 1000
    for lang, r in rows.items():
        assert r["toks_per_word_milli"] >= 1000, (lang, r)
        assert r["bytes_per_tok_milli"] > 0


def test_hamming_binary_packing_and_recall_bounds(spark, duck):
    """Parity plus structure: packed words fit 32 bits, distances are
    bounded by 64 bits of disagreement, recall within [0, k]."""
    _parity("sim_hamming_binary", spark, duck)
    rows = _run("sim_hamming_binary", spark).collect()
    from random_forest_using_hadoop_spark.operators.sim_r15c import (
        _HB_NQ,
        _HB_TOPK,
    )

    assert len(rows) == _HB_NQ
    for r in rows:
        assert 0 <= r["n_recalled"] <= _HB_TOPK
        # top-k Hamming sum can never exceed k * 64 bits
        assert 0 <= r["sum_hamming"] <= _HB_TOPK * 64


def test_ivfpq_prunes_and_refine_recalls(spark, duck):
    """IVF must actually prune (candidates ≈ nprobe/kc of the corpus,
    never the whole corpus) and the exact-refined shortlist must beat
    chance: with 2/8 cells probed on a near-structureless corpus the
    per-query recall ceiling is the probed fraction, so the summed
    recall across the 5 queries is gated at >= 10/50 (measured 17)."""
    _parity("sim_ann_ivfpq", spark, duck)
    rows = _run("sim_ann_ivfpq", spark).collect()
    n_corpus = duck.execute("SELECT COUNT(*) FROM embeddings").fetchone()[0]
    from random_forest_using_hadoop_spark.operators.sim_r15c import (
        _IVF_KC,
        _IVF_NPROBE,
        _IVF_NQ,
    )

    assert len(rows) == _IVF_NQ
    expect = n_corpus * _IVF_NPROBE / _IVF_KC
    for r in rows:
        assert r["n_candidates"] < n_corpus * 0.6, "no pruning happened"
        assert 0.4 * expect < r["n_candidates"] < 1.6 * expect
    assert sum(r["n_recalled"] for r in rows) >= 10


def test_hudi_clean_reclaims_only_superseded_completed_slices(spark, duck):
    """After the clean key runs: the urgent group's c1 slice is gone,
    the inflight c3 poison file is untouched, and the .clean action is
    on the timeline — the two cleaner safety rules, pinned on disk."""
    import os

    from random_forest_using_hadoop_spark.operators.scans import _tmp

    _parity("sink_hudi_clean", spark, duck)
    root = _tmp(SF_DIR, "hudi_cow")
    names = {
        f
        for part in os.listdir(root)
        if part != ".hoodie" and os.path.isdir(os.path.join(root, part))
        for f in os.listdir(os.path.join(root, part))
    }
    assert "fg-1-URGENT_0-1-0_20240101000000.parquet" not in names
    assert "fg-1-URGENT_0-1-0_20240102000000.parquet" in names
    assert any("_20240103000000.parquet" in f for f in names), "poison gone"
    assert os.path.exists(
        os.path.join(root, ".hoodie", "20240104000000.clean")
    )


def test_hudi_clustering_replace_semantics(spark, duck):
    """The replace-aware resolver must serve ONE hot-partition file at
    latest but all 8 small groups below the replace instant, and the
    replaced files must still exist on disk (clustering never deletes;
    the cleaner does, later)."""
    import os

    from random_forest_using_hadoop_spark.operators.lake_r15c import (
        _N_SMALL,
        _snapshot_files_replace_aware,
    )
    from random_forest_using_hadoop_spark.operators.scans import _tmp

    _parity("sink_hudi_clustering", spark, duck)
    root = _tmp(SF_DIR, "hudi_cluster")
    urgent = "1-URGENT"
    latest = _snapshot_files_replace_aware(root)
    tt = _snapshot_files_replace_aware(root, as_of="20240101000000")
    assert sum(1 for f in latest if f"/{urgent}/" in f) == 1
    assert sum(1 for f in tt if f"/{urgent}/" in f) == _N_SMALL
    on_disk = os.listdir(os.path.join(root, urgent))
    assert sum(1 for f in on_disk if f.endswith(".parquet")) == _N_SMALL + 1


def test_rewrite_manifests_preserves_inheritance(spark, duck):
    """After the rewrite key runs, the current manifest list must name
    exactly one manifest whose entries are all EXISTING with original
    (seq, snapshot) stamps, while the previous snapshot's list still
    names all six — pinned on disk beyond the in-key gates."""
    import os

    from random_forest_using_hadoop_spark.iceberg_format import ocf_read
    from random_forest_using_hadoop_spark.iceberg_meta import EXISTING
    from random_forest_using_hadoop_spark.operators.iceberg_ext import (
        _iceberg_snapshot,
    )
    from random_forest_using_hadoop_spark.operators.lake_r15c import (
        _RWM_N,
        _RWM_SB,
    )
    from random_forest_using_hadoop_spark.operators.scans import _tmp

    _parity("sink_iceberg_rewrite_manifests", spark, duck)
    root = _tmp(SF_DIR, "iceberg_rwm")
    meta = iceberg_meta.load(root)
    assert len(meta["snapshots"]) == _RWM_N + 1
    assert meta["snapshots"][-1]["summary"]["operation"] == "replace"
    _, mlist, _ = ocf_read(_iceberg_snapshot(meta)["manifest-list"])
    assert len(mlist) == 1
    _, entries, _ = ocf_read(mlist[0]["manifest_path"])
    assert entries and all(e["status"] == EXISTING for e in entries)
    seqs = {e["sequence_number"] for e in entries}
    assert seqs == set(range(1, _RWM_N + 1)), seqs
    assert {e["snapshot_id"] for e in entries} == {
        _RWM_SB + i for i in range(_RWM_N)
    }
    prev = _iceberg_snapshot(meta, snapshot_id=_RWM_SB + _RWM_N - 1)
    assert os.path.exists(prev["manifest-list"])
    _, prev_list, _ = ocf_read(prev["manifest-list"])
    assert len(prev_list) == _RWM_N


def test_remove_orphans_age_cutoff_and_reachability(spark, duck):
    """Post-run disk state: both old orphans gone, the young
    unreferenced file retained, every reachable file (including files
    only DELETED entries name — time-travel history) still present."""
    import os

    from random_forest_using_hadoop_spark.operators.iceberg_ext import (
        _iceberg_reachable,
    )
    from random_forest_using_hadoop_spark.operators.scans import _tmp

    _parity("sink_iceberg_remove_orphans", spark, duck)
    root = _tmp(SF_DIR, "iceberg_orphan")
    meta = iceberg_meta.load(root)
    reach = _iceberg_reachable(
        meta, {s["snapshot-id"] for s in meta["snapshots"]}
    )
    missing = [p for p in reach if not os.path.exists(p)]
    assert not missing, f"reachable files deleted: {missing}"
    all_files = {
        os.path.join(d, f)
        for d, _, fs in os.walk(root)
        for f in fs
    }
    assert not any("orphan-aborted" in f for f in all_files)
    assert any("orphan-young-inflight" in f for f in all_files)


def test_perplexity_buckets_are_balanced_and_ordered(spark):
    """NTILE(3) balance (bucket sizes differ by ≤1 per language) and
    the defining order: head's max cross-entropy ≤ middle's min would
    be too strict at tie boundaries, but head.min ≤ middle.min ≤
    tail.min and head.max ≤ tail.max must hold."""
    rows = _run("pipe_perplexity_bucket", spark).collect()
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r["lang"], {})[r["bucket"]] = r
    for lang, b in by_lang.items():
        assert set(b) == {"head", "middle", "tail"}, (lang, b)
        sizes = [b[k]["n_docs"] for k in ("head", "middle", "tail")]
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
        assert (
            b["head"]["min_ce_milli"]
            <= b["middle"]["min_ce_milli"]
            <= b["tail"]["min_ce_milli"]
        )
        assert b["head"]["max_ce_milli"] <= b["tail"]["max_ce_milli"]


def test_epoch_plan_conserves_budget(spark):
    """Weights are an exact partition of (almost) 1e6 ppm (floor-
    division shortfall < n_sources) and planned tokens re-assemble to
    (almost) the 2x corpus budget; the smallest source must be
    upsampled past 1.0 epochs under alpha=0.5."""
    rows = _run("pipe_mixture_epoch_plan", spark).collect()
    total_ppm = sum(r["weight_ppm"] for r in rows)
    assert 1_000_000 - len(rows) < total_ppm <= 1_000_000
    tok_all = sum(r["n_tok"] for r in rows)
    planned = sum(r["planned_tok"] for r in rows)
    assert planned <= 2 * tok_all
    assert planned > 2 * tok_all - 2 * len(rows) - tok_all // 100
    smallest = min(rows, key=lambda r: r["n_tok"])
    biggest = max(rows, key=lambda r: r["n_tok"])
    assert smallest["epochs_milli"] > biggest["epochs_milli"]


def test_naive_bayes_beats_prior_only_baseline(spark):
    """The posterior must use the likelihood, not just the prior: a
    prior-only classifier predicts the majority class for every doc,
    so per-class accuracy would be 100% for 'en' and 0% elsewhere —
    the graded output must show at least one non-majority class with
    correct predictions AND overall accuracy at or above the majority
    share."""
    rows = _run("ml_naive_bayes_classifier", spark).collect()
    n = sum(r["n_docs"] for r in rows)
    correct = sum(r["n_correct"] for r in rows)
    majority = max(r["n_docs"] for r in rows)
    assert correct >= majority, "worse than predicting the majority class"
    non_major = [
        r for r in rows if r["n_docs"] != majority and r["n_correct"] > 0
    ]
    assert non_major, "prior-only behavior: likelihood term inert"
    assert 0 < correct <= n


def test_identity_column_high_water_mark_chain(spark, duck):
    """The committed log must carry a metaData per append whose
    highWaterMark advances by step x batch size, and the reject path
    must leave no third data commit."""
    import json
    import os

    from random_forest_using_hadoop_spark.operators.lake_r15c import (
        _ID_START,
        _ID_STEP,
        _identity_meta,
    )
    from random_forest_using_hadoop_spark.operators.scans import _tmp

    _parity("sink_delta_identity_column", spark, duck)
    log_dir = os.path.join(_tmp(SF_DIR, "delta_identity"), "_delta_log")
    commits = sorted(f for f in os.listdir(log_dir) if f.endswith(".json"))
    assert len(commits) == 3  # v0 create + two appends, no rejected third
    hwms = []
    for c in commits[1:]:
        for line in open(os.path.join(log_dir, c)):
            act = json.loads(line)
            if "metaData" in act:
                fields = json.loads(act["metaData"]["schemaString"])["fields"]
                hwms.append(
                    _identity_meta(fields)[1]["delta.identity.highWaterMark"]
                )
    assert len(hwms) == 2 and hwms[1] > hwms[0] >= _ID_START
    assert (hwms[1] - hwms[0]) % _ID_STEP == 0


def test_uniform_append_single_copy(spark, duck):
    """Both chains must reference the same physical files — count data
    parquet files on disk and compare with each chain's live set size
    (4 base + 5 append partition files at this SF would duplicate to
    2x under a copying writer)."""
    import os

    from random_forest_using_hadoop_spark.operators.iceberg_ext import (
        _iceberg_snapshot,
    )
    from random_forest_using_hadoop_spark.operators.scans import _tmp

    _parity("sink_lake_uniform_append", spark, duck)
    root = _tmp(SF_DIR, "lake_uniform_w")
    on_disk = sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(os.path.join(root, "data"))
        for f in fs
        if f.endswith(".parquet")
    )
    ice = sorted(
        d["path"]
        for d in iceberg_meta.plan(
            _iceberg_snapshot(iceberg_meta.load(root))
        )[0]
    )
    assert ice == on_disk


def test_named_parameters_match_inlined_literals(spark, duck):
    _parity("sql_named_parameters", spark, duck)


def test_gbt_and_kmeans_invariants(spark, duck):
    """The Tier-A extensions: every graded boolean must be True (the
    oracle pins TRUE, so a False fails parity too — this test makes
    the failure readable) and counts exact."""
    for key in ("ml_gbt_binary", "ml_kmeans_cluster"):
        _parity(key, spark, duck)
        row = _run(key, spark).collect()[0]
        for name, val in row.asDict().items():
            if isinstance(val, bool):
                assert val, (key, name)


def test_hudi_cdc_log_is_hidden_and_scoped(spark, duck):
    """The cdc log file must be dot-prefixed (invisible to plain Spark
    file sources, like MOR logs) and attached to the upsert instant;
    the base read of the table must NOT change when the cdc file is
    present (CDC is supplemental, never part of the snapshot)."""
    import os

    from random_forest_using_hadoop_spark.operators.scans import _tmp

    _parity("src_hudi_cdc", spark, duck)
    root = _tmp(SF_DIR, "hudi_cdc")
    urgent_dir = os.path.join(root, "1-URGENT")
    cdc = [f for f in os.listdir(urgent_dir) if "-cdc.log." in f]
    assert len(cdc) == 1 and cdc[0].startswith(".")
    assert "_20240102000000-cdc" in cdc[0]
    # supplemental: the snapshot file set contains no cdc entries
    from random_forest_using_hadoop_spark.operators.hudi import (
        _hudi_snapshot_files,
    )

    assert not any("-cdc" in f for f in _hudi_snapshot_files(root))


def test_phash_pairs_every_brightness_variant(spark, duck):
    """Every planted brightness-shifted image (doc_id % 17 == 0) must
    collide with its original — pair count == planted count, and no
    group exceeds size 2 at this SF (no accidental 3-way collision).
    Byte-level grouping could never find these: the payloads differ."""
    _parity("multimodal_phash_dedup", spark, duck)
    rows = {r["group_size"]: r for r in _run("multimodal_phash_dedup", spark).collect()}
    planted = duck.execute(
        "SELECT COUNT(*) FROM documents WHERE doc_id % 17 = 0"
    ).fetchone()[0]
    assert rows[2]["n_candidate_pairs"] == planted
    assert max(rows) == 2


def test_inverted_phrase_index_equals_scan(spark, duck):
    """Parity plus the defining identity: for every graded phrase the
    index answer equals the scan answer, occurrences >= doc count, and
    exactly top-3 phrases are served."""
    _parity("text_inverted_phrase", spark, duck)
    rows = _run("text_inverted_phrase", spark).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["n_docs_index"] == r["n_docs_scan"] > 0
        assert r["n_occurrences"] >= r["n_docs_index"]
        assert len(r["phrase"].split(" ")) == 3


def test_observe_metrics_ride_the_action(spark, duck):
    """The observed totals must equal the grouped result re-assembled
    (Σ n_rows == observed_rows) — the reconciliation identity the
    mechanism exists for."""
    _parity("scan_observe_metrics", spark, duck)
    rows = _run("scan_observe_metrics", spark).collect()
    assert sum(r["n_rows"] for r in rows) == rows[0]["observed_rows"]
    assert len({r["observed_cents"] for r in rows}) == 1


def test_dynamic_overwrite_preserves_cold_partitions(spark, duck):
    """After the key runs, the cold partitions' parquet files must
    still parse to the ORIGINAL prices (no +5) — file identity was
    gated in-key; this pins content."""
    import os

    from pyspark.sql import functions as F

    from random_forest_using_hadoop_spark.operators.scans import _tmp
    from random_forest_using_hadoop_spark.sources import load_table

    _parity("sink_dynamic_partition_overwrite", spark, duck)
    root = _tmp(SF_DIR, "dyn_overwrite")
    cold = spark.read.parquet(root).filter(
        F.col("o_orderpriority") == "5-LOW"
    )
    orig = load_table(spark, SF_DIR, "orders").filter(
        F.col("o_orderpriority") == "5-LOW"
    )
    got = cold.agg(F.sum(F.floor(F.col("o_totalprice") * 100))).first()[0]
    want = orig.agg(F.sum(F.floor(F.col("o_totalprice") * 100))).first()[0]
    assert got == want
    assert os.path.isdir(root)


def test_hudi_rollback_cleans_timeline_and_files(spark, duck):
    """Post-run disk state: no c3 markers or files, a .rollback action
    present, completed commits' files intact."""
    import os

    from random_forest_using_hadoop_spark.operators.scans import _tmp

    _parity("sink_hudi_rollback", spark, duck)
    root = _tmp(SF_DIR, "hudi_cow")
    hdir = os.path.join(root, ".hoodie")
    names = set(os.listdir(hdir))
    assert "20240104000000.rollback" in names
    assert not any(n.startswith("20240103000000.") for n in names)
    data = {
        f
        for part in os.listdir(root)
        if part != ".hoodie" and os.path.isdir(os.path.join(root, part))
        for f in os.listdir(os.path.join(root, part))
    }
    assert not any("_20240103000000.parquet" in f for f in data)
    assert any("_20240102000000.parquet" in f for f in data)


def test_partition_inference_restores_null_partition(spark, duck):
    """The graded frame must contain a NULL bucket row whose count
    equals the %7 subset — proving the sentinel directory round-trips
    to real NULLs."""
    _parity("scan_partition_inference", spark, duck)
    rows = {r["pd_bucket"]: r for r in _run("scan_partition_inference", spark).collect()}
    want_null = duck.execute(
        "SELECT COUNT(*) FROM orders WHERE o_orderkey % 7 = 0"
    ).fetchone()[0]
    assert None in rows and rows[None]["n_rows"] == want_null


def test_identifier_clause_matches_literals(spark, duck):
    _parity("sql_identifier_clause", spark, duck)


def test_cuped_preserves_pooled_mean(spark, duck):
    """CUPED's unbiasedness identity: the user-weighted pooled
    adjusted mean equals the pooled raw mean (the x-deviations are
    deviations FROM the pooled mean, so they cancel exactly)."""
    _parity("agg_cuped_adjustment", spark, duck)
    rows = _run("agg_cuped_adjustment", spark).collect()
    n = sum(r["n_users"] for r in rows)
    raw = sum(r["n_users"] * r["mean_y"] for r in rows) / n
    adj = sum(r["n_users"] * r["mean_y_cuped"] for r in rows) / n
    assert abs(raw - adj) < 1e-4 * max(1.0, abs(raw))


def test_ratio_delta_method_bounds(spark, duck):
    """SE must be positive and small relative to the ratio, and the
    ratio equals total spend / total orders recomputed independently."""
    _parity("agg_ratio_delta_method", spark, duck)
    for r in _run("agg_ratio_delta_method", spark).collect():
        assert r["se_delta"] > 0
        assert r["se_delta"] < r["ratio"]
        want = duck.execute(
            "SELECT round(SUM(CAST(floor(o_totalprice) AS BIGINT))"
            " / CAST(COUNT(*) AS DOUBLE), 6) FROM orders"
            f" WHERE o_custkey % 2 = {r['variant']}"
        ).fetchone()[0]
        assert abs(r["ratio"] - want) < 1e-6


def test_interval_coalesce_coverage_bounds(spark, duck):
    """Coverage can never exceed the raw interval-length sum (overlap
    only shrinks it) and never fall below the longest single interval;
    island counts are bounded by event counts."""
    _parity("agg_interval_coalesce", spark, duck)
    rows = _run("agg_interval_coalesce", spark).collect()
    raw = duck.execute(
        "SELECT user_id % 10, CAST(SUM(60 + floor(value * 60)) AS BIGINT),"
        " COUNT(*) FROM events GROUP BY user_id % 10"
    ).fetchall()
    raw_by_bucket = {int(b): (int(s), int(n)) for b, s, n in raw}
    for r in rows:
        s, n = raw_by_bucket[r["user_bucket"]]
        assert r["covered_seconds"] <= s
        assert 1 <= r["n_islands"] <= n


def test_mutual_information_nonneg_and_complete(spark, duck):
    """Plug-in MI is nonnegative up to quantization (each dim's sum of
    nano terms >= -n_cells, since each term errs by at most 0.5 nano)
    and every returned dim carries a full 2x10 cell table."""
    _parity("agg_mutual_information", spark, duck)
    rows = _run("agg_mutual_information", spark).collect()
    assert len(rows) == 10
    for r in rows:
        assert r["mi_nano"] >= -r["n_cells"]
        assert r["n_cells"] <= 20
    # descending order with pos tie-break
    ms = [(r["mi_nano"], -r["pos"]) for r in rows]
    assert ms == sorted(ms, reverse=True)


def test_pref_pairs_bounded_by_buckets(spark):
    """Per language, n_pairs <= min(64 buckets, floor(docs/1)) and the
    margin order min <= mean <= max holds; sum_margin consistency with
    the milli mean pins the floor division."""
    from random_forest_using_hadoop_spark.operators.analytics_r15c import (
        _PREF_NB,
    )

    rows = _run("pipe_pref_pair_margin", spark).collect()
    assert rows, "no languages produced pairs"
    for r in rows:
        assert 1 <= r["n_pairs"] <= _PREF_NB
        assert r["min_margin"] >= 0
        assert r["min_margin"] <= r["max_margin"]
        assert r["mean_margin_milli"] == r["sum_margin"] * 1000 // r["n_pairs"]
