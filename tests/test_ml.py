"""Tier A ML sanity (SURVEY.md §5.3.3): seeded determinism, accuracy
floor, split/bootstrap invariants, persistence roundtrip.

r2: every Tier A query now RETURNS its invariants as a graded
projection (exact SQL-derivable columns + booleans), so most tests
assert the booleans came back true — the SQL-oracle parity test
separately proves the exact columns match DuckDB.
"""

from __future__ import annotations

import os
from collections import Counter

import pytest

import random_forest_using_hadoop_spark as engine
from random_forest_using_hadoop_spark.ml import forest
from random_forest_using_hadoop_spark.sources import load_table
from tests.conftest import SF_DIR

engine.load_all()


@pytest.fixture(scope="module")
def reg():
    return engine.REGISTRY


def test_assemble_dims(spark, reg):
    rows = reg["ml_assemble"].fn(spark, SF_DIR).collect()
    assert all(r.n_features == 64 for r in rows)


def test_split_invariants(spark, reg):
    row = reg["ml_split"].fn(spark, SF_DIR).collect()[0]
    assert row.n_total == 500 and row.n_classes == 10
    assert row.split_exhaustive and row.train_frac_ok and row.all_classes_in_train


def test_bootstrap_invariants(spark, reg):
    row = reg["ml_bootstrap"].fn(spark, SF_DIR).collect()[0]
    assert row.n_rows == 500
    assert row.sampled_frac_ok and row.unique_frac_ok


def test_rf_train_summary(spark, reg):
    row = reg["ml_rf_train"].fn(spark, SF_DIR).collect()[0]
    assert row.num_trees == 20
    assert row.n_total == 500
    # labels are near-chance in this corpus (BASELINE: acc 0.115) — the
    # floor asserts "model votes sanely", not "model is good"
    assert row.forest_grew and row.acc_above_chance


def test_predict_and_eval_invariants(spark, reg):
    pred = reg["ml_rf_predict"].fn(spark, SF_DIR).collect()[0]
    assert pred.n_classes == 10
    assert pred.preds_in_domain and pred.votes_cover_test and pred.preds_integral
    ev = reg["ml_eval"].fn(spark, SF_DIR).collect()[0]
    assert ev.acc_in_01 and ev.f1_in_01 and ev.acc_above_chance


def test_regression_invariants(spark, reg):
    row = reg["ml_rf_reg"].fn(spark, SF_DIR).collect()[0]
    assert row.n_test_pos and row.rmse_finite and row.rmse_bounded


def test_determinism_same_seed(spark, reg):
    a = sorted(map(tuple, reg["ml_rf_predict"].fn(spark, SF_DIR).collect()))
    engine.ml.forest._CACHE.clear()
    b = sorted(map(tuple, reg["ml_rf_predict"].fn(spark, SF_DIR).collect()))
    assert a == b


def test_persistence_roundtrip_identical(spark, reg, monkeypatch):
    import tempfile

    made = []
    mkdtemp = tempfile.mkdtemp

    def recording_mkdtemp(*args, **kwargs):
        made.append(mkdtemp(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(tempfile, "mkdtemp", recording_mkdtemp)
    row = reg["ml_persist"].fn(spark, SF_DIR).collect()[0]
    assert row.n_mismatch == 0
    assert row.roundtrip_nonempty
    # saved under its own fresh dir, removed afterwards
    assert len(made) == 1 and not os.path.exists(made[0])


def test_importances_valid(spark, reg):
    row = reg["ml_importance"].fn(spark, SF_DIR).collect()[0]
    assert row.n_top == 10
    assert row.all_in_01 and row.total_le_1 and row.sorted_desc and row.idx_in_range


def test_python_metrics_match_mllib_evaluator(spark):
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator

    ev = MulticlassClassificationEvaluator(labelCol="label", predictionCol="prediction")
    art = forest._fitted(spark, SF_DIR)
    # plus a hand-made matrix where label 2 is never predicted and
    # prediction 3 is never a label (both precision branches)
    toy = [(0.0, 0.0)] * 5 + [(0.0, 1.0)] * 2 + [(1.0, 1.0)] * 3 + [(2.0, 0.0)] * 4
    toy += [(1.0, 3.0), (2.0, 3.0)]
    cases = [
        (art["conf"], art["pred"]),
        (Counter(toy), spark.createDataFrame(toy, "label double, prediction double")),
    ]
    for conf, pred in cases:
        acc = ev.setMetricName("accuracy").evaluate(pred)
        f1 = ev.setMetricName("weightedFMeasure").evaluate(pred)
        assert abs(forest._accuracy(conf) - acc) <= 1e-12
        assert abs(forest._weighted_f1(conf) - f1) <= 1e-12


def _partition_sizes(df):
    from pyspark.sql import functions as F

    return sorted(map(tuple, df.groupBy(F.spark_partition_id()).count().collect()))


def _tree_text(art) -> str:
    # the first line carries the model instance's random uid
    return art["model"].toDebugString.split("\n", 1)[1]


def test_fit_spreads_a_large_train_split(spark, tmp_path):
    """A one-row-group table of ≥ 2 × _ROWS_PER_TASK rows scans into one
    non-empty partition; the fit spreads its train split over the cores,
    and the spread model is the same on a refit."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    n, dim = 2 * forest._ROWS_PER_TASK + 500, 8
    rng = np.random.default_rng(7)
    labels = rng.integers(0, 10, n)
    vecs = rng.normal(0.0, 1.0, (10, dim))[labels] + rng.normal(0.0, 0.5, (n, dim))
    pq.write_table(
        pa.table(
            {
                "vec_id": np.arange(n, dtype=np.int64),
                "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    sf_dir = str(tmp_path)
    width = min(spark.sparkContext.defaultParallelism, n // forest._ROWS_PER_TASK)
    saved = dict(forest._CACHE)
    forest._CACHE.clear()
    fits = []
    try:
        fits.append(forest._fitted(spark, sf_dir))
        assert len(_partition_sizes(fits[0]["train"])) == width
        assert fits[0]["n_total"] == n
        assert sum(fits[0]["conf"].values()) == n - fits[0]["n_train"]
        forest._CACHE.clear()
        fits.append(forest._fitted(spark, sf_dir))
        assert _tree_text(fits[1]) == _tree_text(fits[0])
    finally:
        for art in fits:
            art["train"].unpersist(), art["pred"].unpersist()
        forest._CACHE.clear()
        forest._CACHE.update(saved)


def test_fit_keeps_the_scan_layout_below_the_spread_threshold(spark):
    """sf0.01 (500 rows) trains on randomSplit's own partitions, so its
    model is the one the accuracy floors were calibrated on."""
    art = forest._fitted(spark, SF_DIR)
    data = forest.assemble(load_table(spark, SF_DIR, "embeddings"))
    unspread = data.randomSplit([0.8, 0.2], seed=forest.SEED)[0]
    assert _partition_sizes(art["train"]) == _partition_sizes(unspread)
