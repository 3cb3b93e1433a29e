"""Local clone of the driver's t2 gate: every registered SQL-oracle
query runs on Spark and DuckDB at sf0.01 and must match on column
names, row count, and (order-insensitive) values."""

from __future__ import annotations

import glob
import os
import tempfile

import pytest

import random_forest_using_hadoop_spark as engine
from tests.conftest import SF_DIR, assert_parity

engine.load_all()

SQL_KEYS = sorted(k for k, s in engine.REGISTRY.items() if s.oracle)
ROWS_ONLY_KEYS = sorted(k for k, s in engine.REGISTRY.items() if not s.oracle)


def _stream_checkpoints() -> set[str]:
    return set(
        glob.glob(os.path.join(tempfile.gettempdir(), "*_stream_ckpt_*"))
    )


@pytest.mark.parametrize("key", SQL_KEYS)
def test_sql_oracle_parity(key, spark, duck):
    spec = engine.REGISTRY[key]
    before = _stream_checkpoints()
    assert_parity(spec.fn(spark, SF_DIR), spec.oracle, duck)
    # a streaming key removes its checkpoint dir, even on failure
    assert _stream_checkpoints() <= before, "stream checkpoint dir left"


@pytest.mark.parametrize("key", ROWS_ONLY_KEYS)
def test_rows_only_runs(key, spark):
    """Rows-only ops must at least execute and return a stable schema."""
    spec = engine.REGISTRY[key]
    df = spec.fn(spark, SF_DIR)
    assert df.columns
    df.limit(5).collect()


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_cache_hygiene_releases_everything(spark):
    """After the full parity sweep above, release_caches() must leave
    ZERO persistent RDDs — the long-lived caches the sweep accumulates
    (simhash `sh`, CC `edges`, ML split, iterative checkpoints) are all
    engine-owned and must all be releasable."""
    engine.release_caches(spark)
    n = engine.cached_block_count(spark)
    assert n == 0, f"{n} persistent RDDs survived release_caches()"


def test_session_memos_are_lru_bounded(spark):
    """r8 verdict task 6: the engine's session memos must evict (and
    unpersist) beyond their keep-last-2 bound, so a driver session
    sweeping many corpus dirs cannot accumulate one cached frame per
    dir."""
    from random_forest_using_hadoop_spark.ml import forest
    from random_forest_using_hadoop_spark.operators import dedup_lsh

    # generic memo helper: third insert evicts the first entry AND its
    # pinned frame, unpersisting both
    memo: dict = {}
    pins: dict = {}
    frames = []
    for i in range(3):
        f = spark.range(10 + i).cache()
        p = spark.range(100 + i).cache()
        f.count(), p.count()
        frames.append((f, p))
        dedup_lsh._memo_insert(memo, pins, f"dir{i}", f, pins=(p,))
    assert len(memo) == dedup_lsh._MEMO_KEEP == 2
    assert "dir0" not in memo and "dir0" not in pins
    assert not frames[0][0].storageLevel.useMemory, "evicted memo entry still cached"
    assert not frames[0][1].storageLevel.useMemory, "evicted pin still cached"
    assert frames[2][0].storageLevel.useMemory, "live memo entry lost its cache"

    # true LRU, not FIFO (r9 advice): a hit refreshes recency, so after
    # touching dir1 an insert of dir3 must evict dir2, not the
    # just-used dir1
    assert dedup_lsh._memo_touch(memo, pins, "dir1") is frames[1][0]
    f3 = spark.range(13).cache()
    f3.count()
    dedup_lsh._memo_insert(memo, pins, "dir3", f3)
    assert "dir1" in memo, "hit entry evicted — memo is FIFO, not LRU"
    assert "dir2" not in memo and "dir2" not in pins
    assert not frames[2][0].storageLevel.useMemory, "LRU-evicted entry still cached"
    assert dedup_lsh._memo_touch(memo, pins, "missing") is None
    f3.unpersist()
    for f, p in frames[1:]:
        f.unpersist(), p.unpersist()

    # ML artifact cache: same bound, evicting train/pred storage
    saved = dict(forest._CACHE)
    forest._CACHE.clear()
    try:
        arts = []
        for i in range(3):
            t = spark.range(20 + i).cache()
            pr = spark.range(200 + i).cache()
            t.count(), pr.count()
            arts.append({"train": t, "test": None, "model": None, "pred": pr})
            forest._cache_insert(f"dir{i}", arts[-1])
        assert len(forest._CACHE) == forest._CACHE_KEEP == 2
        assert "dir0" not in forest._CACHE
        assert not arts[0]["train"].storageLevel.useMemory
        assert not arts[0]["pred"].storageLevel.useMemory
        for a in arts[1:]:
            a["train"].unpersist(), a["pred"].unpersist()
    finally:
        forest._CACHE.clear()
        forest._CACHE.update(saved)


def test_memo_eviction_uses_evicted_entrys_flag(spark):
    """r10 ADVICE: eviction must free an entry according to ITS OWN
    storage kind, not the flag of the entry being inserted — a mixed
    memo (cached + localCheckpointed entries) would otherwise unpersist
    a checkpoint as a cache (leaking its blocks) or vice versa."""
    from random_forest_using_hadoop_spark import cached_block_count
    from random_forest_using_hadoop_spark.operators import dedup_lsh

    memo: dict = {}
    pins: dict = {}
    # A: plain cached; B: localCheckpoint-backed (non-recomputable)
    a = spark.range(11).cache()
    a.count()
    b = spark.range(12).localCheckpoint(eager=True)
    dedup_lsh._memo_insert(memo, pins, "a", a, checkpointed=False)
    dedup_lsh._memo_insert(memo, pins, "b", b, checkpointed=True)
    # inserting a CHECKPOINTED entry evicts cached A → A must be cache-
    # unpersisted even though the inserter's flag says checkpointed
    c = spark.range(13).localCheckpoint(eager=True)
    dedup_lsh._memo_insert(memo, pins, "c", c, checkpointed=True)
    assert "a" not in memo
    assert not a.storageLevel.useMemory, (
        "cached entry evicted via the inserter's checkpointed flag — "
        "its InMemoryRelation leaked"
    )
    # inserting a CACHED entry evicts checkpointed B → B's checkpoint
    # blocks must be freed even though the inserter's flag says cached
    d = spark.range(14).cache()
    d.count()
    before = cached_block_count(spark)  # counts b-ckpt, c-ckpt, d-cache
    dedup_lsh._memo_insert(memo, pins, "d", d, checkpointed=False)
    assert "b" not in memo
    assert cached_block_count(spark) < before, (
        "checkpointed entry evicted via the inserter's cached flag — "
        "its localCheckpoint blocks leaked"
    )
    d.unpersist()
    dedup_lsh._free_local_checkpoint(c)


def test_transient_bitmap_pins_bounded(spark):
    """r10 ADVICE: unmemoized _bitmap_encode callers must not
    accumulate one vocab-rank InMemoryRelation per invocation until
    release_caches — _pin_transient bounds them to the last
    _TRANSIENT_KEEP, unpersisting the evicted pin (safe: the rank
    recomputes through the same lineage, see helpers.dist_row_number)."""
    from random_forest_using_hadoop_spark.operators import dedup_lsh

    saved = list(dedup_lsh._TRANSIENT_PINS)
    dedup_lsh._TRANSIENT_PINS.clear()
    try:
        pins = []
        for i in range(3):
            pin = spark.range(5 + i).cache()
            pin.count()
            carrier = spark.range(1)
            carrier._rn_pin = pin
            dedup_lsh._pin_transient(carrier)
            pins.append(pin)
        assert len(dedup_lsh._TRANSIENT_PINS) == dedup_lsh._TRANSIENT_KEEP
        assert not pins[0].storageLevel.useMemory, "oldest pin not freed"
        assert pins[1].storageLevel.useMemory
        assert pins[2].storageLevel.useMemory
        dedup_lsh._pin_transient(spark.range(1))  # pin-less: no-op
        assert len(dedup_lsh._TRANSIENT_PINS) == dedup_lsh._TRANSIENT_KEEP
    finally:
        for p in dedup_lsh._TRANSIENT_PINS:
            try:
                p.unpersist()
            except Exception:
                pass
        dedup_lsh._TRANSIENT_PINS.clear()
        dedup_lsh._TRANSIENT_PINS.extend(saved)
