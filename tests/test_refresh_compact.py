"""The composed nightly-refresh artifact (VERDICT r9 list #5):
operators/index_maintenance.py:refresh_and_compact_store — upsert the
delta, then compact retirements, against one id-range-partitioned
embedding store.

Contracts pinned here, on a CLUSTERED-delta synthetic fixture (the
registry key's %10 cohorts spread the delta over every partition, so
partition locality is only observable with a clustered one):

* ONLY delta rows embed — the store is seeded with marker vectors the
  embed function cannot produce ([id, -1.0] vs embed's [id, +7.0]);
  every carried row must still hold its marker after the refresh, in
  rewritten and untouched partitions alike;
* ONLY affected partitions rewrite — partitions with no delta and no
  retirement stay byte-for-byte identical (size + mtime);
* retirements execute — a fully-retired partition's directory is gone,
  new docs land in their (possibly brand-new) partition;
* the composition is idempotent — a second run reports zero work and
  changes no bytes.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tripgogo_vector_search_spark.operators.index_maintenance import (
    refresh_and_compact_store)

W = 64


def _file_state(path: str) -> dict[str, tuple[int, float]]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime)
    return out


def _embed(c):
    # deterministic, distinguishable from the seeded marker vectors:
    # text is str(doc_id), so embed(text) = [id, +7.0] vs the store's
    # [id, -1.0]
    return F.array(c.cast("double"), F.lit(7.0))


def test_refresh_and_compact_full_contract(spark, tmp_path):
    path = str(tmp_path / "store")
    # snapshot store: ids 0..299 (ranges 0..4), marker vectors
    (spark.range(300)
     .select(F.col("id").alias("doc_id"),
             F.concat(F.lit("fp_old_"), F.col("id")).alias("fp"),
             F.array(F.col("id").cast("double"), F.lit(-1.0)).alias("v"),
             F.floor(F.col("id") / W).alias("id_range"))
     .write.mode("overwrite").partitionBy("id_range").parquet(path))
    before = _file_state(path)
    # current corpus: ids 0..299 minus the retired [128, 191] batch
    # (range 2, fully), plus brand-new ids 320..329 (range 5);
    # fingerprints moved ONLY for ids 0..9 (range 0) — so the delta
    # touches exactly ranges {0, 5} and retirement exactly range {2}
    current = (spark.range(330)
               .filter(~F.col("id").between(128, 191)
                       & ~F.col("id").between(300, 319))
               .select(F.col("id").alias("doc_id"),
                       F.when(F.col("id") < 10,
                              F.concat(F.lit("fp_new_"), F.col("id")))
                       .when(F.col("id") >= 300,
                             F.concat(F.lit("fp_old_"), F.col("id")))
                       .otherwise(F.concat(F.lit("fp_old_"),
                                           F.col("id"))).alias("fp"),
                       F.col("id").cast("string").alias("text")))
    stats = refresh_and_compact_store(spark, path, current, _embed,
                                      range_width=W)
    assert stats == {"upserted_partitions": 2, "evicted_rows": 64,
                     "affected_partitions": 1, "removed_partitions": 1}
    after = _file_state(path)
    # untouched partitions (no delta, no retirement): byte-identical
    for rel, st in before.items():
        if rel.startswith(("id_range=1/", "id_range=3/", "id_range=4/")):
            assert after.get(rel) == st, rel
    # the fully-retired partition is gone; the new one exists
    assert not os.path.isdir(os.path.join(path, "id_range=2"))
    assert os.path.isdir(os.path.join(path, "id_range=5"))
    # final state: exactly the current ids; ONLY delta rows carry an
    # embed-produced vector, every carried row kept its marker
    rows = {r["doc_id"]: (r["v"][1], r["fp"]) for r in
            spark.read.parquet(path)
            .select("doc_id", "v", "fp").collect()}
    want_ids = ({i for i in range(300) if not 128 <= i <= 191}
                | set(range(320, 330)))
    assert set(rows) == want_ids
    for i, (tag, fp) in rows.items():
        if i < 10:
            assert tag == 7.0 and fp == f"fp_new_{i}", (i, tag, fp)
        elif i >= 320:
            assert tag == 7.0 and fp == f"fp_old_{i}", (i, tag, fp)
        else:  # carried — embed must never have touched it
            assert tag == -1.0 and fp == f"fp_old_{i}", (i, tag, fp)
    # idempotent: a second run reports zero work and moves no bytes
    state = _file_state(path)
    again = refresh_and_compact_store(spark, path, current, _embed,
                                      range_width=W)
    assert again == {"upserted_partitions": 0, "evicted_rows": 0,
                     "affected_partitions": 0, "removed_partitions": 0}
    assert _file_state(path) == state


def test_retired_row_in_an_upserted_partition_is_counted(spark, tmp_path):
    """A retired id whose partition ALSO receives a new doc: the upsert
    rewrites that partition from fresh + carried rows, which drops the
    retired row before compaction runs. It must still be evicted AND
    counted."""
    path = str(tmp_path / "store")
    # store: ids 0..127 except 60 (ranges 0, 1)
    (spark.range(128).filter(F.col("id") != 60)
     .select(F.col("id").alias("doc_id"),
             F.concat(F.lit("fp_"), F.col("id")).alias("fp"),
             F.array(F.col("id").cast("double"), F.lit(-1.0)).alias("v"),
             F.floor(F.col("id") / W).alias("id_range"))
     .write.mode("overwrite").partitionBy("id_range").parquet(path))
    before = _file_state(path)
    # current: id 5 retired, id 60 new — both in range 0
    current = (spark.range(128).filter(F.col("id") != 5)
               .select(F.col("id").alias("doc_id"),
                       F.concat(F.lit("fp_"), F.col("id")).alias("fp"),
                       F.col("id").cast("string").alias("text")))
    stats = refresh_and_compact_store(spark, path, current, _embed,
                                      range_width=W)
    # counted as evicted; range 0 was rewritten once, by the upsert,
    # so compaction affected no partition
    assert stats == {"upserted_partitions": 1, "evicted_rows": 1,
                     "affected_partitions": 0, "removed_partitions": 0}
    after = _file_state(path)
    for rel, st in before.items():
        if rel.startswith("id_range=1/"):
            assert after.get(rel) == st, rel
    ids = {r[0] for r in spark.read.parquet(path).select("doc_id")
           .collect()}
    assert ids == set(range(128)) - {5}


def test_refresh_and_compact_leaves_nothing_cached(spark, tmp_path):
    """Delta-based cache/block hygiene, matching the compaction test:
    the composed run must add neither cache entries nor stored RDD
    blocks (its two checkpoints are released explicitly)."""
    jcm = spark._jsparkSession.sharedState().cacheManager()
    jsc = spark.sparkContext._jsc.sc()

    def stored_ids():
        return {i.id() for i in jsc.getRDDStorageInfo()
                if i.numCachedPartitions() > 0}

    cached_before = jcm.isEmpty()
    blocks_before = stored_ids()
    path = str(tmp_path / "store")
    (spark.range(128)
     .select(F.col("id").alias("doc_id"),
             F.concat(F.lit("f"), F.col("id")).alias("fp"),
             F.array(F.col("id").cast("double")).alias("v"),
             F.floor(F.col("id") / W).alias("id_range"))
     .write.mode("overwrite").partitionBy("id_range").parquet(path))
    current = (spark.range(100)
               .select(F.col("id").alias("doc_id"),
                       F.concat(F.lit("f"), F.col("id")).alias("fp"),
                       F.col("id").cast("string").alias("text")))
    refresh_and_compact_store(
        spark, path, current,
        lambda c: F.array(c.cast("double")), range_width=W)
    assert jcm.isEmpty() == cached_before
    assert stored_ids() <= blocks_before


def test_refresh_and_compact_durable_checkpoint_mode(spark, tmp_path):
    """VERDICT r10 "What's wrong #4": `durable=True` swaps BOTH
    in-flight checkpoints (upsert rows, compaction survivors) for
    RELIABLE .checkpoint() files under the context's checkpoint dir,
    so a 100 TB nightly cycle survives executor loss instead of
    restarting. Pins: byte-identical store content vs local mode, no
    executor blocks left stored, every checkpoint's file set deleted
    once the write lands, and a loud error when no dir is configured.
    """
    import pytest

    sc = spark.sparkContext

    def seed(path):
        (spark.range(128)
         .select(F.col("id").alias("doc_id"),
                 F.concat(F.lit("fp_old_"), F.col("id")).alias("fp"),
                 F.array(F.col("id").cast("double"),
                         F.lit(-1.0)).alias("v"),
                 F.floor(F.col("id") / W).alias("id_range"))
         .write.mode("overwrite").partitionBy("id_range").parquet(path))

    # delta = moved fps for ids 0..9, new ids 140..149; retire 64..127
    current = (spark.range(150)
               .filter(~F.col("id").between(64, 127)
                       & ~F.col("id").between(128, 139))
               .select(F.col("id").alias("doc_id"),
                       F.when(F.col("id") < 10,
                              F.concat(F.lit("fp_new_"), F.col("id")))
                       .otherwise(F.concat(F.lit("fp_old_"),
                                           F.col("id"))).alias("fp"),
                       F.col("id").cast("string").alias("text")))
    p_local = str(tmp_path / "store_local")
    seed(p_local)
    want_stats = refresh_and_compact_store(spark, p_local, current,
                                           _embed, range_width=W)
    want = sorted(spark.read.parquet(p_local)
                  .select("doc_id", "fp", "v", "id_range").collect())

    p_dur = str(tmp_path / "store_durable")
    seed(p_dur)
    assert sc.getCheckpointDir() is None
    with pytest.raises(RuntimeError, match="setCheckpointDir"):
        refresh_and_compact_store(spark, p_dur, current, _embed,
                                  range_width=W, durable=True)

    jsc = sc._jsc.sc()

    def stored_ids():
        return {i.id() for i in jsc.getRDDStorageInfo()
                if i.numCachedPartitions() > 0}

    blocks_before = stored_ids()
    ckpt = str(tmp_path / "ckpt")
    sc.setCheckpointDir(ckpt)
    try:
        stats = refresh_and_compact_store(spark, p_dur, current,
                                          _embed, range_width=W,
                                          durable=True)
        assert stats == want_stats
        got = sorted(spark.read.parquet(p_dur)
                     .select("doc_id", "fp", "v", "id_range").collect())
        assert got == want
        # durable mode stores nothing on executors...
        assert stored_ids() <= blocks_before
        # ...and every checkpoint's file set was deleted through the
        # Hadoop FileSystem API as soon as its write landed
        leftover = [os.path.join(root, f)
                    for root, _dirs, files in os.walk(ckpt)
                    for f in files if f.startswith("part-")]
        assert leftover == []
    finally:
        try:
            getattr(sc._jsc.sc(), "checkpointDir_$eq")(
                spark._jvm.scala.Option.apply(None))
        except Exception:
            pass
