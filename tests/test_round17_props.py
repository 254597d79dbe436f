"""Round-17 optimization properties.

1. The quantile family's r17 materialization split (bounded targets +
   owning-cell histogram eagerly checkpointed once per run) is a PLAN
   change only: the scoped path returns exactly the tuples of the
   fully lazy r10 path, on the real fixture and on an adversarial
   frame (ties, point-mass groups, negative values, singletons).
2. The scoped checkpoint lifecycle (ADVICE r16 #1): a rebuild of the
   same scope releases the superseded build's blocks iff the previous
   result DataFrame is no longer referenced; a still-held result is
   never broken.
3. partitioning.shuffle_width falls back to defaultParallelism when
   ``spark.sql.shuffle.partitions`` is non-numeric (ADVICE r16 #2) or
   below 1.
"""

from __future__ import annotations

import gc

import pytest

from pyspark.sql import functions as F

from tripgogo_vector_search_spark import ckpt as CK
from tripgogo_vector_search_spark.operators.quantile import (
    grouped_order_statistics, quantiles_cont, quantiles_disc)
from tripgogo_vector_search_spark.partitioning import shuffle_width
from tripgogo_vector_search_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_scoped_selection_matches_lazy_path_fixture(spark):
    """Tuple-for-tuple equality of the scoped (materialized) and lazy
    quantile paths over the real fixture, cont and disc modes."""
    c = load_table(spark, SF, "customer")
    qs = [("q25", 0.25), ("q50", 0.5), ("q75", 0.75)]
    lazy = quantiles_disc(c, ["c_nationkey"], "c_acctbal", qs)
    scoped = quantiles_disc(c, ["c_nationkey"], "c_acctbal", qs,
                            ckpt_scope="t17-disc")
    assert _rows(lazy) == _rows(scoped)
    li = load_table(spark, SF, "lineitem")
    qc = [("p50", 0.5), ("p90", 0.9)]
    lazy_c = quantiles_cont(li, ["l_returnflag"], "l_extendedprice", qc,
                            round_to=6)
    scoped_c = quantiles_cont(li, ["l_returnflag"], "l_extendedprice", qc,
                              round_to=6, ckpt_scope="t17-cont")
    assert _rows(lazy_c) == _rows(scoped_c)


def test_scoped_selection_matches_lazy_path_adversarial(spark):
    """Same equality on a constructed frame: a point-mass group (all
    ties), a singleton group, negatives straddling zero, and a
    weighted histogram input."""
    rows = ([("pm", 7.0)] * 50
            + [("one", -3.25)]
            + [("mix", float(v)) for v in
               [-5, -1, 0, 0, 0, 1, 2, 2, 3, 1000000]])
    df = spark.createDataFrame(rows, "g string, v double")
    qs = [("q25", 0.25), ("med", 0.5), ("q90", 0.9)]
    lazy = grouped_order_statistics(df, ["g"], "v", qs, mode="disc")
    scoped = grouped_order_statistics(df, ["g"], "v", qs, mode="disc",
                                      ckpt_scope="t17-adv")
    assert _rows(lazy) == _rows(scoped)
    # weighted multiset: ranks over expanded multiplicities
    h = df.groupBy("g", "v").agg(F.count(F.lit(1)).alias("w"))
    lazy_w = grouped_order_statistics(h, ["g"], "v", qs, mode="disc",
                                      weight_col="w")
    scoped_w = grouped_order_statistics(h, ["g"], "v", qs, mode="disc",
                                        weight_col="w",
                                        ckpt_scope="t17-adv-w")
    assert _rows(lazy_w) == _rows(scoped_w)


def _persistent_ids(spark):
    it = spark.sparkContext._jsc.getPersistentRDDs().keySet().iterator()
    out = set()
    while it.hasNext():
        out.add(it.next())
    return out


def test_scoped_checkpoints_released_on_superseding_build(spark):
    """Rebuilding the same scope with the previous result dropped
    unpersists the previous build's checkpoint blocks; rebuilding
    while the previous result is still held leaves them resident."""
    df = spark.range(100).select(
        F.lit("g").alias("g"), F.col("id").cast("double").alias("v"))
    qs = [("med", 0.5)]

    def build():
        return CK.adopt("t17-life", grouped_order_statistics(
            df, ["g"], "v", qs, mode="disc", ckpt_scope="t17-life"))

    r1 = build()
    r1.collect()
    ids1 = set(CK._LIVE["t17-life"][0])
    assert ids1 and ids1 <= _persistent_ids(spark)
    # previous result still referenced -> rebuild must NOT release
    r2 = build()
    assert ids1 <= _persistent_ids(spark)
    ids2 = set(CK._LIVE["t17-life"][0])
    # drop both results -> next rebuild releases r2's blocks (r1's are
    # now untracked and left to the ContextCleaner, as documented)
    del r1, r2
    gc.collect()
    r3 = build()
    assert not (ids2 & _persistent_ids(spark))
    r3.collect()
    del r3
    gc.collect()


def test_quality_gate_checkpoint_released_on_rebuild(spark):
    """The registry key end-to-end: two bench-style reps of
    quality_gate leave only the LAST build's checkpoint blocks
    tracked; the superseded rep's blocks are gone without any GC of
    the JVM."""
    from tripgogo_vector_search_spark.plans.registry import QUERIES
    d1 = QUERIES["quality_gate"](spark, SF)
    d1.write.format("noop").mode("overwrite").save()
    ids1 = set(CK._LIVE["quality_gate"][0])
    assert ids1 and ids1 <= _persistent_ids(spark)
    del d1
    gc.collect()
    d2 = QUERIES["quality_gate"](spark, SF)
    assert not (ids1 & _persistent_ids(spark)), \
        "superseded quality_gate checkpoints still resident"
    d2.write.format("noop").mode("overwrite").save()


def test_shuffle_width_falls_back_on_non_numeric_conf(spark):
    """Open-source Spark rejects a non-numeric value at conf.set, so
    the platform case (e.g. "auto" under externally managed AQE) is
    modeled with a stub session exposing the same read surface."""
    assert shuffle_width(spark) == int(
        spark.conf.get("spark.sql.shuffle.partitions"))

    class _Conf:
        def __init__(self, value):
            self._v = value

        def get(self, key):
            assert key == "spark.sql.shuffle.partitions", key
            return self._v

    class _Stub:
        def __init__(self, value):
            self.conf = _Conf(value)
            self.sparkContext = spark.sparkContext

    # non-numeric and below-1 widths are invalid: fall back
    for bad in ("auto", "0", "-3"):
        assert shuffle_width(_Stub(bad)) == \
            spark.sparkContext.defaultParallelism, bad
    assert shuffle_width(_Stub("5")) == 5


@pytest.mark.parametrize("key", ["median_agg", "value_outlier_iqr"])
def test_family_keys_leave_no_cache(spark, key):
    """The materialization is a localCheckpoint, never a cache-manager
    entry: after a full action the session's cache manager is empty
    (the sweep-wide contract, pinned here for the re-planned keys)."""
    from tripgogo_vector_search_spark.plans.registry import QUERIES
    QUERIES[key](spark, SF).write.format("noop").mode("overwrite").save()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_state_partitions_resolve_from_conf(spark):
    """run_stream_to_table's state width resolves from
    spark.tripgogo.stream.statePartitions (VERDICT r16 #3: scale-
    dependent sizing must be conf-settable, not a baked-in literal),
    keeps the measured fixture default 8 when unset, and falls back
    rather than raises on a non-numeric or below-1 value (same policy
    as partitioning.shuffle_width)."""
    from tripgogo_vector_search_spark.streaming.ingest import (
        default_state_partitions)

    class _Conf:
        def __init__(self, value):
            self._v = value

        def get(self, key, default=None):
            # answers only for the key under test, like a real conf
            if key == "spark.tripgogo.stream.statePartitions" \
                    and self._v is not None:
                return self._v
            return default

    class _Spark:
        def __init__(self, value):
            self.conf = _Conf(value)

    assert default_state_partitions(_Spark(None)) == 8
    assert default_state_partitions(_Spark("24")) == 24
    assert default_state_partitions(_Spark("auto")) == 8
    assert default_state_partitions(_Spark("0")) == 8
    assert default_state_partitions(_Spark("-2")) == 8
    assert default_state_partitions(_Spark("1")) == 1
    assert default_state_partitions(spark) == 8  # real session, unset


def test_dispatch_audio_fields_equal_wav_kernel(spark):
    """ADVICE r16 #3: media_dispatch_stats(audio_fields=True) must
    report the SAME (sample_rate, n_samples) as the dedicated
    decode_wav_stats kernel over a hostile mixed corpus (every format,
    a valid-magic/garbage-body member per format, unroutable payloads),
    and NULL both fields on every non-WAV row — the direct parity the
    r16 test only covered via the gate's end-to-end oracle."""
    import random

    import pandas as pd
    from pyspark.sql import functions as F

    from tripgogo_vector_search_spark.operators import multimodal as M
    from tripgogo_vector_search_spark.operators.jpeg import (
        synth_jpeg_corpus)

    rng = random.Random(173)
    docs = spark.createDataFrame(
        [(i, "".join(chr(32 + rng.randrange(90))
                     for _ in range(rng.randrange(1, 120))))
         for i in range(8)] + [(8, None)],
        "doc_id bigint, text string")
    blobs = []
    for synth in (M.synth_png_corpus, M.synth_gif_corpus,
                  synth_jpeg_corpus, M.synth_bmp_corpus,
                  M.synth_wav_corpus):
        blobs.extend(bytes(r.content) if r.content is not None else None
                     for r in synth(docs).collect())
    blobs += [b"\x89PNG\r\n\x1a\n" + bytes(rng.randrange(256)
                                           for _ in range(40)),
              b"\xff\xd8\xff" + bytes(rng.randrange(256)
                                      for _ in range(40)),
              b"GIF89a" + bytes(rng.randrange(256) for _ in range(40)),
              b"BM" + bytes(rng.randrange(256) for _ in range(40)),
              b"RIFF" + bytes(rng.randrange(256) for _ in range(40)),
              b"not a media file", b"", None]
    media = spark.createDataFrame(
        pd.DataFrame({"media_id": list(range(len(blobs))),
                      "content": blobs}))
    got = {r.media_id: (r.kind, r.sample_rate, r.n_samples)
           for r in M.media_dispatch_stats(
               media, audio_fields=True).collect()}
    sn = media.select("media_id", "content",
                      M.sniff_media_kind(F.col("content")).alias("kind"))
    wav_ref = {r.media_id: (r.sample_rate, r.n_samples)
               for r in M.decode_wav_stats(
                   sn.filter(F.col("kind") == "audio/wav")
                   .select("media_id", "content")).collect()}
    n_wav = 0
    for mid, (kind, rate, frames) in got.items():
        if kind == "audio/wav":
            n_wav += 1
            assert (rate, frames) == wav_ref[mid]
        else:
            assert rate is None and frames is None
    assert n_wav == len(wav_ref) and n_wav >= 9  # corpus + hostile RIFF
    # the hostile RIFF member must be present and undecoded
    assert any(k == "audio/wav" and r is None
               for (k, r, _) in got.values())
