"""Vector-operator property tests (SURVEY.md §5.3): identity, symmetry,
normalized-dot equivalence, knn(k=n) == full sort, to_vector roundtrip.
One deterministic 200-vector batch, one Spark job per property."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from tripgogo_vector_search_spark.functions import vector as V
from tripgogo_vector_search_spark.operators.knn import knn_topk
from tripgogo_vector_search_spark.sources.tables import load_table
from tests.conftest import SF_CORRECTNESS

DIM = 16
N = 200


def _vecs():
    rng = random.Random(42)
    out = []
    for i in range(N):
        v = [rng.uniform(-1, 1) for _ in range(DIM)]
        out.append((i, v, [rng.uniform(-1, 1) for _ in range(DIM)]))
    return out


def _df(spark):
    return spark.createDataFrame(_vecs(), "id int, a array<double>, b array<double>")


def test_self_distance_zero_and_symmetry(spark):
    rows = (_df(spark).select(
        "id",
        V.cosine_distance("a", "a").alias("d_self"),
        V.cosine_distance("a", "b").alias("d_ab"),
        V.cosine_distance("b", "a").alias("d_ba"),
        V.euclidean_distance("a", "a").alias("e_self"))).collect()
    for r in rows:
        assert abs(r["d_self"]) < 1e-12
        assert abs(r["d_ab"] - r["d_ba"]) < 1e-12
        assert r["e_self"] == 0.0


def test_normalized_vectors_distance_equals_one_minus_dot(spark):
    rows = (_df(spark)
            .select(V.l2_normalize("a").alias("na"), V.l2_normalize("b").alias("nb"))
            .select(V.cosine_distance("na", "nb").alias("d"),
                    (F.lit(1.0) - V.dot("na", "nb")).alias("one_minus_dot"))
            ).collect()
    for r in rows:
        assert abs(r["d"] - r["one_minus_dot"]) < 1e-9


def test_l2_normalize_unit_norm_and_zero_null(spark):
    df = _df(spark).select(V.l2_norm(V.l2_normalize("a")).alias("n"))
    for r in df.collect():
        assert abs(r["n"] - 1.0) < 1e-12
    zero = spark.createDataFrame([([0.0] * DIM,)], "z array<double>")
    out = zero.select(V.l2_normalize("z").alias("nz")).first()
    assert all(x is None for x in out["nz"])


def test_knn_k_equals_n_is_full_sort(spark):
    emb = load_table(spark, SF_CORRECTNESS, "embeddings")
    n = emb.count()
    q = [math.sin(0.1 * (i + 1)) for i in range(64)]
    full = knn_topk(emb, q, k=n, tiebreak="vec_id").select("vec_id").collect()
    srt = (emb.withColumn("d", V.cosine_distance("embedding", V.vector_lit(q)))
           .orderBy(F.col("d").asc(), F.col("vec_id").asc())
           .select("vec_id").collect())
    assert [r.vec_id for r in full] == [r.vec_id for r in srt]


def test_driver_cosine_equals_engine_fold_bitwise(spark):
    """The one driver-side cosine (the IVF probe choice) and the
    constant-query distance knn_topk uses are the engine's fold, double
    for double: against `cosine_distance` on random pairs and on the
    fixture's seed centroids vs the flagship query; and on a zero-norm
    side, NaN where the engines' try_divide form is NULL (the plain
    column form raises under ANSI, so it cannot rank one)."""
    import numpy as np

    from tripgogo_vector_search_spark.operators.knn import with_distance
    from tripgogo_vector_search_spark.operators.simjoin import (
        _fold_distances)
    from tripgogo_vector_search_spark.plans.flagship import QUERY_VEC

    rows = _df(spark).filter(F.col("id") < 40).select(
        "id", V.cosine_distance("a", "b").alias("d")).collect()
    got = {r["id"]: r["d"] for r in rows}
    for i, a, b in _vecs()[:40]:
        assert V._py_cosine_distance(a, b) == got[i], i
        assert V._py_cosine_distance(b, a) == got[i], i

    emb = load_table(spark, SF_CORRECTNESS, "embeddings").filter(
        F.col("vec_id") < 16)
    rows = (with_distance(emb, QUERY_VEC, dist_col="hoisted")
            .select("embedding", "hoisted",
                    V.cosine_distance("embedding", V.vector_lit(QUERY_VEC))
                    .alias("col")).collect())
    assert len(rows) == 16
    for r in rows:
        assert r["hoisted"] == r["col"]
        assert V._py_cosine_distance(r["embedding"], QUERY_VEC) == r["col"]

    zero = [0.0] * DIM
    a = _vecs()[0][1]
    z = spark.createDataFrame([(zero, a), (a, zero), (zero, zero)],
                              "a array<double>, b array<double>")
    engine = z.select((F.lit(1.0) - F.try_divide(
        V.dot("a", "b"), V.l2_norm("a") * V.l2_norm("b"))).alias("d"))
    assert [r["d"] for r in engine.collect()] == [None, None, None]
    for u, v in ((zero, a), (a, zero), (zero, zero)):
        assert math.isnan(V._py_cosine_distance(u, v))
        assert np.isnan(_fold_distances(np.array([u]), np.array([v]))[0, 0])


def test_to_vector_roundtrip_and_dim_check(spark):
    df = spark.createDataFrame(
        [("[1.5, -2.0, 3.25]",), ("[]",), ("[1.0,2.0]",)], "s string")
    out = df.select(V.to_vector("s").alias("v"),
                    V.to_vector("s", dim=3).alias("v3")).collect()
    assert out[0]["v"] == [1.5, -2.0, 3.25] and out[0]["v3"] == [1.5, -2.0, 3.25]
    assert out[1]["v"] == [] and out[1]["v3"] is None
    assert out[2]["v"] == [1.0, 2.0] and out[2]["v3"] is None


def test_match_score_contract(spark):
    df = spark.createDataFrame([(0.0,), (0.123456,), (2.0,)], "d double")
    rows = df.select(V.match_score("d").alias("m")).collect()
    assert [r["m"] for r in rows] == [100.0, 87.65, -100.0]


def test_gemm_and_broadcast_simjoin_agree(spark):
    """Two independent physical strategies, one semantics: the BLAS
    GEMM path (round-before-argmin, partition-local top-k) and the
    broadcast+codegen-expression path must emit the SAME neighbor sets,
    ranks, and 6-dp distances on random vectors — the strategy-level
    analogue of the oracle gate, and the guard that the r5
    round-before-top-k change is semantics-preserving.

    The two strategies CAN legitimately diverge when two distances tie
    only at 6 dp (GEMM breaks the rounded tie by id, broadcast ranks
    raw — why sim_join_gemm carries its own rounded-ORDER-BY oracle);
    this test's fixed seed produces no such near-tie, so exact
    equality is the correct expectation here."""
    from tripgogo_vector_search_spark.operators.simjoin import (
        similarity_join, similarity_join_gemm)
    df = (_df(spark).select(F.col("id").cast("long").alias("vec_id"),
                            F.col("a").alias("embedding")))
    q = df.filter(F.col("vec_id") % 7 == 0)
    want = {tuple(r) for r in similarity_join(df, q, k=3).collect()}
    got = {tuple(r) for r in similarity_join_gemm(df, q, k=3).collect()}
    assert got == want
    assert len(got) == 3 * ((N - 1) // 7 + 1)
    # degenerate edges: k > corpus (both emit n-1 rows per query) and a
    # single-row corpus with exclude_self (zero rows, no crash)
    tiny = df.limit(3)
    a = {tuple(r) for r in similarity_join(tiny, tiny, k=5).collect()}
    b = {tuple(r) for r in similarity_join_gemm(tiny, tiny, k=5).collect()}
    assert a == b and len(b) == 6
    one = df.limit(1)
    assert similarity_join_gemm(one, one, k=3).count() == 0


def test_simjoin_zero_norm_vector_ranks_last_both_paths(spark):
    """A zero-norm corpus vector yields a NaN cosine distance (0/0).
    The broadcast path's try_divide turns it into NULL JVM-side (ANSI
    mode would otherwise abort the job on the 0 divisor); on the GEMM
    path the numpy NaN crosses pandas->Arrow as NULL, which plain
    .asc() would rank FIRST — the r5/r6 latent bug. With nulls_last
    windows, both paths must rank every real neighbor above the
    degenerate row, agree with each other exactly, and emit NULL —
    exactly what the DuckDB oracle computes for x/0 and where its
    default NULLS LAST puts it."""
    from tripgogo_vector_search_spark.operators.simjoin import (
        similarity_join, similarity_join_gemm)
    base = _vecs()[:4]
    rows = [(i, v) for i, v, _ in base] + [(99, [0.0] * DIM)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") == 0)
    # k covers the whole corpus, so the zero-norm row MUST appear — at
    # the bottom, with a NaN distance.
    want = similarity_join(df, q, k=10).orderBy("rank").collect()
    got = similarity_join_gemm(df, q, k=10).orderBy("rank").collect()
    assert len(want) == 4 and len(got) == 4
    assert [r["neighbor_id"] for r in want] == [r["neighbor_id"] for r in got]
    assert want[-1]["neighbor_id"] == 99 and got[-1]["neighbor_id"] == 99
    for r in (want[-1], got[-1]):
        assert r["distance_score"] is None
    real_w = [(r["neighbor_id"], r["rank"], r["distance_score"])
              for r in want[:-1]]
    real_g = [(r["neighbor_id"], r["rank"], r["distance_score"])
              for r in got[:-1]]
    assert real_w == real_g
    # k smaller than the real-neighbor count: the zero-norm row must
    # not displace anyone on either path.
    top_w = {r["neighbor_id"] for r in similarity_join(df, q, k=3).collect()}
    top_g = {r["neighbor_id"]
             for r in similarity_join_gemm(df, q, k=3).collect()}
    assert 99 not in top_w and 99 not in top_g and top_w == top_g


def test_knn_label_accuracy_matches_numpy_bruteforce(spark):
    """Third implementation: exact numpy leave-one-out 1-NN over the
    sf fixture — same capped eval set (per-label md5 rank), cosine by
    direct vectorized math rounded to 6 dp like the engine, argmin with
    (distance, vec_id) tie-break. Independent of both Spark and the
    DuckDB oracle."""
    import collections
    import hashlib

    import numpy as np
    import pyarrow.parquet as pq

    from tripgogo_vector_search_spark.plans.registry import (
        KNN_EVAL_PER_LABEL, QUERIES)

    t = pq.read_table(f"{SF_CORRECTNESS}/embeddings.parquet",
                      columns=["vec_id", "label", "embedding"])
    ids = np.array(t.column(0).to_pylist(), dtype=np.int64)
    labels = t.column(1).to_pylist()
    X = np.array(t.column(2).to_pylist(), dtype=np.float64)
    # capped eval set: first N per label by (md5(str(id)), id)
    by_label = collections.defaultdict(list)
    for i, (vid, lbl) in enumerate(zip(ids, labels)):
        by_label[lbl].append(
            (hashlib.md5(str(vid).encode()).hexdigest(), vid, i))
    eval_idx = [i for lbl in by_label
                for _, _, i in sorted(by_label[lbl])[:KNN_EVAL_PER_LABEL]]
    norms = np.sqrt((X * X).sum(axis=1))
    hits = collections.Counter()
    tot = collections.Counter()
    for i in eval_idx:
        d = np.round(1.0 - (X @ X[i]) / (norms * norms[i]), 6)
        order = np.lexsort((ids, d))
        nb = order[0] if ids[order[0]] != ids[i] else order[1]
        tot[labels[i]] += 1
        hits[labels[i]] += labels[nb] == labels[i]
    got = {r.label: (r.n_vecs, r.n_correct, r.knn_accuracy)
           for r in QUERIES["knn_label_accuracy"](
               spark, SF_CORRECTNESS).collect()}
    assert set(got) == set(tot)
    for lbl in tot:
        want = (tot[lbl], hits[lbl], round(hits[lbl] / tot[lbl], 6))
        assert got[lbl] == want, (lbl, got[lbl], want)


def test_approx_count_distinct_within_tolerance(spark):
    """Sketch aggregates are the 100 TB path for distinct counts (HLL++:
    fixed memory, one pass, mergeable across partitions). Exactness is
    oracle-gated elsewhere (count_distinct); here pin the sketch's error
    envelope vs exact."""
    o = load_table(spark, SF_CORRECTNESS, "orders")
    exact = o.select(F.countDistinct("o_custkey")).first()[0]
    approx = o.select(F.approx_count_distinct("o_custkey", rsd=0.02)).first()[0]
    assert abs(approx - exact) / exact < 0.05, (exact, approx)
