"""Approximate nearest-neighbor search — the scale path past exact KNN.

The reference has no ANN index (SURVEY.md §0: no CREATE VECTOR INDEX
anywhere), so exact KNN (operators/knn.py) is the semantic default;
these are the opt-in engine patterns a 100 TB corpus needs. Both are
*materialized-index* designs: an index DataFrame is computed once
(one scan), persisted/bucketed by its key, and queries prune to a few
buckets instead of scanning the corpus.

* **LSH (random hyperplanes)** — sign bits of `dot(v, plane_j)` form a
  bucket key; a query searches only its own bucket. Write the indexed
  corpus bucketed/partitioned by `bucket` and a query becomes a
  partition-pruned scan of ~corpus/2^bits rows.
* **IVF (inverted file)** — corpus assigned to nearest of `n_cells`
  centroids; a query probes the `nprobe` nearest cells. Centroids here
  are seed-sampled (first `n_cells` vectors) for full determinism; a
  production build would run k-means (MLlib KMeans) and the search
  plan is unchanged.

Hyperplanes are generated from a fixed closed-form (sin-based) sequence
rounded to 6 dp, so the exact same literals are embeddable in oracle SQL.

Every single-query search here prunes to candidate rows, then hands
them to the one exact top-k (operators/knn.py:knn_topk); driver-side
probe choice over a bounded centroid list is :func:`_nearest_cells`.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from ..functions.vector import (_py_cosine_distance, cosine_distance, dot,
                                l2_norm, py_dot, vector_lit)
from .knn import knn_topk

DEFAULT_PLANES = 8


def lsh_planes(n_planes: int = DEFAULT_PLANES, dim: int = 64) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (closed form, 6-dp rounded
    — reproducible in SQL, independent of any RNG library)."""
    return [
        [round(math.sin(0.731 * (p * dim + i + 1)), 6) for i in range(dim)]
        for p in range(n_planes)
    ]


def lsh_bucket_expr(vec_col: str, planes: list[list[float]]) -> Column:
    """Sign-bit bucket key, e.g. 'b01101001'. The 'b' prefix keeps the
    key a *string* through Hive-partitioned round trips — bare bitstrings
    get type-inferred to integers (leading zeros dropped) when the index
    is written partitionBy(bucket)."""
    bits = [
        F.when(dot(F.col(vec_col), vector_lit(p)) >= 0, "1").otherwise("0")
        for p in planes
    ]
    return F.concat(F.lit("b"), *bits)


def py_lsh_bucket(vec: Sequence[float], planes: list[list[float]]) -> str:
    return "b" + "".join("1" if py_dot(vec, p) >= 0 else "0" for p in planes)


def build_lsh_index(corpus: DataFrame, vec_col: str = "embedding",
                    planes: list[list[float]] | None = None) -> DataFrame:
    """The materialized LSH index: corpus + bucket key. Persist with
    `.write.partitionBy('bucket')` so queries prune to one partition."""
    planes = planes or lsh_planes()
    return corpus.withColumn("bucket", lsh_bucket_expr(vec_col, planes))


def _exact_topk(cand: DataFrame, query_vec: Sequence[float], k: int,
                vec_col: str, id_col: str, *cols) -> DataFrame:
    """Exact top-k over the candidate rows a search pruned to, ties
    broken by id, distances rounded to 6 dp; ``cols`` ride along."""
    return (knn_topk(cand, query_vec, k, vec_col, tiebreak=id_col)
            .select(id_col, *cols,
                    F.round("distance_score", 6).alias("distance_score")))


def _nearest_cells(query_vec: Sequence[float], cells, nprobe: int) -> list:
    """Driver-side probe choice over a bounded list of ``(cid, centroid)``
    pairs: the ``nprobe`` cell ids nearest the query by (cosine distance,
    cid). A zero-norm side has no distance (NaN); it ranks last, as the
    oracles' NULLS LAST does."""
    def key(cell):
        d = _py_cosine_distance(cell[1], query_vec)
        return (math.isnan(d), 0.0 if math.isnan(d) else d, cell[0])
    return [cid for cid, _ in sorted(cells, key=key)[:nprobe]]


def _seed_centroids(corpus: DataFrame, vec_col: str, id_col: str,
                    n_cells: int) -> DataFrame:
    """Seed-sampled IVF centroids ``(cid, cvec)``: the ``n_cells``
    smallest-id vectors."""
    return (corpus.filter(F.col(id_col) < n_cells)
            .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")))


def lsh_search(index: DataFrame, query_vec: Sequence[float], k: int = 3,
               vec_col: str = "embedding", id_col: str = "vec_id",
               planes: list[list[float]] | None = None) -> DataFrame:
    """Search the query's bucket only (single-probe). The bucket equality
    filter is a plain predicate — pushed down to the partitioned index."""
    planes = planes or lsh_planes()
    cand = index.filter(F.col("bucket") == py_lsh_bucket(query_vec, planes))
    return _exact_topk(cand, query_vec, k, vec_col, id_col)


def materialize_lsh_index(corpus: DataFrame, path: str,
                          vec_col: str = "embedding",
                          planes: list[list[float]] | None = None) -> None:
    """Write the LSH index to parquet **partitioned by bucket** — the
    one-scan build step. Queries against the materialized index become
    partition-pruned reads of ~corpus/2^n_planes rows (PartitionFilters
    in the scan node, pinned by tests/test_plan_shape.py)."""
    (build_lsh_index(corpus, vec_col, planes)
     .write.mode("overwrite").partitionBy("bucket").parquet(path))


def lsh_search_materialized(spark, path: str, query_vec: Sequence[float],
                            k: int = 3, vec_col: str = "embedding",
                            id_col: str = "vec_id",
                            planes: list[list[float]] | None = None) -> DataFrame:
    """Single-probe search against a bucket-partitioned on-disk index:
    the bucket equality predicate prunes to one partition directory, so
    the scan reads 1/2^n_planes of the corpus without touching the rest."""
    return lsh_search(spark.read.parquet(path), query_vec, k, vec_col,
                      id_col, planes)


def materialize_ivf_index(corpus: DataFrame, path: str,
                          vec_col: str = "embedding", id_col: str = "vec_id",
                          n_cells: int = 16) -> None:
    """Write the IVF cell assignment to parquet **partitioned by cid**,
    plus the (tiny) centroid table under `_centroids` inside the index
    dir — underscore-prefixed, so index scans skip it. At query time
    `nprobe` cells are chosen driver-side from the centroids, so the
    candidate read is a statically partition-pruned scan of
    nprobe/n_cells of the data, with no dependence on the corpus."""
    import os
    (build_ivf_index(corpus, vec_col, id_col, n_cells)
     .write.mode("overwrite").partitionBy("cid").parquet(path))
    (_seed_centroids(corpus, vec_col, id_col, n_cells)
     .coalesce(1)
     .write.mode("overwrite").parquet(os.path.join(path, "_centroids")))


def ivf_search_materialized(spark, path: str,
                            query_vec: Sequence[float], k: int = 3,
                            vec_col: str = "embedding", id_col: str = "vec_id",
                            n_cells: int = 16, nprobe: int = 2) -> DataFrame:
    """Probe selection runs driver-side over the n_cells centroids (same
    float-op order as the SQL expression, so ordering ties break
    identically), then the cid `isin` filter prunes the partitioned index
    statically — no job touches the unprobed cells."""
    import os
    cents = spark.read.parquet(os.path.join(path, "_centroids")).collect()
    probes = _nearest_cells(query_vec, [(r.cid, r.cvec) for r in cents],
                            nprobe)
    cand = spark.read.parquet(path).filter(F.col("cid").isin(probes))
    # partition-column type inference reads cid back as int; restore
    # the builder's bigint so the result schema is stable
    return _exact_topk(cand, query_vec, k, vec_col, id_col,
                       F.col("cid").cast("bigint").alias("cid"))


def ivf_knn_join_materialized(spark, path: str, queries: DataFrame,
                              k: int = 3, vec_col: str = "embedding",
                              id_col: str = "vec_id", q_id: str = "qid",
                              q_vec: str = "qvec",
                              nprobe: int = 2) -> DataFrame:
    """Batch ANN — every query in `queries` (q_id, q_vec) probed through
    the cid-partitioned IVF index in ONE plan (the scale path past
    per-query driver loops and past exact sim_join when the query set is
    large).

    Plan shape: the n_cells-row centroid table broadcast-crossed with the
    query set picks `nprobe` cells per query (tiny window); the probe
    table (n_queries * nprobe rows) then *broadcast*-joins the index on
    cid — with the index partitioned by cid, only probed cells are read.
    Final per-query top-k is one window over candidate rows. No
    driver-side collect: probe selection is part of the distributed plan,
    unlike the single-query `ivf_search_materialized`.
    """
    import os
    cents = spark.read.parquet(os.path.join(path, "_centroids"))
    qc = (queries.crossJoin(F.broadcast(cents))
          .withColumn("cdist", cosine_distance(F.col(q_vec), F.col("cvec"))))
    wq = W.partitionBy(q_id).orderBy(F.col("cdist").asc(), F.col("cid").asc())
    probes = (qc.withColumn("prn", F.row_number().over(wq))
              .filter(F.col("prn") <= nprobe)
              .select(q_id, q_vec, "cid"))
    cand = spark.read.parquet(path).join(F.broadcast(probes), "cid")
    scored = cand.withColumn(
        "distance_score", cosine_distance(F.col(vec_col), F.col(q_vec)))
    wk = W.partitionBy(q_id).orderBy(F.col("distance_score").asc(),
                                     F.col(id_col).asc())
    return (scored.withColumn("rn", F.row_number().over(wk))
            .filter(F.col("rn") <= k)
            .select(q_id, id_col, F.col("cid").cast("bigint").alias("cid"),
                    F.round("distance_score", 6).alias("distance_score")))


def build_ivf_index(corpus: DataFrame, vec_col: str = "embedding",
                    id_col: str = "vec_id", n_cells: int = 16) -> DataFrame:
    """Assign every vector to its nearest centroid (deterministic argmin:
    distance then centroid id). Centroids = the `n_cells` smallest-id
    vectors — swap in k-means centroids for production quality."""
    cents = (_seed_centroids(corpus, vec_col, id_col, n_cells)
             .withColumn("cnorm", l2_norm("cvec")))
    scored = (corpus.withColumn("vnorm", l2_norm(vec_col))
              .crossJoin(F.broadcast(cents))
              .withColumn("cdist",
                          F.lit(1.0) - dot(F.col(vec_col), F.col("cvec"))
                          / (F.col("vnorm") * F.col("cnorm"))))
    w = W.partitionBy(id_col).orderBy(F.col("cdist").asc(), F.col("cid").asc())
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(id_col, vec_col, "cid"))


def ivf_search(corpus: DataFrame, query_vec: Sequence[float], k: int = 3,
               vec_col: str = "embedding", id_col: str = "vec_id",
               n_cells: int = 16, nprobe: int = 2) -> DataFrame:
    """Probe the `nprobe` centroids nearest the query; exact search within
    those cells. At scale the index is written partitioned by `cid`, so
    this reads nprobe/n_cells of the data."""
    index = build_ivf_index(corpus, vec_col, id_col, n_cells)
    probes = knn_topk(_seed_centroids(corpus, vec_col, id_col, n_cells),
                      query_vec, nprobe, "cvec", "qdist",
                      tiebreak="cid").select("cid")
    cand = index.join(F.broadcast(probes), "cid")
    return _exact_topk(cand, query_vec, k, vec_col, id_col, "cid")


def build_ivf_index_kmeans(corpus: DataFrame, vec_col: str = "embedding",
                           id_col: str = "vec_id", n_cells: int = 16,
                           seed: int = 7):
    """Production-quality IVF: MLlib KMeans centroids (fixed seed) instead
    of seed-sampled vectors. Returns (index_df, centroids); the index is
    written partitioned by `cid` exactly like the seed-sampled variant —
    only centroid quality changes, the search plan is identical."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = corpus.withColumn(
        "_fv", array_to_vector(F.col(vec_col).cast("array<double>")))
    model = KMeans(k=n_cells, seed=seed, featuresCol="_fv",
                   predictionCol="cid").fit(feat)
    idx = model.transform(feat).select(id_col, vec_col, "cid")
    centroids = [[float(x) for x in c] for c in model.clusterCenters()]
    return idx, centroids


def ivf_search_kmeans(index: DataFrame, centroids: list[list[float]],
                      query_vec: Sequence[float], k: int = 3,
                      vec_col: str = "embedding", id_col: str = "vec_id",
                      nprobe: int = 2) -> DataFrame:
    """Probe the `nprobe` nearest KMeans cells (driver-side argsort over
    n_cells centroids — tiny), exact-search inside them. Reads
    nprobe/n_cells of a cid-partitioned index."""
    probes = _nearest_cells(query_vec, enumerate(centroids), nprobe)
    cand = index.filter(F.col("cid").isin(probes))
    return _exact_topk(cand, query_vec, k, vec_col, id_col, "cid")
