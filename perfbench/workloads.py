"""The three benchmark workloads.

Each is a closed loop with one client: the next operation starts when the
previous one has returned.  ``run.py`` drives a workload through:

``generate``       make the inputs from the seed (cached; never timed as
                   set-up);
``program_setup``  the program-side set-up repeated with every session
                   start (hotel_search ingests the 40 hotels);
``load``           the workload's one-off bulk step, run untimed once and
                   then timed a few times (``load_s``): the hotel ingest,
                   the IVF index build or the bulk ingest;
``warmup``         untimed operations so the JIT and the Python workers are
                   warm (before ``load`` where ``warm_before_load``);
``cycle``          one iteration of the timed loop.

Every operation's answer is checked against an independent reference
right after it returns, outside the timed region.
"""

from __future__ import annotations

import os
import time

import numpy as np

import checks
import gen


def median(xs) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    n = len(xs)
    return xs[n // 2] if n % 2 else 0.5 * (xs[n // 2 - 1] + xs[n // 2])


def percentile(xs, p: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[min(len(xs) - 1, max(0, int(np.ceil(p / 100.0 * len(xs))) - 1))]


SIZES = {
    "full": {
        "hotel_search": {"per_city": 20, "phrasings": 50, "requests": 5000,
                         "cycle_requests": 5, "warmup_requests": 40,
                         "ingest_repeats": 9, "cycle_s": 1.2},
        "corpus_search": {"n": 6_000, "dim": 384, "clusters": 32,
                          "n_cells": 8, "nprobe": 2, "k": 10,
                          "batch": 100, "queries": 2_000,
                          "exact_per_cycle": 2, "warmup_exact": 6,
                          "build_repeats": 3, "cycle_s": 2.7},
        "corpus_refresh": {"docs": 6_000, "base": 2_000, "range_width": 256,
                           "new": 300, "changed": 300, "retired": 300,
                           "queries_per_cycle": 2, "k": 10, "warmup_cycles": 2,
                           "ingest_repeats": 3, "cycle_s": 3.1},
    },
    # a seconds-scale smoke of the same code paths (tests only)
    "tiny": {
        "hotel_search": {"per_city": 20, "phrasings": 12, "requests": 200,
                         "cycle_requests": 3, "warmup_requests": 2,
                         "ingest_repeats": 2, "cycle_s": 1.0},
        "corpus_search": {"n": 600, "dim": 16, "clusters": 6, "n_cells": 4,
                          "nprobe": 2, "k": 10, "batch": 8, "queries": 200,
                          "exact_per_cycle": 1, "warmup_exact": 1,
                          "build_repeats": 2, "cycle_s": 1.0},
        "corpus_refresh": {"docs": 600, "base": 100, "range_width": 64,
                           "new": 20, "changed": 20, "retired": 20,
                           "queries_per_cycle": 1, "k": 10, "warmup_cycles": 1,
                           "ingest_repeats": 2, "cycle_s": 1.0},
    },
}


# An operation during which the hypervisor ran other guests on this
# host's cpus for more than this share of the operation's cpu capacity
# measured the neighbours, not the program: it is kept out of the latency
# medians (and counted in the run record).
STEAL_MAX = 0.05
CPUS = len(os.sched_getaffinity(0))


def steal_s() -> float:
    """Seconds of cpu time stolen from this guest so far (all cpus)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class Workload:
    name = ""
    request_kind = ""          # the online query whose p50 is reported
    warm_before_load = False   # warm-up needs what load() builds

    def __init__(self, chk: checks.Checker, seed: int, sizes: dict,
                 cache_dir: str, run_dir: str):
        self.chk = chk
        self.seed = seed
        self.sz = sizes
        self.cache_dir = cache_dir
        self.run_dir = run_dir
        self.spark = None
        self.tracer = None
        self.lat: dict[str, list[tuple[float, bool]]] = {}   # (s, clean)
        self.cycles: list[tuple[float, bool]] = []
        self.busy = 0.0
        self.stolen = 0.0   # cpu seconds stolen during timed operations
        self.load_s = 0.0
        self.load_reps: list[tuple[float, bool]] = []   # (s, clean)
        self.counters: dict[str, list[tuple[bool, float]]] = {}

    # -- helpers ---------------------------------------------------------
    def timed(self, kind: str, fn, check) -> None:
        """Run one operation as a root span, record its latency, then
        check its answer (untimed)."""
        with self.chk.operation():
            with self.tracer.op(kind):
                s0 = steal_s()
                t0 = time.perf_counter()
                out = fn()
                dt = time.perf_counter() - t0
                stolen = steal_s() - s0
            self.lat.setdefault(kind, []).append(
                (dt, stolen <= STEAL_MAX * CPUS * dt))
            self.busy += dt
            self.stolen += stolen
            check(out)

    def timed_repeats(self, kind: str, fn, n: int) -> float:
        """Median time of a one-off bulk step run ``n`` more times after a
        first, untimed run that warms it (each run redoes the last),
        leaving out the runs the hypervisor stole from unless all were."""
        phase, self.tracer.phase = self.tracer.phase, "warmup"
        with self.tracer.op(kind):
            fn()
        self.tracer.phase = phase
        both = []
        for _ in range(n):
            with self.tracer.op(kind):
                s0 = steal_s()
                t0 = time.perf_counter()
                fn()
                dt = time.perf_counter() - t0
                both.append((dt, steal_s() - s0 <= STEAL_MAX * CPUS * dt))
        self.load_reps = both
        clean = [dt for dt, ok in both if ok]
        return median(clean or [dt for dt, _ in both])

    def latencies(self, kind: str, min_clean: int = 3) -> list[float]:
        """The operation kind's latencies without stolen operations, or
        all of them when fewer than ``min_clean`` are clean."""
        both = self.lat.get(kind, [])
        clean = [dt for dt, ok in both if ok]
        return clean if len(clean) >= min_clean else [dt for dt, _ in both]

    def count(self, name: str, value: float) -> None:
        """Record a per-operation count, tagged with whether the operation
        ran traced (a traced run alternates traced and untraced cycles)."""
        self.counters.setdefault(name, []).append((self.tracer.enabled, value))

    def counted(self, name: str, traced_only: bool = False) -> list[float]:
        return [v for t, v in self.counters.get(name, []) if t or not traced_only]

    def run_cycle(self, i: int) -> None:
        t0, s0 = self.busy, self.stolen
        self.cycle(i)
        dt = self.busy - t0
        # a cycle is stolen by the same rule as an operation, over its
        # operations together: one brief steal does not drop a long cycle
        self.cycles.append((dt, self.stolen - s0 <= STEAL_MAX * CPUS * dt))

    def clean_cycles(self) -> int:
        return sum(ok for _, ok in self.cycles)

    def cycle_times(self, min_clean: int = 2) -> list[float]:
        """Cycle times without stolen cycles, or all of them when fewer
        than ``min_clean`` are clean."""
        clean = [dt for dt, ok in self.cycles if ok]
        return clean if len(clean) >= min_clean else [dt for dt, _ in self.cycles]

    def reset_measurements(self) -> None:
        self.lat, self.cycles, self.counters = {}, [], {}
        self.busy = self.stolen = 0.0

    # -- subclass interface ----------------------------------------------
    def generate(self) -> None: ...
    def program_setup(self) -> None: ...
    def load(self) -> float: ...
    def cycle(self, i: int) -> None: ...

    def warmup(self) -> None:
        """Untimed pass before the loop: one cycle by default."""
        self.cycle(-1)

    def warmup_after_load(self) -> None:
        """Untimed pass over what load() built, when warm-up ran first."""

    def has_more(self) -> bool: return True
    def details(self) -> dict: return {}


# ==================================================================== hotels

HOTEL_COLS = ("name", "city", "price_usd", "rating", "distance_score",
              "match_score")


class HotelSearch(Workload):
    """The paper's app at the paper's size: 40 hotels, free-text queries
    Zipf-repeated over a few dozen phrasings, k in [1, 10]."""
    name = "hotel_search"
    request_kind = "request"

    def generate(self):
        self.requests = gen.hotel_requests(self.seed, self.sz["requests"],
                                           self.sz["phrasings"])
        self.next_req = 0

    def ingest(self):
        from tripgogo_vector_search_spark.plans.ingest import ingest_hotels
        from tripgogo_vector_search_spark.sources.hotels_fixture import (
            write_hotels_csv)
        with self.tracer.span("plans.ingest.ingest_hotels"):
            csv_path = write_hotels_csv(
                os.path.join(self.run_dir, "hotels.csv"),
                per_city=self.sz["per_city"])
            ingest_hotels(self.spark, csv_path,
                          os.path.join(self.run_dir, "hotels.parquet"))

    def program_setup(self):
        self.ingest()

    # the ingest is timed again once the warm-up has warmed the JIT: a
    # 40-row ingest is short, so its cold-JVM time mostly measures the JIT
    warm_before_load = True

    def load(self):
        return self.timed_repeats("ingest", self.ingest,
                                  n=self.sz["ingest_repeats"])

    def _reference(self):
        if getattr(self, "_ref", None) is None:
            from tripgogo_vector_search_spark.functions.embed import (
                hash_embed_py)
            from tripgogo_vector_search_spark.sources.hotels_fixture import (
                hotels_rows)
            rows = hotels_rows(self.sz["per_city"])
            names = np.array([r["name"] for r in rows])
            # ingest stores array<float>: round-trip through float32
            m = np.array([hash_embed_py(f"{r['addr_text']} {r['city']}")
                          for r in rows], dtype=np.float32).astype(np.float64)
            self._ref = (names, m, checks.fold_norms(m))
        return self._ref

    def request(self, text: str, k: int) -> None:
        from tripgogo_vector_search_spark.functions.embed import hash_embed_py
        from tripgogo_vector_search_spark.operators.knn import (
            knn_topk, with_match_score)
        from tripgogo_vector_search_spark.plans.rag import (
            rag_summarize, stub_transport)
        from tripgogo_vector_search_spark.sources.tables import load_table
        tr, payloads = self.tracer, []

        def transport(payload):
            payloads.append(payload)
            return stub_transport(payload)

        def op():
            with tr.span("functions.embed.hash_embed_py"):
                qv = hash_embed_py(text)
            with tr.span("sources.load_table"):
                hotels = load_table(self.spark, self.run_dir, "hotels")
            with tr.span("operators.knn.knn_topk"):
                top = with_match_score(knn_topk(
                    hotels, qv, k, vec_col="addr_vec", tiebreak="name")
                ).select(*HOTEL_COLS)
            with tr.span("plans.rag.rag_summarize"):
                return qv, rag_summarize(top, text, transport=transport)

        self.timed("request", op,
                   lambda out: self.check(text, k, *out, payloads))

    def check(self, text, k, qv, summary, payloads):
        from tripgogo_vector_search_spark.plans.rag import (
            extract_text, stub_transport)
        names, m, norms = self._reference()
        want_ids, want_d = checks.topk(
            names, checks.fold_distances(m, norms, np.array(qv)), k)
        what = f"hotel request {text!r} k={k}"
        if not self.chk.record(len(payloads) == 1, f"{what}: no LLM call"):
            return
        prompt = payloads[0]["contents"][0]["parts"][0]["text"]
        lines = [ln for ln in prompt.split("\n") if ln.startswith("| ")][2:]
        rows = [ln[2:-2].split(" | ") for ln in lines]
        got_ids = [r[0] for r in rows]
        got_d = [float(r[4]) for r in rows]
        checks.check_topk(self.chk, what, got_ids, got_d, want_ids, want_d)
        checks.check_match_scores(self.chk, what, got_d,
                                  [float(r[5]) for r in rows])
        checks.check_equal(self.chk, f"{what}: summary", summary,
                           extract_text(stub_transport(payloads[0])))

    def _requests(self, n: int) -> None:
        for _ in range(n):
            text, k = self.requests[self.next_req]
            self.next_req += 1
            self.request(text, k)

    def warmup(self):
        self._requests(self.sz["warmup_requests"])

    def cycle(self, i):
        self._requests(self.sz["cycle_requests"])

    def has_more(self):
        return self.next_req + self.sz["cycle_requests"] <= len(self.requests)

    def details(self):
        lat = self.latencies("request")
        distinct = len({t for t, _ in self.requests[:self.next_req]})
        out = {"request_p50_ms": (1e3 * median(lat), "ms"),
               "requests": (len(lat), "count"),
               "distinct_texts": (distinct, "count")}
        # the highest percentile with at least ten samples beyond it
        tail = 90 if len(lat) >= 100 else 75 if len(lat) >= 40 else None
        if tail:
            out[f"request_p{tail}_ms"] = (1e3 * percentile(lat, tail), "ms")
        return out


# ==================================================================== corpus

class CorpusSearch(Workload):
    """A clustered 384-dim corpus: distinct exact top-10 queries, IVF
    top-10 queries at a fixed nprobe, and batches through the GEMM
    similarity join, interleaved."""
    name = "corpus_search"
    request_kind = "exact"

    def generate(self):
        sz = self.sz
        inp = gen.corpus_inputs(self.cache_dir, self.seed, sz["n"], sz["dim"],
                                sz["clusters"], sz["queries"])
        self.data_dir = inp["dir"]
        self.vecs = inp["vecs"].astype(np.float64)
        self.ids = np.arange(sz["n"], dtype=np.int64)
        self.norms = checks.fold_norms(self.vecs)
        self.queries = inp["queries"]
        self.next_q = 0
        self.index_path = os.path.join(self.run_dir, "ivf_index")
        # IVF reference: centroids are the n_cells smallest-id vectors;
        # each vector sits in its nearest cell (distance, then cell id)
        nc = sz["n_cells"]
        cents = self.vecs[:nc]
        cnorms = self.norms[:nc]
        # argmin keeps the first (smallest-id) cell among exact ties
        self.cell = np.argmin(np.stack([self._dist_to(c) for c in cents]),
                              axis=0)
        self.cents, self.cnorms = cents, cnorms

    def _dist_to(self, q):
        return checks.fold_distances(self.vecs, self.norms, np.asarray(q))

    def _take(self, n: int) -> tuple[int, np.ndarray]:
        i = self.next_q
        self.next_q += n
        return i, self.queries[i:i + n]

    def has_more(self):
        return (self.next_q + self.sz["exact_per_cycle"] + 1 + self.sz["batch"]
                <= len(self.queries))

    def load(self):
        from tripgogo_vector_search_spark.operators.ann import (
            materialize_ivf_index)
        from tripgogo_vector_search_spark.sources.tables import load_table

        def build():
            with self.tracer.span("operators.ann.materialize_ivf_index"):
                materialize_ivf_index(
                    load_table(self.spark, self.data_dir, "corpus"),
                    self.index_path, n_cells=self.sz["n_cells"])

        return self.timed_repeats("index_build", build,
                                  n=self.sz["build_repeats"])

    # -- operations ----------------------------------------------------------
    def exact(self):
        from tripgogo_vector_search_spark.operators.knn import knn_topk
        from tripgogo_vector_search_spark.sources.tables import load_table
        qi, (q,) = self._take(1)
        tr, k = self.tracer, self.sz["k"]

        def op():
            with tr.span("sources.load_table"):
                corpus = load_table(self.spark, self.data_dir, "corpus")
            with tr.span("operators.knn.knn_topk"):
                top = knn_topk(corpus, q.tolist(), k, tiebreak="vec_id")
            with tr.span("operators.knn.collect"):
                return top.select("vec_id", "distance_score").collect()

        def check(rows):
            want = checks.topk(self.ids, self._dist_to(q), k)
            checks.check_topk(self.chk, f"exact query {qi}",
                              [r[0] for r in rows], [r[1] for r in rows],
                              *want)

        self.timed("exact", op, check)

    def ivf(self):
        from tripgogo_vector_search_spark.operators.ann import (
            ivf_search_materialized)
        qi, (q,) = self._take(1)
        tr, k, sz = self.tracer, self.sz["k"], self.sz

        def op():
            with tr.span("operators.ann.ivf_search_materialized"):
                top = ivf_search_materialized(
                    self.spark, self.index_path, q.tolist(), k,
                    n_cells=sz["n_cells"], nprobe=sz["nprobe"])
            with tr.span("operators.ann.collect"):
                return top.collect()

        def check(rows):
            # probes: the nprobe nearest centroids (distance, then cell id)
            cdist = checks.fold_distances(self.cents, self.cnorms, q)
            probes = np.lexsort((np.arange(len(cdist)), cdist))[:sz["nprobe"]]
            mask = np.isin(self.cell, probes)
            d = self._dist_to(q)
            want = checks.topk(self.ids[mask], d[mask], k)
            checks.check_topk(self.chk, f"ivf query {qi}",
                              [r["vec_id"] for r in rows],
                              [r["distance_score"] for r in rows], *want)
            exact_ids = set(checks.topk(self.ids, d, k)[0])
            self.count("ann.recall",
                       len(exact_ids & {r["vec_id"] for r in rows}) / k)

        self.timed("ivf", op, check)

    def batch(self):
        from tripgogo_vector_search_spark.operators.simjoin import (
            similarity_join_gemm_exact)
        from tripgogo_vector_search_spark.sources.tables import load_table
        qi, qs = self._take(self.sz["batch"])
        tr, k = self.tracer, self.sz["k"]

        def op():
            with tr.span("sources.queries"):
                qdf = self.spark.createDataFrame(
                    [(qi + j, q.tolist()) for j, q in enumerate(qs)],
                    "qid bigint, qvec array<double>")
                corpus = load_table(self.spark, self.data_dir, "corpus")
            with tr.span("operators.simjoin.similarity_join_gemm_exact"):
                joined = similarity_join_gemm_exact(
                    corpus, qdf, k, query_vec="qvec", query_id="qid",
                    exclude_self=False)
            with tr.span("operators.simjoin.collect"):
                return joined.collect()

        def check(rows):
            got: dict[int, list] = {}
            for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
                got.setdefault(r["query_id"], []).append(
                    (r["neighbor_id"], r["distance_score"]))
            # one BLAS product for the whole block; it differs from the
            # engine's element-order fold by ~1e-16, far inside the
            # distance tolerance and the gaps between neighbours
            with np.errstate(invalid="ignore", divide="ignore"):
                qn = np.sqrt((qs * qs).sum(axis=1))
                dist = 1.0 - (self.vecs @ qs.T) / np.outer(self.norms, qn)
            for j in range(len(qs)):
                want = checks.topk(self.ids, dist[:, j], k)
                g = got.get(qi + j, [])
                checks.check_topk(self.chk, f"batch query {qi + j}",
                                  [x[0] for x in g], [x[1] for x in g], *want)

        self.timed("batch", op, check)

    # warm the exact and batch paths (JIT, Python workers) before the
    # index build, so the build is not timed on a cold JVM; the IVF path
    # warms after it
    warm_before_load = True

    def warmup(self):
        # the exact path is still getting faster after three queries
        for _ in range(self.sz["warmup_exact"]):
            self.exact()
        self.batch()

    def warmup_after_load(self):
        self.cycle(-1)

    def cycle(self, i):
        for _ in range(self.sz["exact_per_cycle"]):
            self.exact()
        self.ivf()
        self.batch()

    def details(self):
        b = self.latencies("batch", min_clean=1)
        recall = self.counted("ann.recall")
        return {"exact_p50_ms": (1e3 * median(self.latencies("exact")), "ms"),
                "ivf_p50_ms": (1e3 * median(self.latencies("ivf", 1)), "ms"),
                "batch_qps": (self.sz["batch"] * len(b) / sum(b)
                              if b else 0.0, "queries/s"),
                "recall_at_10": (sum(recall) / len(recall) if recall else 0.0,
                                 "fraction")}


# ==================================================================== refresh

class CorpusRefresh(Workload):
    """An id-range-partitioned embedding store: bulk ingest through the
    Arrow UDF embedder, then refresh cycles (new, changed and retired
    documents clustered in a few id ranges), each followed by exact
    top-10 queries on the store."""
    name = "corpus_refresh"
    request_kind = "exact"

    def generate(self):
        from tripgogo_vector_search_spark.functions.embed import hash_embed_py
        sz = self.sz
        self.texts = gen.replicated_documents(self.seed, sz["docs"], sz["base"])
        self.base = gen.base_texts(self.seed, sz["base"])
        self.live = dict(enumerate(self.texts))
        self.vec = {i: hash_embed_py(t) for i, t in self.live.items()}
        self.next_id = sz["docs"]
        self.qtexts = gen.base_texts(self.seed + 7919, 4000)
        self.next_q = 0
        self.store = os.path.join(self.run_dir, "store.parquet")
        self.docs_path = self._snapshot("docs")
        self.cycle_no = 0

    def _snapshot(self, tag: str) -> str:
        import pyarrow as pa
        import pyarrow.parquet as pq
        ids = sorted(self.live)
        texts = [self.live[i] for i in ids]
        path = os.path.join(self.run_dir, f"current_{tag}.parquet")
        pq.write_table(pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "fp": [gen.fingerprint(t) for t in texts],
            "text": texts}), path)
        return path

    def load(self):
        from pyspark.sql import functions as F
        from tripgogo_vector_search_spark.functions.embed import hash_embed_udf
        from tripgogo_vector_search_spark.sources.sinks import write_parquet
        w = self.sz["range_width"]

        def ingest():
            with self.tracer.span("plans.ingest.bulk_store"):
                docs = self.spark.read.parquet(self.docs_path)
                write_parquet(docs.select(
                    "doc_id", "fp", hash_embed_udf()(F.col("text")).alias("v"),
                    F.floor(F.col("doc_id") / w).alias("id_range")),
                    self.store, partition_by=["id_range"])

        dt = self.timed_repeats("bulk_ingest", ingest,
                                n=self.sz["ingest_repeats"])
        self.bytes_per_row = _dir_bytes(self.store) / len(self.live)
        return dt

    def refresh(self):
        from tripgogo_vector_search_spark.functions.embed import (
            hash_embed_py, hash_embed_udf)
        from tripgogo_vector_search_spark.operators.index_maintenance import (
            refresh_and_compact_store)
        sz, tr = self.sz, self.tracer
        delta = gen.refresh_delta(self.seed, self.cycle_no, list(self.live),
                                  self.next_id, sz["new"], sz["changed"],
                                  sz["retired"])
        self.cycle_no += 1
        for i in delta["retired"]:
            del self.live[i], self.vec[i]
        for i in delta["changed"]:
            self.live[i] = f"{self.live[i]} {delta['tag']}"
        for i in delta["new"]:
            b = len(self.base)
            self.live[i] = f"{self.base[i % b]} copy{i // b}"
        self.next_id += sz["new"]
        touched = delta["changed"] + delta["new"]
        for i in touched:
            self.vec[i] = hash_embed_py(self.live[i])
        cur_path = self._snapshot(f"c{self.cycle_no}")

        def op():
            with tr.span("sources.read_current"):
                current = self.spark.read.parquet(cur_path)
            with tr.span("operators.index_maintenance.refresh_and_compact_store"):
                return refresh_and_compact_store(
                    self.spark, self.store, current, hash_embed_udf(),
                    range_width=sz["range_width"])

        def check(stats):
            what = f"refresh cycle {self.cycle_no}"
            from pyspark.sql import functions as F
            store = self.spark.read.parquet(self.store)
            got_ids = store.select("doc_id").toPandas()["doc_id"]
            pdf = (store.where(F.col("doc_id").isin(touched))
                   .select("doc_id", "v").toPandas())
            got_vecs = dict(zip(pdf["doc_id"], pdf["v"]))
            checks.check_store(self.chk, what, set(got_ids), set(self.live),
                               set(delta["retired"]),
                               {i: list(v) for i, v in got_vecs.items()},
                               {i: self.vec[i] for i in touched})
            self.count("refresh.partitions_written",
                       stats["upserted_partitions"]
                       + stats["affected_partitions"]
                       - stats["removed_partitions"])
            self.count("refresh.rows_evicted", stats["evicted_rows"])
            self.count("refresh.delta_bytes",
                       len(touched) * self.bytes_per_row)

        self.timed("refresh", op, check)

    def exact(self):
        from tripgogo_vector_search_spark.functions.embed import hash_embed_py
        from tripgogo_vector_search_spark.operators.knn import knn_topk
        from tripgogo_vector_search_spark.sources.tables import load_table
        text = self.qtexts[self.next_q]
        self.next_q += 1
        tr, k = self.tracer, self.sz["k"]

        def op():
            with tr.span("functions.embed.hash_embed_py"):
                qv = hash_embed_py(text)
            with tr.span("sources.load_table"):
                store = load_table(self.spark, self.run_dir, "store")
            with tr.span("operators.knn.knn_topk"):
                top = knn_topk(store, qv, k, vec_col="v", tiebreak="doc_id")
            with tr.span("operators.knn.collect"):
                return qv, top.select("doc_id", "distance_score").collect()

        def check(out):
            qv, rows = out
            ids = np.array(sorted(self.live), dtype=np.int64)
            m = np.array([self.vec[i] for i in ids], dtype=np.float64)
            want = checks.topk(ids, checks.fold_distances(
                m, checks.fold_norms(m), np.array(qv)), k)
            checks.check_topk(self.chk, f"store query {text!r}",
                              [r[0] for r in rows], [r[1] for r in rows],
                              *want)

        self.timed("exact", op, check)

    def cycle(self, i):
        self.refresh()
        for _ in range(self.sz["queries_per_cycle"]):
            self.exact()

    def warmup(self):
        # refresh and query times still fall over the first two cycles
        for _ in range(self.sz["warmup_cycles"]):
            self.cycle(-1)

    def has_more(self):
        return self.next_q + self.sz["queries_per_cycle"] <= len(self.qtexts)

    def details(self):
        return {"exact_p50_ms": (1e3 * median(self.latencies("exact")), "ms"),
                "ingest_rows_per_s": (self.sz["docs"] / self.load_s
                                      if self.load_s else 0.0, "rows/s"),
                "refresh_p50_s": (median(self.latencies("refresh", 1)), "s")}


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


WORKLOADS = {w.name: w for w in (HotelSearch, CorpusSearch, CorpusRefresh)}
