"""Per-layer metrics from a traced run.

Layer names follow the engine's modules.  Each value is a median over the
traced loop's operations (or cycles, for the ``spark.*`` runtime
counters), so counts made by one client repeat exactly from run to run.
A workload that never calls a layer reports 0 for that layer.
"""

from __future__ import annotations

from spans import Span, Tracer, job_time, self_time, union_length
from workloads import Workload, median

# name -> unit; BENCHMARK.json's per_layer list is this table
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.load_s": "s",
    "sources.load_jobs": "count",
    "py4j.calls_per_op": "count",
    "operators.knn.build_s": "s",
    "operators.knn.exec_s": "s",
    "operators.ann.index_build_s": "s",
    "operators.ann.probe_build_s": "s",
    "operators.ann.probe_exec_s": "s",
    "operators.ann.rows_examined_per_result": "count",
    "operators.ann.recall_at_10": "fraction",
    "operators.simjoin.build_s": "s",
    "operators.simjoin.exec_s": "s",
    "functions.embed.query_s": "s",
    "plans.ingest.ingest_s": "s",
    "operators.index_maintenance.refresh_s": "s",
    "operators.index_maintenance.partitions_written": "count",
    "operators.index_maintenance.rows_evicted": "count",
    "operators.index_maintenance.write_amplification": "ratio",
    "plans.rag.summary_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.driver_only_s": "s",
    "spark.job_s": "s",
    "spark.executor_run_s": "s",
    "spark.input_bytes": "bytes",
    "spark.input_records": "count",
    "spark.output_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "trace.overhead_ms": "ms",
    "trace.attributed_share": "fraction",
}

# span name -> per-layer metric holding the median of its duration
SPAN_METRICS = {
    "operators.knn.knn_topk": "operators.knn.build_s",
    "operators.knn.collect": "operators.knn.exec_s",
    "operators.ann.ivf_search_materialized": "operators.ann.probe_build_s",
    "operators.ann.collect": "operators.ann.probe_exec_s",
    "operators.simjoin.similarity_join_gemm_exact": "operators.simjoin.build_s",
    "operators.simjoin.collect": "operators.simjoin.exec_s",
    "functions.embed.hash_embed_py": "functions.embed.query_s",
    "operators.index_maintenance.refresh_and_compact_store":
        "operators.index_maintenance.refresh_s",
    "plans.rag.rag_summarize": "plans.rag.summary_s",
    "operators.ann.materialize_ivf_index": "operators.ann.index_build_s",
    "plans.ingest.bulk_store": "plans.ingest.ingest_s",
    "plans.ingest.ingest_hotels": "plans.ingest.ingest_s",
}


def _op_spans(tracer: Tracer) -> dict[int, list[Span]]:
    by_op: dict[int, list[Span]] = {}
    for s in tracer.spans:
        by_op.setdefault(s.op, []).append(s)
    return by_op


def _spark_totals(spans: list[Span], root: Span) -> dict:
    tot = {"jobs": 0, "stages": 0, "numTasks": 0, "numFailedTasks": 0,
           "executorRunTime": 0, "inputBytes": 0, "inputRecords": 0,
           "outputBytes": 0, "shuffleReadBytes": 0, "memoryBytesSpilled": 0,
           "diskBytesSpilled": 0}
    intervals = []
    for s in spans:
        for key in tot:
            tot[key] += s.spark.get(key, 0)
        intervals += [(max(lo, root.start), min(hi, root.end))
                      for lo, hi in s.job_intervals]
    tot["job_s"] = union_length([iv for iv in intervals if iv[1] > iv[0]])
    return tot


def layer_metrics(wl: Workload, tracer: Tracer, setup: dict,
                  traced_lat: list[float], untraced_lat: list[float]
                  ) -> dict[str, float]:
    """``setup`` carries the untraced set-up timings (session start,
    warm-up); ``traced_lat``/``untraced_lat`` are the request
    latencies of the interleaved traced and untraced cycles."""
    out = dict.fromkeys(PER_LAYER, 0.0)
    out["session.start_s"] = setup["start_s"]
    out["session.warmup_s"] = setup["warmup_s"]
    by_op = _op_spans(tracer)
    durations: dict[str, list[float]] = {}
    sources, sources_jobs, py4j, attributed, knn_in_rag = [], [], [], [], []
    rows_examined = []
    per_cycle: dict[int, list[dict]] = {}
    for op_id, spans in by_op.items():
        meta = tracer.ops[op_id]
        root = next(s for s in spans if s.parent is None)
        if meta["phase"] not in ("load", "loop"):
            continue
        for s in spans:
            if s.name in SPAN_METRICS:
                durations.setdefault(SPAN_METRICS[s.name], []).append(
                    s.duration)
        if meta["phase"] != "loop":
            continue
        children = [s for s in spans if s.parent == root.id]
        attributed.append(1.0 - self_time(root, children) / root.duration)
        src = [s for s in spans if s.name.startswith("sources.")]
        if src:
            sources.append(sum(s.duration for s in src))
            sources_jobs.append(sum(len(s.jobs) for s in src))
        if meta["kind"] == wl.request_kind:
            py4j.append(sum(s.py4j_calls for s in spans))
        for s in spans:
            if s.name == "plans.rag.rag_summarize":
                # hotel_search runs the top-k inside the RAG collect
                knn_in_rag.append(job_time(s))
            if s.name == "operators.ann.collect":
                rows_examined.append(s.spark.get("inputRecords", 0)
                                     / wl.sz["k"])
        per_cycle.setdefault(meta["cycle"], []).append(
            _spark_totals(spans, root) | {"wall": root.duration})
    for metric, vals in durations.items():
        out[metric] = median(vals)
    if knn_in_rag:
        out["operators.knn.exec_s"] = median(knn_in_rag)
    out["sources.load_s"] = median(sources)
    out["sources.load_jobs"] = median(sources_jobs)
    out["py4j.calls_per_op"] = median(py4j)
    out["trace.attributed_share"] = median(attributed)
    out["operators.ann.rows_examined_per_result"] = median(rows_examined)
    # recall does not depend on tracing: average every loop IVF query
    recall = wl.counted("ann.recall")
    if recall:
        out["operators.ann.recall_at_10"] = sum(recall) / len(recall)

    cycles = [{k: sum(op[k] for op in ops) for k in ops[0]}
              for ops in per_cycle.values()]
    spark_keys = {"spark.jobs": "jobs", "spark.stages": "stages",
                  "spark.tasks": "numTasks",
                  "spark.failed_tasks": "numFailedTasks",
                  "spark.job_s": "job_s",
                  "spark.input_bytes": "inputBytes",
                  "spark.input_records": "inputRecords",
                  "spark.output_bytes": "outputBytes",
                  "spark.shuffle_read_bytes": "shuffleReadBytes"}
    for metric, key in spark_keys.items():
        out[metric] = median([c[key] for c in cycles])
    out["spark.executor_run_s"] = median(
        [c["executorRunTime"] / 1e3 for c in cycles])
    out["spark.spill_bytes"] = median(
        [c["memoryBytesSpilled"] + c["diskBytesSpilled"] for c in cycles])
    out["spark.driver_only_s"] = median([c["wall"] - c["job_s"] for c in cycles])

    refresh_out = [sum(s.spark.get("outputBytes", 0) for s in spans)
                   for op_id, spans in by_op.items()
                   if tracer.ops[op_id]["kind"] == "refresh"
                   and tracer.ops[op_id]["phase"] == "loop"]
    delta = wl.counted("refresh.delta_bytes", traced_only=True)
    if refresh_out and delta:
        out["operators.index_maintenance.write_amplification"] = median(
            [o / d for o, d in zip(refresh_out, delta)])
    for metric, key in (
            ("operators.index_maintenance.partitions_written",
             "refresh.partitions_written"),
            ("operators.index_maintenance.rows_evicted",
             "refresh.rows_evicted")):
        out[metric] = median(wl.counted(key, traced_only=True))
    out["trace.overhead_ms"] = 1e3 * (median(traced_lat)
                                      - median(untraced_lat))
    return out
