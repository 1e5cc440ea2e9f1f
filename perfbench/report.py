"""Per-layer metrics of a traced run.

Names are ``<module>.<metric>``; ETL metrics carry a ``.<source>``
suffix (``att``, ``amazon``, ``uber``) and the Spark engine counters a
``.<source>`` or ``.corpus`` suffix. Every name is reported by every
traced run: a layer the workload does not exercise reads 0. Each value
is the median over the run's traced operations of that source.
"""

from __future__ import annotations

import statistics

from tracing import FOLD_KEYS, event_log_file, fold_event_log, job_call_sites

SOURCES = ("att", "amazon", "uber")
GROUPS = SOURCES + ("corpus",)

# span name -> per-layer metric (per source)
SPAN_METRICS = {
    "sources.read": "sources.call_s",
    "pipelines.transform": "pipelines.transform_build_s",
    "pipelines.run_load": "pipelines.run_load_build_s",
    "operators.read_mart": "operators.read_mart_s",
    "operators.write_mart": "operators.write_mart_s",
}
EXT_SPANS = {
    "extensions.exact_dedup": "extensions.exact_dedup_s",
    "extensions.minhash_lsh_candidates": "extensions.lsh_candidates_s",
    "extensions.connected_dedup_clusters": "extensions.clusters_s",
    "extensions.duplicate_span_stats": "extensions.dup_spans_s",
    "extensions.text_features": "extensions.text_features_s",
}
# Spans inside which Spark runs a load's one fused plan: their time is
# split into layers by the prefix timing, not by the spans.
FUSED_SPANS = {"operators.write_mart", "streaming.foreach_batch_scd2"}
SPARK_UNITS = {"jobs": "count", "stages": "count", "tasks": "count",
               "executor_cpu_s": "s", "executor_run_s": "s", "gc_s": "s",
               "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes",
               "spill_bytes": "bytes", "peak_exec_mem_bytes": "bytes"}


def metric_units() -> dict[str, str]:
    """Every per-layer metric name and its unit, in report order."""
    m = {"session.start_s": "s"}
    for s in SOURCES:
        m[f"sources.call_s.{s}"] = "s"
        m[f"sources.scan_self_s.{s}"] = "s"
        for name in ("transform_build_s", "run_load_build_s",
                     "transform_self_s", "merge_self_s"):
            m[f"pipelines.{name}.{s}"] = "s"
        m[f"pipelines.cdc_duplicate_share.{s}"] = "ratio"
        m[f"operators.read_mart_s.{s}"] = "s"
        m[f"operators.write_mart_s.{s}"] = "s"
        m[f"operators.mart_files_written.{s}"] = "count"
        m[f"operators.mart_bytes_written.{s}"] = "bytes"
        m[f"operators.buckets_rewritten.{s}"] = "count"
        m[f"operators.write_amplification.{s}"] = "ratio"
    m["streaming.load_s"] = "s"
    m["streaming.empty_drain_s"] = "s"
    for name in EXT_SPANS.values():
        m[name] = "s"
    m["extensions.lsh_candidate_pairs"] = "count"
    m["extensions.lsh_useful_ratio"] = "ratio"
    m["extensions.cluster_rounds"] = "count"
    for g in GROUPS:
        for k, u in SPARK_UNITS.items():
            m[f"spark.{k}.{g}"] = u
        m[f"python.worker_cpu_s.{g}"] = "s"
    m.update({"bench.failed_ops_ratio": "ratio",
              "bench.trace_overhead_share": "ratio",
              "bench.traced_op_p50_s": "s",
              "bench.explained_share": "ratio",
              "bench.unexplained_s": "s",
              "bench.traced_ops": "count"})
    return m


def _median(xs: list) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(tracer, ops: list, extras: dict, log_dir: str,
              session_start: float, failed_ratio: float,
              op_p50_s: float) -> dict[str, tuple[float, str]]:
    """{name: (value, unit)} for every per-layer metric, from the spans of
    the (traced) operations in ``ops``, the event log in ``log_dir`` and
    the workload's traced-run extras (``lists`` of samples and
    ``scalars``)."""
    units = metric_units()
    vals: dict[str, list] = {k: [] for k in units}
    spans = tracer.spans
    log = event_log_file(log_dir)
    folded = fold_event_log(log, spans)
    sites = job_call_sites(log)
    for key, xs in extras.get("lists", {}).items():
        vals[key].extend(xs)
    # Layer self times of one load of each source from the prefix
    # timing: the scan, the transform and the merge inside the fused plan.
    fused_self = {g: sum(_median(vals[f"{m}.{g}"]) for m in (
        "sources.scan_self_s", "pipelines.transform_self_s",
        "pipelines.merge_self_s")) for g in SOURCES}
    unexplained, explained, walls, probes = [], 0.0, 0.0, 0.0
    for o in ops:
        g = o["source"]
        mine = spans[o["spans"][0]:o["spans"][1]]
        top = [s for s in mine if s.parent is None or s.parent < o["spans"][0]]
        # Layer self times: spans that run their own layer's work (plan
        # building, or an extension call with its own sink), plus the
        # prefix self times of the fused plan.
        covered = (sum(s.duration for s in top if s.name not in FUSED_SPANS)
                   + fused_self.get(g, 0.0))
        explained += covered
        walls += o["wall_s"]
        probes += sum(s.probe_s for s in mine)
        unexplained.append(o["wall_s"] - covered)
        counters = {k: 0.0 for k in FOLD_KEYS}
        for s in mine:
            f = folded.get(s.group, {})
            for k in FOLD_KEYS:
                v = f.get(k, 0)
                counters[k] = (max(counters[k], v) if k == "peak_exec_mem_bytes"
                               else counters[k] + v)
            name = SPAN_METRICS.get(s.name)
            if name:
                vals[f"{name}.{g}"].append(s.duration)
            if s.name in EXT_SPANS:
                vals[EXT_SPANS[s.name]].append(s.duration)
            if s.name == "extensions.connected_dedup_clusters":
                # One convergence probe (a `first` job in
                # extensions/dedup.py) per label-propagation round.
                vals["extensions.cluster_rounds"].append(sum(
                    n for site, n in sites.get(s.group, {}).items()
                    if site.startswith("first at ")
                    and site.rsplit(":", 1)[0].endswith("extensions/dedup.py")))
            if s.name == "streaming.foreach_batch_scd2":
                vals["streaming.load_s"].append(s.duration)
        # Jobs carrying a span's group are counted by the status tracker;
        # a streaming query runs its jobs under its own group, and those
        # come from the event log.
        counters["jobs"] = sum(s.jobs for s in mine) + counters["foreign_jobs"]
        counters["stages"] = sum(s.stages for s in mine) + counters["foreign_stages"]
        counters["tasks"] = sum(s.tasks for s in mine) + counters["foreign_tasks"]
        for k in SPARK_UNITS:
            vals[f"spark.{k}.{g}"].append(counters[k])
        vals[f"python.worker_cpu_s.{g}"].append(sum(s.python_cpu_s for s in top))
        if "written" in o:
            w = o["written"]
            vals[f"operators.mart_files_written.{g}"].append(w["files"])
            vals[f"operators.mart_bytes_written.{g}"].append(w["bytes"])
            vals[f"operators.buckets_rewritten.{g}"].append(w["buckets"])
            vals[f"operators.write_amplification.{g}"].append(w["bytes"] / o["feed_bytes"])
    out = {k: _median(v) for k, v in vals.items()}
    out.update(extras.get("scalars", {}))
    out["session.start_s"] = session_start
    out["bench.failed_ops_ratio"] = failed_ratio
    # The probes' own time against the operation time without them; the
    # event log's cost, paid on Spark's listener thread, is not in it.
    out["bench.trace_overhead_share"] = probes / (walls - probes) if walls else 0.0
    # op_p50_s of the traced operations: set against op_p50_s of an
    # untraced run of the same seed and code, the difference is the
    # whole tracing overhead, the event log included.
    out["bench.traced_op_p50_s"] = op_p50_s
    out["bench.explained_share"] = explained / walls if walls else 0.0
    out["bench.unexplained_s"] = _median(unexplained)
    out["bench.traced_ops"] = len(ops)
    return {k: (out[k], units[k]) for k in units}
