"""Per-layer metrics of a traced pass.

Each query becomes a root span ``query`` with two children: ``queries`` (the
registry function building the plan, under which the layer spans nest) and
``execute`` (the noop-sink action that runs the lazy plan). Self times of all
spans of a query therefore add up to its wall time, less the few
microseconds between spans (reported as ``trace.unattributed_s``).

Spark jobs are attributed to spans by job group, else by submission time
(``trace.attribute_job``); stage metrics of each job are summed per layer.
"""

from __future__ import annotations

import statistics

from sparkstats import StatusReader
from spans import LAYERS, Tracer, attribute_job, driver_idle_share, self_times

MB = 1024 * 1024
SPAN_METRICS = ("calls", "self_s", "jobs", "executor_cpu_s", "shuffle_write_mb",
                "driver_idle_share")
EXECUTE_METRICS = ("self_s", "executor_run_s", "executor_cpu_s", "shuffle_read_mb", "shuffle_write_mb",
                   "spill_mb", "tasks", "failed_tasks", "driver_idle_share", "peak_storage_mb")
YIELD_LAYERS = ("operators.dedup", "plans.p2")
UNITS = {"calls": "count", "self_s": "s", "jobs": "count", "executor_cpu_s": "s",
         "shuffle_write_mb": "MB", "driver_idle_share": "ratio", "executor_run_s": "s",
         "shuffle_read_mb": "MB", "spill_mb": "MB", "tasks": "count", "failed_tasks": "count",
         "peak_storage_mb": "MB", "candidate_rows": "count", "pair_yield": "ratio"}


def metric_names(all_queries) -> list[tuple[str, str]]:
    """Every per-layer metric (name, unit) a traced run prints, in order."""
    out = [(f"{layer}.{m}", UNITS[m]) for layer in LAYERS for m in SPAN_METRICS]
    out += [(f"{layer}.{m}", UNITS[m]) for layer in YIELD_LAYERS
            for m in ("candidate_rows", "pair_yield")]
    out += [("queries.self_s", "s")]
    out += [(f"execute.{m}", UNITS[m]) for m in EXECUTE_METRICS]
    out += [("session.start_s", "s"), ("process.peak_rss_mb", "MB"), ("trace.overhead_s", "s"),
            ("trace.unattributed_s", "s")]
    out += [(f"queries.{q}.wall_s", "s") for q in all_queries]
    return out


class LayerTracer(Tracer):
    def __init__(self, spark, workload: str, package: str):
        super().__init__(spark.sparkContext, workload, package)
        self._spark = spark
        self._reader = StatusReader(spark)
        self.storage_peaks: list[int] = []
        self.owner: dict[int, str] = {}  # execute span id -> layer owning the plan

    def run_query(self, name: str, fn, data_dir: str) -> None:
        self.query = name
        root = self.begin("query", name)
        try:
            build = self.begin("queries", name)
            try:
                df = fn(self._spark, data_dir)
            finally:
                self.end(build)
            ex = self.begin("execute", name)
            try:
                df.write.format("noop").mode("overwrite").save()
            finally:
                self.end(ex)
            self.owner[ex.id] = self._plan_owner(build)
        finally:
            self.end(root)
        self.storage_peaks.append(self._reader.storage_bytes())

    def _plan_owner(self, build) -> str:
        """The layer whose call last returned under the build span, the
        sources layer aside: it built the plan the execute span runs."""
        owner = "queries"
        for s in self.spans[build.id + 1 :]:
            if s.parent == build.id and s.layer != "sources":
                owner = s.layer
        return owner

    def metrics(self, traced, untraced, jobs, stages, session_s, peak_rss_mb, outputs,
                all_queries):
        n = max(1, len(traced))
        cores = self._sc.defaultParallelism
        selfs = self_times(self.spans)
        acc = {layer: dict.fromkeys(SPAN_METRICS, 0.0) for layer in (*LAYERS, "queries")}
        ex = dict.fromkeys(EXECUTE_METRICS, 0.0)
        for s in self.spans:
            if s.layer in acc:
                acc[s.layer]["calls"] += 1
                acc[s.layer]["self_s"] += selfs[s.id]
            elif s.layer == "execute":
                ex["self_s"] += selfs[s.id]
        run_ms = {layer: 0.0 for layer in acc}
        span_of_job: dict[int, object] = {}
        t_lo = min((s.start for s in self.spans), default=0.0)
        t_hi = max((s.end for s in self.spans), default=0.0)
        for job in jobs:
            sub = job["submissionTime"] / 1000.0
            if not (t_lo <= sub <= t_hi):
                continue
            span = attribute_job(self.spans, job.get("jobGroup"), sub)
            if span is None:
                continue
            span_of_job[job["jobId"]] = span
            st = [stages[i] for i in job["stageIds"] if i in stages]
            if span.layer == "execute":
                ex["executor_run_s"] += sum(x["run_ms"] for x in st) / 1000
                ex["executor_cpu_s"] += sum(x["cpu_ns"] for x in st) / 1e9
                ex["shuffle_read_mb"] += sum(x["shuffle_read"] for x in st) / MB
                ex["shuffle_write_mb"] += sum(x["shuffle_write"] for x in st) / MB
                ex["spill_mb"] += sum(x["spill"] for x in st) / MB
                ex["tasks"] += sum(x["tasks"] for x in st)
                ex["failed_tasks"] += sum(x["failed_tasks"] for x in st)
            elif span.layer in acc:
                a = acc[span.layer]
                a["jobs"] += 1
                a["executor_cpu_s"] += sum(x["cpu_ns"] for x in st) / 1e9
                a["shuffle_write_mb"] += sum(x["shuffle_write"] for x in st) / MB
                run_ms[span.layer] += sum(x["run_ms"] for x in st)
        for layer, a in acc.items():
            a["driver_idle_share"] = driver_idle_share(run_ms[layer] / 1000, a["self_s"], cores)
        ex["driver_idle_share"] = driver_idle_share(ex["executor_run_s"], ex["self_s"], cores)

        candidates = dict.fromkeys(YIELD_LAYERS, 0)
        for exec_id, job_ids in self._reader.executions():
            spans = [span_of_job[j] for j in job_ids if j in span_of_job]
            if not spans:
                continue
            layer = spans[0].layer
            if layer == "execute":
                layer = self.owner.get(spans[0].id, "queries")
            if layer in candidates:
                candidates[layer] += self._reader.join_rows(exec_id)
        emitted = dict.fromkeys(YIELD_LAYERS, 0)
        for span_id, layer in self.owner.items():
            if layer in emitted and self.spans[span_id].query in outputs:
                emitted[layer] += len(outputs[self.spans[span_id].query][1])

        out: dict[str, float] = {}
        for layer in LAYERS:
            for m in SPAN_METRICS:
                v = acc[layer][m]
                out[f"{layer}.{m}"] = v if m == "driver_idle_share" else v / n
        for layer in YIELD_LAYERS:
            out[f"{layer}.candidate_rows"] = candidates[layer] / n
            out[f"{layer}.pair_yield"] = (
                emitted[layer] / candidates[layer] if candidates[layer] else 0.0
            )
        out["queries.self_s"] = acc["queries"]["self_s"] / n
        for m in EXECUTE_METRICS:
            out[f"execute.{m}"] = ex[m] if m == "driver_idle_share" else ex[m] / n
        out["execute.peak_storage_mb"] = max(self.storage_peaks, default=0) / MB
        out["session.start_s"] = session_s
        out["process.peak_rss_mb"] = peak_rss_mb
        out["trace.overhead_s"] = (
            statistics.median(p.wall for p in traced) - statistics.median(p.wall for p in untraced)
        )
        out["trace.unattributed_s"] = sum(
            selfs[s.id] for s in self.spans if s.layer == "query"
        ) / n
        walls: dict[str, list[float]] = {}
        for s in self.spans:
            if s.layer == "query":
                walls.setdefault(s.query, []).append(s.end - s.start)
        for q in all_queries:
            out[f"queries.{q}.wall_s"] = statistics.median(walls[q]) if q in walls else 0.0
        units = dict(metric_names(all_queries))
        return {k: {"value": out[k], "unit": units[k]} for k in units}
