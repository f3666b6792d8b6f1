"""Benchmark of the engine's registry queries, run from the checkout root.

    python3 perfbench/run.py --workload linkpred --seed 1 --seconds 20 --trace 0

One driver process at ``local[os.cpu_count()]``, one client in a closed loop.
A run:

1. builds the workload's inputs from ``--seed`` (``gen.py``; reused when the
   marker matches, generation time reported apart from set-up);
2. sets up: imports the package, starts the SparkSession and makes the first,
   cold pass, collecting every query's output (``setup_s``);
3. makes the workload's untimed warm-up passes, then measures warm passes,
   each query forced with the noop sink, until ``--seconds`` have passed
   (at least ``MIN_PASSES``);
4. checks the cold pass's outputs (DuckDB oracle or the invariants the tests
   pin) and reads Spark's status store.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes, wraps every layer's public functions in spans
(``spans.py``) and prints the per-layer metrics, with the tracing overhead.
The last stdout line is the JSON result; everything else goes to stderr.
"""

from __future__ import annotations

import argparse
import dataclasses
import gc
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "apache_spark_link_prediction_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
MB = 1024 * 1024
# Untraced passes per run, at the least. The JIT keeps speeding the queries up
# for many passes after the cold one, and a run that made one pass or two
# depending on the host's speed spread more than one that always makes three
# and reports the middle one.
MIN_PASSES = 3

sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import procstat  # noqa: E402
from sparkstats import StatusReader  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

END_TO_END_UNITS = {
    "wall_s": "s",
    "input_rows_per_s": "rows/s",
    "setup_s": "s",
    "cpu_s": "s",
    "shuffle_mb": "MB",
}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


# -- runtime ---------------------------------------------------------------


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1024 * 1024)
    return 8.0


def pin_runtime(run_dir: str) -> dict:
    """Set the knobs ``session.get_spark`` reads, from this box rather than
    the program's defaults, and keep every file Spark writes under
    ``run_dir``. Returns the extra session confs."""
    cpus = os.cpu_count() or 1
    mem_gb = max(1, min(4, int(_mem_total_gb() // 4)))
    tmp = os.path.join(run_dir, "tmp")
    for sub in ("local", "warehouse", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g",
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
            "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
            "TMPDIR": tmp,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
            ),
        }
    )
    return {
        # The JVM's perf-data file would go to /tmp whatever java.io.tmpdir says.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # The status store is read after the timed region, so it must keep
        # every job, stage and SQL execution of the run.
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.sql.ui.retainedExecutions": "1000000",
    }


def program_sha() -> str | None:
    """Git commit of the checkout; None when it is not a git repository."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"],
            cwd=ROOT, capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = out.stdout.split()
    # A repository above the checkout does not describe it.
    if out.returncode == 0 and len(lines) == 2 and os.path.samefile(lines[0], ROOT):
        return lines[1]
    return None


def stamp(spark, args) -> dict:
    import duckdb
    import pyspark

    conf = spark.sparkContext.getConf()
    keys = (
        "spark.master",
        "spark.driver.memory",
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
    )
    return {
        "cpus": os.cpu_count(),
        "confs": {k: conf.get(k, None) for k in keys},
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
        "load1": round(os.getloadavg()[0], 2),
        "seed": args.seed,
        "sha": program_sha(),
        "workload": args.workload,
        "trace": args.trace,
    }


# -- passes ------------------------------------------------------------------


def clear_query_state(spark) -> None:
    """Drop cached blocks and let the cleaner reclaim checkpointed RDDs, so a
    query does not inherit the previous one's storage."""
    spark.catalog.clearCache()
    gc.collect()


class Pass:
    def __init__(self):
        self.walls: dict[str, float] = {}
        self.failed: list[str] = []
        self.wall = self.cpu = 0.0
        self.t0 = self.t1 = 0.0  # epoch seconds, to find the pass's Spark jobs


def run_pass(spark, queries, data_dir: str, names, tracer=None) -> Pass:
    p = Pass()
    pid = os.getpid()
    cpu0 = procstat.cpu_seconds(procstat.tree(pid))
    p.t0 = time.time()
    start = time.perf_counter()
    for name in names:
        clear_query_state(spark)
        q0 = time.perf_counter()
        try:
            if tracer is None:
                queries[name](spark, data_dir).write.format("noop").mode("overwrite").save()
            else:
                tracer.run_query(name, queries[name], data_dir)
        except Exception:  # a failed query is counted, not fatal
            p.failed.append(name)
            log(f"query {name} failed:")
            traceback.print_exc(file=sys.stderr)
        p.walls[name] = time.perf_counter() - q0
    p.wall = time.perf_counter() - start
    p.t1 = time.time()
    p.cpu = procstat.cpu_seconds(procstat.tree(pid)) - cpu0
    return p


def cold_pass(spark, queries, data_dir: str, names) -> tuple[dict, list[str]]:
    """The first pass of the run. Outputs are collected for the checks."""
    outputs, failed = {}, []
    for name in names:
        clear_query_state(spark)
        q0 = time.perf_counter()
        try:
            df = queries[name](spark, data_dir)
            outputs[name] = (df.columns, [tuple(r) for r in df.collect()])
        except Exception:  # counted, and the run goes on
            failed.append(name)
            log(f"query {name} failed in the cold pass:")
            traceback.print_exc(file=sys.stderr)
        log(f"cold {name} {time.perf_counter() - q0:.3f}s")
    return outputs, failed


def shuffle_mb_between(jobs: list[dict], stages: dict[int, dict], t0: float, t1: float) -> float:
    """Shuffle bytes written by the jobs submitted in [t0, t1] (epoch s)."""
    total = 0
    for job in jobs:
        if t0 * 1000 <= job["submissionTime"] <= t1 * 1000:
            total += sum(stages[s]["shuffle_write"] for s in job["stageIds"] if s in stages)
    return total / MB


# -- main ------------------------------------------------------------------


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")) or not os.path.isfile(
        os.path.join(ROOT, "tools", "check_oracle.py")
    ):
        print(f"perfbench: no {PACKAGE} package or tools/ in {ROOT}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, "run")
    # Spill, checkpoint, warehouse and temp files of an earlier run go first.
    shutil.rmtree(run_dir, ignore_errors=True)
    extra_conf = pin_runtime(run_dir)
    data_dir = os.path.join(WORK, "inputs", wl.name)
    rows, gen_s = gen.ensure_inputs(data_dir, args.seed, wl.spec)
    log(f"inputs {rows} generated in {gen_s:.3f}s (0 = reused)")
    try:
        result = measure(wl, args, data_dir, rows, extra_conf)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def measure(wl, args, data_dir: str, rows: dict, extra_conf: dict) -> dict:
    setup0 = time.perf_counter()
    sys.path.insert(0, ROOT)
    from apache_spark_link_prediction_spark.queries import QUERIES
    from apache_spark_link_prediction_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{wl.name}", extra_conf=extra_conf)
    session_s = time.perf_counter() - setup0
    try:
        outputs, cold_failed = cold_pass(spark, QUERIES, data_dir, wl.queries)
        setup_s = time.perf_counter() - setup0
        env = stamp(spark, args)
        log(f"stamp {json.dumps(env)}")
        log(f"setup_s {setup_s:.3f} (session {session_s:.3f})")

        warmup = [run_pass(spark, QUERIES, data_dir, wl.queries) for _ in range(wl.warmup_passes)]
        if warmup:
            log("warm-up passes " + " ".join(f"{p.wall:.3f}s" for p in warmup))

        tracer = layers.LayerTracer(spark, wl.name, PACKAGE) if args.trace else None
        untraced, traced = [], []
        deadline = time.perf_counter() + args.seconds
        steal0 = procstat.steal_seconds()
        with procstat.PeakRss(os.getpid()) as rss:
            untraced.append(run_pass(spark, QUERIES, data_dir, wl.queries))
            # Traced passes sit between untraced ones, so warm-up drift
            # cancels out of the overhead estimate.
            while (
                time.perf_counter() < deadline
                or len(untraced) < MIN_PASSES
                or (tracer is not None and not traced)
            ):
                if tracer is not None:
                    tracer.install()
                    try:
                        traced.append(run_pass(spark, QUERIES, data_dir, wl.queries, tracer))
                    finally:
                        tracer.uninstall()
                untraced.append(run_pass(spark, QUERIES, data_dir, wl.queries))

        env["steal_s"] = round(procstat.steal_seconds() - steal0, 2)
        log(f"host steal during the timed passes: {env['steal_s']} cpu-s")
        check_results = checks.check_all(spark, wl.queries, outputs, data_dir, ROOT)
        jobs, stages = StatusReader(spark).jobs_and_stages()
        failed_ops = (
            len(cold_failed)
            + sum(len(p.failed) for p in warmup + untraced + traced)
            + sum(1 for ok in check_results.values() if not ok)
        )
        attempted = (
            len(wl.queries) * (1 + len(warmup) + len(untraced) + len(traced))
            + len(check_results)
        )
        walls = [p.wall for p in untraced]
        wall_s = statistics.median(walls)
        metrics = {
            "wall_s": wall_s,
            "input_rows_per_s": sum(rows.values()) / wall_s,
            "setup_s": setup_s,
            "cpu_s": statistics.median(p.cpu for p in untraced),
            "shuffle_mb": statistics.median(
                shuffle_mb_between(jobs, stages, p.t0, p.t1) for p in untraced
            ),
        }
        for kind, passes in (("untraced", untraced), ("traced", traced)):
            for p in passes:
                log(f"{kind} pass " + " ".join(f"{k}={v:.3f}" for k, v in p.walls.items()))
        for name, value in metrics.items():
            log(f"{wl.name} {name} = {value:.6g} {END_TO_END_UNITS[name]}")
        # Reported, not bounded: how far G1 grows the heap varies by a
        # quarter from run to run, so the peak is too unsteady to gate on.
        peak_rss_mb = rss.peak / MB
        log(f"{wl.name} peak_rss_mb = {peak_rss_mb:.6g} MB")
        log(f"{wl.name} failed_share = {failed_ops / attempted:.6g} ratio "
            f"({failed_ops} of {attempted} operations)")
        for name, ok in check_results.items():
            log(f"check {name} on {len(outputs[name][1])} rows: {'ok' if ok else 'FAILED'}")
        if tracer is not None:
            all_queries = [q for w in WORKLOADS.values() for q in w.queries]
            out = tracer.metrics(
                traced, untraced, jobs, stages, session_s, peak_rss_mb, outputs,
                all_queries,
            )
        else:
            out = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()}
        record = {"stamp": env, "gen_rows": rows, "metrics": out, "peak_rss_mb": peak_rss_mb,
                  "passes": [p.walls for p in untraced],
                  "traced_passes": [p.walls for p in traced]}
        results = os.path.join(WORK, "results")
        os.makedirs(results, exist_ok=True)
        with open(os.path.join(results, "runs.jsonl"), "a") as fh:
            fh.write(json.dumps(record) + "\n")
        if tracer is not None:
            name = f"spans-{wl.name}-{args.seed}.jsonl"
            with open(os.path.join(results, name), "w") as fh:
                for span in tracer.spans:
                    fh.write(json.dumps(dataclasses.asdict(span)) + "\n")
        return {
            "correct": failed_ops == 0,
            "attempted": attempted,
            "failed": failed_ops,
            "metrics": out,
        }
    finally:
        stop_spark(spark)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and the Python workers it forked, and
    wait until every one of them has exited."""
    from pyspark import SparkContext

    children = [p for p in procstat.tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in children if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


if __name__ == "__main__":
    sys.exit(main())
