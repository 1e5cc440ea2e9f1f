"""Benchmark entry point: one command per workload.

    python3 perfbench/run.py --workload etl_incremental --seed 1 --seconds 5 --trace 0

Run from the repository root. It generates seeded inputs under
``.perfbench_work/``, drives them through the package's public
functions in a closed loop with one client for ``--seconds``, checks the
outputs and prints one JSON object as the last line of stdout: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a traced run (event log on, spans, job groups, /proc reads).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("etl_incremental", "corpus_curation")


def configure_env(work: str, trace: bool) -> int:
    """Session launch settings, passed through the environment the
    package's ``get_spark`` and PySpark's launcher read. Nothing is
    written outside ``work``. Returns the CPU count the session uses."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    # A 2 GB heap cap (the package defaults to 8 GB) keeps a run small;
    # the heap grows under the cap as the collector decides.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData stops the JVMs (the driver and spark-submit's
    # launcher) writing /tmp/hsperfdata_<user>.
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    confs = {"spark.driver.extraJavaOptions": java_opts,
             "spark.ui.showConsoleProgress": "false",
             "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file://" + log_dir,
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return int(cpus)


def stop_spark(spark) -> float:
    """Stop the session and the JVM, wait until the JVM and the Python
    workers it started have exited, and return the peak RSS in MB of
    this process plus its largest reaped child (the JVM)."""
    from pyspark import SparkContext

    from tracing import alive, descendants

    gw = SparkContext._gateway
    proc = gw.proc
    workers = descendants(proc.pid)
    spark.stop()
    gw.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=120)
    # The workers are the JVM's children, not ours: wait for them to go.
    deadline = time.monotonic() + 60
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if alive(p)]
        time.sleep(0.05)
    for p in workers:
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, signal.SIGKILL)
    kb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
          + resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss)
    return kb / 1024.0


def timed_loop(wl, seconds: float) -> list[dict]:
    """Closed loop with one client: whole rounds until ``seconds`` have
    passed (at least one round)."""
    ops = []
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds and not wl.exhausted():
        ops += wl.round()
    return ops


def op_p50_s(ops: list[dict]) -> float:
    """The median time of one operation, taken per source and summed
    over the sources. For ``etl_incremental`` that is one round of one
    load per source, so each source's path (CSV, JSON, stream) counts in
    proportion to its time; for ``corpus_curation`` it is the median
    pass of the curation chain."""
    walls: dict[str, list] = {}
    for o in ops:
        walls.setdefault(o["source"], []).append(o["wall_s"])
    return sum(statistics.median(w) for w in walls.values())


def run(args) -> dict:
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> dict:
    trace = bool(args.trace)
    cpus = configure_env(work, trace)
    sys.path.insert(0, ROOT)
    from pyspark_etl_project_spark.session import get_spark

    from tracing import Tracer

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_start = time.perf_counter() - t0
    run_id = f"{args.workload}-{args.seed}"
    tracer = Tracer(spark, run_id, enabled=False)

    wdir = os.path.join(work, "data")
    if args.workload == "corpus_curation":
        from curation import CurationWorkload
        wl = CurationWorkload(spark, wdir, args.seed, tracer, cpus)
    else:
        from etl import IncrementalWorkload
        wl = IncrementalWorkload(spark, wdir, args.seed, tracer)
    wl.setup()
    setup_s = time.perf_counter() - T_START

    tracer.enabled = trace
    ops = timed_loop(wl, args.seconds)
    tracer.enabled = False

    try:
        checks = wl.check()
    except Exception as exc:  # a check that cannot run is a failed check
        traceback.print_exc()
        checks = [("checks", False, f"{type(exc).__name__}: {exc}")]
    extras = wl.traced_extras() if trace else {}
    peak_rss_mb = stop_spark(spark)

    n_failed = sum(not ok for _, ok, _ in checks)
    attempted = len(ops) + len(checks)
    for name, ok, detail in checks:
        if not ok:
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)
    result = {"correct": n_failed == 0, "attempted": attempted,
              "failed": n_failed}
    if trace:
        from report import per_layer
        metrics = per_layer(tracer, ops, extras, os.path.join(work, "eventlog"),
                            session_start, n_failed / attempted, op_p50_s(ops))
        tracer.write(os.path.join(ROOT, ".perfbench_work",
                                  f"spans-{args.workload}-s{args.seed}.jsonl"))
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (op_p50_s(ops), "s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    info = {"workload": args.workload, "seed": args.seed, "cpus": cpus,
            "setup_s": setup_s, "ops": len(ops),
            "checks": len(checks),
            "walls": [(o["source"], round(o["wall_s"], 3))
                      for o in ops]}
    print(json.dumps(info), file=sys.stderr)
    return result


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
