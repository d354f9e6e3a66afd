"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload bulk-build --seed 1 --seconds 10 --trace 0

Workloads: bulk-build and serve (see perfbench/README.md).
The last stdout line is one JSON object: {"correct", "attempted",
"failed", "metrics"}; metrics are the end-to-end ones of BENCHMARK.json
with --trace 0 and the per-layer ones with --trace 1. Samples, spans,
/proc/stat legs and event-log tables go to a sidecar file under
.perfbench/out/. Exits non-zero without a result line when the program
is missing or set-up fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WATCHDOG_S = 170


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", default="bulk-build")
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--leg", choices=("low",), default=None,
                   help="internal: the nproc/4 leg of the scaling pair")
    return p.parse_args(argv)


def spark_env(work: str, trace: bool) -> None:
    """Point every scratch location of Spark, the JVM and the Python
    workers into the run's work directory, before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    conf = ["spark.ui.showConsoleProgress=false",
            f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf += ["spark.eventLog.enabled=true", "spark.eventLog.compress=false",
                 f"spark.eventLog.dir=file://{log_dir}"]
    java = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData"
    args = [a for c in conf for a in ("--conf", c)]
    args += ["--driver-java-options", java, "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args)


def stop_spark(spark) -> None:
    """Stop the session, close the JVM's stdin (it exits on EOF) and
    wait for it and every other child process to end."""
    from pyspark import SparkContext
    import measure
    gw = SparkContext._gateway
    if spark is not None:
        spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while measure.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    measure.kill_descendants(os.getpid())


def watchdog(work: str) -> None:
    """Past WATCHDOG_S: kill every child (the JVM, its Python workers, a
    scaling-leg child), drop the work directory and exit 3, no result."""
    import measure
    measure.kill_descendants(os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os._exit(3)


def result_line(run, metrics: dict, spec: list[dict]) -> str:
    missing = [m["name"] for m in spec if m["name"] not in metrics]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    return json.dumps({
        "correct": not run.failures,
        "attempted": run.ops.attempted,
        "failed": run.ops.failed,
        "metrics": {m["name"]: {"value": float(metrics[m["name"]]),
                                "unit": m["unit"]} for m in spec}})


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pears_lite_spark")):
        print("perfbench: run from the repository root (no pears_lite_spark/ "
              "here)", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    if args.leg is None and args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; one of {names}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import measure
    import workloads
    import eventlog

    trace = bool(args.trace) and args.leg is None
    run = workloads.Run(args.leg or args.workload, args.seed, args.seconds,
                        trace, ROOT)
    timer = threading.Timer(WATCHDOG_S, watchdog, (run.work,))
    timer.daemon = True
    timer.start()
    spark_env(run.work, trace)
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    try:
        with measure.RssSampler() as rss:
            try:
                if args.leg == "low":
                    leg = workloads.low_leg(run)
                else:
                    workloads.WORKLOADS[args.workload](run)
            finally:
                stop_spark(run.spark)
        if args.leg == "low":
            print(json.dumps(leg))
            return 0
        run.samples["peak_rss_mb"] = rss.peak_mb
        run.samples["rss_at_peak_mb"] = rss.at_peak
        side = {"args": vars(args), "nproc": workloads.NPROC,
                "e2e": run.e2e, "failures": run.failures,
                "errors": run.ops.errors, "legs": run.legs,
                "attempted": run.ops.attempted, "failed": run.ops.failed}
        if trace:
            log = eventlog.parse(eventlog.read_events(
                os.path.join(run.work, "eventlog")))
            side["layers"] = workloads.per_layer(
                run, log, workloads.python_probes(run))
            line = result_line(run, side["layers"], bench["per_layer"])
        else:
            line = result_line(run, run.e2e, bench["end_to_end"])
        side["samples"] = run.samples
        side["spans"] = run.spans.items
        name = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json"
        with open(os.path.join(out_dir, name), "w") as fh:
            json.dump(side, fh, indent=1, default=str)
        print(line, flush=True)
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(run.work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
