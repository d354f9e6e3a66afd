"""Headline benchmark: index-build throughput, BM25 query latency and
N-vs-4N strong-scaling efficiency, measured with perfbench's code
(perfbench/README.md) on one fixed corpus.

    python bench.py

Two legs, each a child process `python bench.py --leg <cores>` with its
own JVM, at `session.default_cpus()` cores and at a quarter of that.
Each leg warms up with one fused build (build_from_corpus + write_index)
of the whole corpus, as perfbench's bulk-build does (a smaller warm-up
left the first timed build every leg's slowest), then times BUILDS such
builds. The high leg then opens a Searcher on its index and times one
call over the whole query set (after an untimed one), each query once
on its own (after a warm pass), and a closed loop of nproc clients.

The last stdout line is the headline JSON object (under 1 KB); the
per-build walls and quartiles, /proc/stat busy and steal per build,
per-query latencies and failures go to the sidecar file it names.
`correct` is true when every build indexed every document, the batch
top-k matches the oracle's and each single query matches the batch.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
CORPUS = (99_000, 64)    # pages, files: 64 equal files split evenly at
                         # 1, 2, 4 ... 64 cores
SEED = 42
BUILDS = 3
CLOSED_LOOP_S = 5.0
SIDECAR = os.path.join(".perfbench", "bench.json")  # not under out/: the
                         # perfbench summarizer reads every file there


def leg(cores: int, serve: bool) -> dict:
    """Body of one leg's child process; runs from the repository root."""
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    import run
    import workloads
    from measure import host_leg, summary
    r = workloads.Run("bench", SEED, CLOSED_LOOP_S, False, ROOT)
    run.spark_env(r.work, False)
    out: dict = {"cores": cores}
    try:
        inp = r.open_inputs(CORPUS, cores)
        t = time.perf_counter()
        r.fused_build([inp.corpus_dir], r.path("warmup"), None)
        out["warmup_s"] = time.perf_counter() - t
        idx, walls = r.path("index"), []
        for i in range(BUILDS):
            with host_leg(r.legs, f"build{i}"):
                t = time.perf_counter()
                n = r.fused_build([inp.corpus_dir], idx, i).n_docs
                walls.append(time.perf_counter() - t)
            if n != inp.n_docs:
                r.failures.append(f"build {i}: {n} docs, expected {inp.n_docs}")
        out.update(n_docs=inp.n_docs, build_s=walls, build=summary(walls),
                   host_legs=r.legs)
        if serve:
            out.update(serve_index(r, inp, idx))
    finally:
        run.stop_spark(r.spark)
        shutil.rmtree(r.work, ignore_errors=True)
    out.update(failures=r.failures, failed_ops=r.ops.failed,
               errors=r.ops.errors)
    return out


def serve_index(r, inp, idx: str) -> dict:
    from pears_lite_spark.index.build import read_index
    from inputs import K
    from workloads import closed_loop
    qs = inp.queries
    searcher, init = r.open_searcher(read_index, idx, 0)
    r.batch(searcher, qs, -1)
    res, batch_s = r.batch(searcher, qs, 0)
    r.check("batch vs oracle", res, inp.expected)
    # single queries are timed without Run.flat's job-group calls: two
    # py4j round trips, ~0.3 ms of a ~2 ms query that starts no job
    for q in qs:
        searcher.search([q], k=K)
    single, lat = [], []
    for q in qs:
        t = time.perf_counter()
        single.append(searcher.search([q], k=K)[0])
        lat.append(time.perf_counter() - t)
    r.check("single vs batch", single, res)
    qps, closed = closed_loop(r, searcher, qs, CLOSED_LOOP_S, [])
    searcher.close()
    return {"searcher_init_s": init, "batch_s": batch_s,
            "n_queries": len(qs), "single_s": lat, "closed_qps": qps,
            "closed_latency_s": closed}


def headline(lo: dict, hi: dict) -> str:
    """The headline JSON line from the two legs' result dicts."""
    t_lo = statistics.median(lo["build_s"])
    t_hi = statistics.median(hi["build_s"])
    p50 = statistics.median(hi["single_s"])
    thr_lo, thr_hi = lo["n_docs"] / t_lo, hi["n_docs"] / t_hi
    queries = {"index_build": round(t_hi, 3),
               f"index_build_{lo['cores']}core": round(t_lo, 3),
               f"index_build_{hi['cores']}core": round(t_hi, 3),
               "bm25_batch_60q": round(hi["batch_s"], 4),
               "bm25_single_p50": round(p50, 4)}
    return json.dumps({
        "metric": "index-build throughput + BM25 p50 latency + scaling efficiency",
        "value": round(sum(queries.values()), 3), "unit": "sec",
        "queries": queries,
        "correct": not (lo["failures"] or hi["failures"]),
        "bench_corpus_docs": hi["n_docs"],
        "index_docs_per_sec": round(thr_hi, 1),
        "bm25_p50_ms": round(p50 * 1000, 2),
        "bm25_concurrent_qps": round(hi["closed_qps"], 1),
        "scaling": {"cores_low": lo["cores"], "cores_high": hi["cores"],
                    "throughput_low": round(thr_lo, 1),
                    "throughput_high": round(thr_hi, 1),
                    "efficiency": round(
                        thr_hi / (hi["cores"] / lo["cores"] * thr_lo), 3)},
        "sidecar": SIDECAR})


def run_leg(cores: int) -> dict:
    proc = subprocess.run([sys.executable, os.path.abspath(__file__),
                           "--leg", str(cores)],
                          cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if proc.returncode != 0:
        raise RuntimeError(f"leg at {cores} cores exited {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--leg", type=int, help="internal: run one leg")
    args = p.parse_args(argv)
    from pears_lite_spark.session import default_cpus
    high = default_cpus()
    if args.leg:
        print(json.dumps(leg(args.leg, args.leg == high)))
        return 0
    hi = run_leg(high)
    lo = run_leg(max(1, high // 4))
    line = headline(lo, hi)
    with open(os.path.join(ROOT, SIDECAR), "w") as fh:
        json.dump({"headline": json.loads(line), "low": lo, "high": hi},
                  fh, indent=1)
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
