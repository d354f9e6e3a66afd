"""The workloads: bulk-build and serve, plus the resume leg that the
traced serve run adds (the `jobs.py build --resume` path).

Each workload function takes a `Run`, times calls into the program's
public functions, checks their outputs against the seeded inputs'
expected answers, and fills `run.e2e` (end-to-end metrics) and
`run.samples` (raw samples for the sidecar). Per-layer metrics are
derived afterwards from the event log (see `per_layer`).
"""

from __future__ import annotations

import itertools
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import numpy as np

import eventlog
import inputs
import layers
from measure import Ops, Spans, host_leg, percentile

NPROC = len(os.sched_getaffinity(0))
LOW_CORES = max(1, NPROC // 4)      # the N of the N-vs-4N pair

BULK_CORPUS = (3000, 24)            # (docs, files) for bulk-build
SERVE_CORPUS = (2000, 16)           # smaller: serve's set-up builds it cold;
                                    # the resume leg reuses it
MIN_BUILDS = 2
MIN_BATCHES = 2
RESUME_PARTS, CRASH_AFTER = 8, 4
OPEN_LOOP_QPS = 12.0                # about a third of the closed-loop capacity
OPEN_LOOP_MIN = 100                 # >= 10 samples beyond p90
QUERY_TIMEOUT_S = 10.0
FLAT_CHECK = 6                      # seeded queries re-run on the flat path
WARM_QUERIES = 400                  # flat-path warm-up queries (the path still
                                    # speeds up for ~1,500 queries in a JVM)
DF_CHECK = 1                        # seeded queries checked via bm25_topk


class Run:
    """State of one benchmark run: session, inputs, spans, samples."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, root: str) -> None:
        self.workload, self.seed = workload, seed
        self.seconds, self.trace = seconds, trace
        self.root = root
        self.work = os.path.join(root, ".perfbench", "work",
                                 f"{workload}-{os.getpid()}")
        self.cache = os.path.join(root, ".perfbench", "cache")
        self.rng = random.Random(seed)
        self.spans = Spans()
        self.ops = Ops()
        self.legs: list[dict] = []
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}
        self.samples: dict[str, object] = {}
        self.spark = None
        self.prefix = ""  # job-group prefix of the serving calls
        self.corpus_dir = ""  # the workload's main corpus

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def start_session(self, cores: int = NPROC) -> float:
        from pears_lite_spark.session import get_spark
        with self.spans.span("session.start") as rec:
            self.spark = get_spark(app_name=f"perfbench-{self.workload}",
                                   master=f"local[{cores}]",
                                   shuffle_partitions=cores)
            self.spark.sparkContext.setLogLevel("ERROR")
        return rec["dur"]

    def open_inputs(self, corpus: tuple[int, int],
                    cores: int = NPROC) -> "inputs.Inputs":
        """Start the session in a thread while the inputs are generated or
        loaded: the JVM launch is mostly waiting on another process."""
        errors: list[BaseException] = []

        def start() -> None:
            try:
                self.samples["session_start_s"] = self.start_session(cores)
            except BaseException as e:
                errors.append(e)

        t = threading.Thread(target=start)
        t.start()
        try:
            inp = inputs.load(self.cache, *corpus, self.seed)
        finally:
            t.join()
        if errors:
            raise errors[0]
        self.corpus_dir = inp.corpus_dir
        return inp

    @contextmanager
    def call(self, group: str):
        """A span and a Spark job group around one call into a layer."""
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            with self.spans.span(group.split("#")[0], group=group) as rec:
                yield rec
        finally:
            sc.setJobGroup("harness", "harness")

    def attempt(self, fn, *args):
        """Run one timed operation; an exception counts it as failed."""
        try:
            out = fn(*args)
        except Exception:
            self.ops.record(False, traceback.format_exc(limit=4))
            return None
        self.ops.record(True)
        return out

    # ---- calls into the program -------------------------------------

    def fused_build(self, corpus: list[str], out: str, call: int | None):
        from pears_lite_spark.index.build import build_from_corpus, write_index
        g = "warmup" if call is None else None
        with self.call(g or f"build_from_corpus#{call}"):
            postings, stats = build_from_corpus(
                self.spark.read.parquet(*corpus).select("url", "html"))
        with self.call(g or f"write_index#{call}"):
            write_index(postings, out, stats=stats)
        return stats

    def open_searcher(self, read, path: str, call: int):
        from pears_lite_spark.search.bm25 import Searcher
        with self.call(f"{self.prefix}searcher_init#{call}") as rec:
            postings, stats = read(self.spark, path)
            searcher = Searcher(postings, stats)
        info = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        self.samples.setdefault(f"{self.prefix}cache_mb", []).append(
            sum(i.memSize() + i.diskSize() for i in info) / 2**20)
        return searcher, rec["dur"]

    def batch(self, searcher, queries, call: int):
        with self.call(f"{self.prefix}batch#{call}") as rec:
            res = searcher.search(queries, k=inputs.K)
        return res, rec["dur"]

    def flat(self, searcher, q):
        with self.call(f"{self.prefix}flat"):
            return searcher.search([q], k=inputs.K)[0]

    def query(self, searcher, q, due: float):
        """One single query as a timed operation; returns (result,
        latency from `due`). A failure or timeout is a miss, and its
        latency reads as the timeout."""
        try:
            res = self.flat(searcher, q)
        except Exception:
            self.ops.record(False, traceback.format_exc(limit=4))
            return None, QUERY_TIMEOUT_S
        lat = time.perf_counter() - due
        ok = lat <= QUERY_TIMEOUT_S
        self.ops.record(ok, None if ok else f"query took {lat:.1f} s")
        return res, lat if ok else QUERY_TIMEOUT_S

    # ---- checks -------------------------------------------------------

    def check(self, name: str, got, exp) -> None:
        inputs.check_all(name, got, exp, self.failures)

    def check_serving(self, searcher, batch_res, inp, tag: str) -> None:
        """Batch top-k vs the oracle, and a seeded subset through the
        flat single-query path vs the batch kernel."""
        self.check(f"{tag} batch vs oracle", batch_res, inp.expected)
        picks = self.rng.sample(range(len(inp.queries)),
                                min(FLAT_CHECK, len(inp.queries)))
        self.check(f"{tag} flat vs batch",
                   [self.flat(searcher, inp.queries[i]) for i in picks],
                   [batch_res[i] for i in picks])


def repeat(seconds: float, min_ops: int, op) -> None:
    """Call op(i) until `seconds` have passed and at least min_ops ran."""
    t_end = time.perf_counter() + seconds
    i = 0
    while i < min_ops or time.perf_counter() < t_end:
        op(i)
        i += 1


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)


def index_facts(run: Run, path: str, n_docs: int) -> None:
    run.e2e["index_bytes_per_doc"] = dir_bytes(path) / n_docs
    run.samples["files_written"] = parquet_files(path)


# ---- bulk-build --------------------------------------------------------

def bulk_build(run: Run) -> None:
    """Timed: repeated fused builds (build_from_corpus + write_index) of
    the whole corpus at local[nproc]. After the timed window the newest
    index's files are scored against the oracle. A traced run adds the
    weak-scaling leg."""
    t0 = time.perf_counter()
    inp = run.open_inputs(BULK_CORPUS)
    # the first build in a JVM runs cold, and the next ones still speed
    # up: a warm-up over the whole corpus leaves less of that in the
    # timed builds than one over a single file, for about 3 s more
    run.fused_build([inp.corpus_dir], run.path("warmup"), None)
    run.e2e["setup_s"] = time.perf_counter() - t0

    walls: list[float] = []
    built: list[str] = []

    def build(i: int) -> None:
        out = run.path(f"index{i}")
        with host_leg(run.legs, f"build{i}"):
            t = time.perf_counter()
            stats = run.fused_build([inp.corpus_dir], out, i)
            walls.append(time.perf_counter() - t)
        if stats.n_docs != inp.n_docs:
            run.failures.append(f"build {i}: {stats.n_docs} docs, "
                                f"expected {inp.n_docs}")
        if built:  # keep only the newest index on disk
            shutil.rmtree(built.pop(), ignore_errors=True)
        built.append(out)

    repeat(run.seconds, MIN_BUILDS, lambda i: run.attempt(build, i))
    if not walls:
        raise RuntimeError("no build succeeded")
    run.samples["build_s"] = walls
    med = statistics.median(walls)
    run.e2e["throughput_per_s"] = inp.n_docs / med
    run.e2e["latency_p50_ms"] = med * 1000
    index_facts(run, built[-1], inp.n_docs)
    run.check("index files vs oracle",
              inputs.score_index(built[-1], inp.queries), inp.expected)
    if run.trace:
        run.samples["scaling"] = scaling_leg(run, inp, med)


def scaling_leg(run: Run, inp, high_wall: float) -> dict:
    """Weak scaling: the same build at local[nproc/4] over a quarter of
    the files, in a fresh JVM (a child process). Efficiency is the
    nproc throughput over 4x the nproc/4 throughput."""
    cmd = [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
           "--leg", "low", "--seed", str(run.seed)]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=150,
                          cwd=run.root)
    if proc.returncode != 0:
        raise RuntimeError(f"scaling leg failed: {proc.stderr[-2000:]}")
    low = json.loads(proc.stdout.strip().splitlines()[-1])
    high_rate = inp.n_docs / high_wall
    low_rate = low["n_docs"] / low["build_s"]
    low["efficiency"] = high_rate / (NPROC / LOW_CORES * low_rate)
    return low


def low_leg(run: Run) -> dict:
    """Body of the scaling leg's child process."""
    inp = run.open_inputs(BULK_CORPUS, LOW_CORES)
    files = inp.files[:len(inp.files) * LOW_CORES // NPROC]
    run.fused_build(files[:1], run.path("warmup"), None)
    with host_leg(run.legs, "low_build0"):
        t = time.perf_counter()
        n_docs = run.fused_build(files, run.path("index0"), 0).n_docs
        wall = time.perf_counter() - t
    return {"cores": LOW_CORES, "files": len(files), "n_docs": n_docs,
            "build_s": wall, "legs": run.legs}


# ---- serve -------------------------------------------------------------

def serve(run: Run) -> None:
    """Setup builds the index, opens a Searcher, and warms the flat path
    (WARM_QUERIES, cycling through the query set, from nproc threads)
    and the batch kernel. Timed: a closed loop of single queries with
    nproc clients, an open loop, and repeated batch calls over the whole
    query set. The closed loop goes first: the flat path still speeds up
    after the warm-up, and the open loop's tail is the more sensitive to
    that."""
    from pears_lite_spark.index.build import read_index
    t0 = time.perf_counter()
    inp = run.open_inputs(SERVE_CORPUS)
    qs = inp.queries
    idx = run.path("index")
    with host_leg(run.legs, "build0"):
        stats = run.fused_build([inp.corpus_dir], idx, 0)
    searcher, init = run.open_searcher(read_index, idx, 0)
    run.samples["searcher_init_s"] = [init]
    # warm-up at the loops' concurrency: with 10 sequential queries
    # instead, the first quarter of the open loop ran up to 3x slower;
    # the closed loop, which runs first, warms the path further
    order = [j % len(qs) for j in range(WARM_QUERIES)]
    with ThreadPoolExecutor(max_workers=NPROC) as pool:
        flat_res = list(zip(order, pool.map(
            lambda i: run.flat(searcher, qs[i]), order)))
    run.batch(searcher, qs, -1)
    run.e2e["setup_s"] = time.perf_counter() - t0
    if stats.n_docs != inp.n_docs:
        run.failures.append(f"{stats.n_docs} docs, expected {inp.n_docs}")
    index_facts(run, idx, inp.n_docs)

    rate, closed = closed_loop(run, searcher, qs, run.seconds * 0.3, flat_res)
    run.e2e["throughput_per_s"] = rate
    run.e2e["latency_p50_ms"] = percentile(closed, 50) * 1000
    n_open = max(OPEN_LOOP_MIN, round(OPEN_LOOP_QPS * run.seconds * 0.6))
    lat, lag = open_loop(run, searcher, qs, n_open, flat_res)
    run.samples["open_p50_ms"] = percentile(lat, 50) * 1000
    run.samples["open_p90_ms"] = percentile(lat, 90) * 1000
    run.samples.update(closed_latency_s=closed, open_latency_s=lat,
                       generator_lag_s=lag)
    batches: list[float] = []
    results: list = []

    def one_batch(i: int) -> None:
        res, dur = run.batch(searcher, qs, i)
        batches.append(dur)
        results.append(res)

    repeat(run.seconds / 10, MIN_BATCHES, lambda i: run.attempt(one_batch, i))
    if not batches:
        raise RuntimeError("no batch call succeeded")
    run.samples["batch_s"] = batches

    batch_res = results[0]
    run.check("batch vs oracle", batch_res, inp.expected)
    run.check("flat vs batch", [r for _, r in flat_res],
              [batch_res[i] for i, _ in flat_res])
    run.check("index files vs oracle", inputs.score_index(idx, qs), inp.expected)
    df_check(run, inp)
    searcher.close()
    if run.trace:
        resume_leg(run, inp, batch_res)


def open_loop(run: Run, searcher, qs, n: int, results: list):
    """Seeded Poisson arrivals at OPEN_LOOP_QPS, sent by at most nproc
    threads; each latency counts from the scheduled send time. Queries
    cycle through a seeded permutation, so every query runs at least
    once when n >= the query count."""
    rng = np.random.default_rng(run.seed)
    due = np.cumsum(rng.exponential(1.0 / OPEN_LOOP_QPS, n))
    perm = rng.permutation(len(qs))
    order = [int(perm[j % len(qs)]) for j in range(n)]
    lat = [0.0] * n
    lag = [0.0] * n

    def send(j: int, at: float) -> None:
        res, lat[j] = run.query(searcher, qs[order[j]], at)
        if res is not None:
            results.append((order[j], res))

    with ThreadPoolExecutor(max_workers=NPROC) as pool:
        start = time.perf_counter() + 0.05
        futures = []
        for j in range(n):
            at = start + due[j]
            wait = at - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            lag[j] = time.perf_counter() - at
            futures.append(pool.submit(send, j, at))
        for f in futures:
            f.result()
    return lat, lag


def closed_loop(run: Run, searcher, qs, seconds: float, results: list):
    """nproc clients, each sending its next query when the last returns;
    returns completed queries per second and each query's latency. The
    clients take their queries in turn from a seeded permutation of the
    query set, repeated, so a window holds the same mix of cheap and
    costly queries whatever the seed."""
    stop = time.perf_counter() + seconds
    done = [0] * NPROC
    lat: list[float] = []
    perm = list(range(len(qs)))
    random.Random(run.seed).shuffle(perm)
    order = itertools.cycle(perm)
    lock = threading.Lock()

    def client(c: int) -> None:
        while time.perf_counter() < stop:
            with lock:
                qi = next(order)
            res, took = run.query(searcher, qs[qi], time.perf_counter())
            lat.append(took)
            if res is not None:
                done[c] += 1
                results.append((qi, res))

    threads = [threading.Thread(target=client, args=(c,)) for c in range(NPROC)]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return sum(done) / (time.perf_counter() - t0), lat


def df_check(run: Run, inp) -> None:
    """A seeded subset through the DataFrame bm25_topk path (the
    exhaustive scorer tier-1 pins to its oracle)."""
    from pears_lite_spark.search.bm25 import bm25_topk
    tokens = run.spark.read.parquet(inp.tokens_path)
    picks = run.rng.sample(range(len(inp.queries)), DF_CHECK)
    with run.call("verify"):
        got = [[(int(r["doc_id"]), float(r["score"])) for r in
                bm25_topk(tokens, inp.queries[i], inputs.K).collect()]
               for i in picks]
    run.check("bm25_topk vs oracle", got, [inp.expected[i] for i in picks])


# ---- the resume leg (traced serve runs) --------------------------------

def manifest_mtimes(path: str) -> dict[str, int]:
    return {f: os.stat(os.path.join(path, f)).st_mtime_ns
            for f in os.listdir(path) if f.startswith("manifest_")}


def resume_leg(run: Run, inp, ref_topk: list) -> None:
    """The jobs.py `build --resume` path on serve's corpus, traced with
    serve: ingest_tokens, build_resumable with an injected crash,
    build_resumable again to completion, read_resumable + Searcher, and
    the batch query set over the multi-part index, whose top-k must
    equal the fused index's (`ref_topk`)."""
    from pears_lite_spark.index.build import ingest_tokens
    from pears_lite_spark.index.checkpoint import build_resumable, read_resumable
    run.prefix = "resume."
    out = run.path("resumable")
    t = time.perf_counter()
    tokens = ingest_tokens(run.spark.read.parquet(inp.corpus_dir)) \
        .select("doc_id", "tokens")
    crashed = False
    with run.call("build_resumable.first#0"):
        try:
            build_resumable(tokens, out, n_parts=RESUME_PARTS,
                            fail_after_parts=CRASH_AFTER)
        except RuntimeError as e:
            crashed = "injected failure" in str(e)
            if not crashed:
                raise
    before = manifest_mtimes(out)
    with run.call("build_resumable.resume#0"):
        stats = build_resumable(tokens, out, n_parts=RESUME_PARTS)
    wall = time.perf_counter() - t
    after = manifest_mtimes(out)
    redone = sorted(m for m in after if before.get(m) != after[m])
    if not crashed or len(before) != CRASH_AFTER or \
            redone != sorted(set(after) - set(before)):
        run.failures.append(f"resume: crashed={crashed}, {len(before)} parts "
                            f"before resume, rebuilt {redone}")
    if stats.n_docs != inp.n_docs:
        run.failures.append(f"resume: {stats.n_docs} docs, expected {inp.n_docs}")
    searcher, init = run.open_searcher(read_resumable, out, 0)
    res, dur = run.batch(searcher, inp.queries, 0)
    run.check("resumable vs fused", res, ref_topk)
    run.check_serving(searcher, res, inp, "resumable")
    searcher.close()
    run.samples["resume"] = {
        "n_docs": inp.n_docs, "build_s": wall, "docs_per_s": inp.n_docs / wall,
        "parts_rebuilt": len(redone), "searcher_init_s": init,
        "batch_query_s": dur, "index_bytes_per_doc": dir_bytes(out) / inp.n_docs}
    run.prefix = ""


WORKLOADS = {"bulk-build": bulk_build, "serve": serve}


# ---- per-layer metrics from the traced run -----------------------------

def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def per_layer(run: Run, log: eventlog.Log, probes: dict) -> dict:
    """Every per-layer metric. A layer the workload does not exercise
    reads 0: the serving layers (searcher.*, flat.*, batch.*, generator
    lag) and checkpoint.* (its leg runs in traced serve runs) outside
    serve, the scaling pair outside bulk-build."""
    m: dict[str, float] = {"session.start_s": run.samples["session_start_s"]}
    m.update(probes)
    build_calls = eventlog.calls(log, {"build_from_corpus", "write_index"})
    tables = {c: eventlog.role_table(st, eventlog.build_role)
              for c, st in build_calls.items()}
    run.samples["build_roles"] = tables

    def role(r: str, key: str) -> float:
        return _med(t.get(r, {}).get(key, 0.0) for t in tables.values())

    m["build.build_from_corpus_s"] = _med(run.spans.durations("build_from_corpus"))
    m["build.write_index_s"] = _med(run.spans.durations("write_index"))
    for r in ("phase_a", "stats_pass", "phase_b", "write"):
        m[f"build.{r}_s"] = role(r, "wall_s")
    m["build.phase_a_skew"] = role("phase_a", "skew")
    m["build.phase_b_skew"] = role("phase_b", "skew")
    m["build.partial_shuffle_mb"] = role("partial_shuffle", "shuffle_write_mb")
    m["build.write_shuffle_mb"] = role("phase_b", "shuffle_write_mb")
    m["build.exchanges"] = _med(
        sum(1 for s in st if s.shuffle_write > 0 and eventlog.build_role(s)
            in ("phase_a", "partial_shuffle", "phase_b"))
        for st in build_calls.values())
    m["build.spill_mb"] = _med(sum(r["spill_mb"] for r in t.values())
                               for t in tables.values())
    m["build.files_written"] = run.samples.get("files_written", 0)
    legs = [g for g in run.legs if g["leg"].startswith("build")]
    m["build.host_cpu_s"] = _med(g["busy_s"] for g in legs)
    m["build.steal_s"] = _med(g["steal_s"] for g in legs)
    m["build.scaling_eff_1v4"] = run.samples.get("scaling", {}).get("efficiency", 0.0)

    resume = run.samples.get("resume", {})
    m["checkpoint.first_attempt_s"] = _med(run.spans.durations("build_resumable.first"))
    m["checkpoint.resume_s"] = _med(run.spans.durations("build_resumable.resume"))
    rstages = [s for st in eventlog.calls(
        log, {"build_resumable.first", "build_resumable.resume"}).values()
        for s in st]
    run.samples["resume_roles"] = eventlog.role_table(rstages,
                                                      eventlog.build_role)
    m["checkpoint.corpus_passes"] = (
        sum(s.input_records for s in rstages if eventlog.reads_corpus(s))
        / inputs.load(run.cache, *SERVE_CORPUS, run.seed).n_rows
        if resume else 0.0)
    m["checkpoint.parts_rebuilt_on_resume"] = resume.get("parts_rebuilt", 0)

    split = eventlog.searcher_init_split(log, "searcher_init")
    for k in ("block_cache", "term_dfs", "flat_decode"):
        m[f"searcher.init_{k}_s"] = _med(d[k] for d in split.values())
    m["searcher.init_s"] = _med(run.samples.get("searcher_init_s", []))
    m["searcher.cache_mb"] = _med(run.samples.get("cache_mb", []))

    n_flat = max(1, len(run.spans.durations("flat")))
    flat_stages = [s for s in log.stages if s.base_group == "flat"]
    m["flat.jobs_per_query"] = len(eventlog.group_jobs(log, "flat")) / n_flat
    m["flat.tasks_per_query"] = sum(len(s.task_ms) for s in flat_stages) / n_flat
    m["flat.rows_scanned_per_query"] = eventlog.scan_rows(log, flat_stages) / n_flat
    m["flat.open_loop_p50_ms"] = run.samples.get("open_p50_ms", 0.0)
    m["flat.open_loop_p90_ms"] = run.samples.get("open_p90_ms", 0.0)

    kernels: dict[int, list] = {}
    for s in log.stages:
        if s.base_group == "batch" and (s.call or 0) >= 0 \
                and "MapInArrow" in s.scopes:
            kernels.setdefault(s.call, []).append(s)
    m["batch.query_s"] = _med(run.samples.get("batch_s", []))
    m["batch.kernel_s"] = _med(sum(s.wall_s for s in st) for st in kernels.values())
    m["batch.kernel_skew"] = _med(eventlog.skew([t for s in st for t in s.task_ms])
                                  for st in kernels.values())
    m["batch.tasks"] = _med(sum(len(s.task_ms) for s in st) for st in kernels.values())
    m["memory.peak_rss_mb"] = run.samples["peak_rss_mb"]
    lag = run.samples.get("generator_lag_s")
    m["serve.generator_lag_ms"] = percentile(lag, 50) * 1000 if lag else 0.0
    run.samples["callsite_wall_s"] = eventlog.by_callsite(log)
    return m


def python_probes(run: Run) -> dict:
    return layers.probe_all(run.corpus_dir, run.seed)
