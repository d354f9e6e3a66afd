"""Benchmark harness: index-build throughput + BM25 query latency +
two-parallelism scaling efficiency (the BASELINE.json north-rule
criteria, sandbox protocol per BASELINE.md).

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {...per-phase seconds...}, "sf": ...,
   "index_docs_per_sec": ..., "bm25_p50_ms": ...,
   "scaling": {"throughput_low": ..., "throughput_high": ...,
               "efficiency": ...},
   "scaling_1v4": {...same shape at 1 vs 4 cores — the N-vs-4N pair
                   whose high leg fits under the host quota...}}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: the CPUs this process may run on; the
     scaling run uses CPUS/4 vs CPUS),
     PEARS_BENCH_DOCS (override corpus size), PEARS_BENCH_SKIP_SCALING.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def make_session(cores: int, shuffle_partitions: int | None = None):
    from pears_lite_spark.session import get_spark
    spark = get_spark(app_name=f"pears-bench-{cores}",
                      master=f"local[{cores}]",
                      shuffle_partitions=shuffle_partitions or cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def corpus_path(n_docs: int) -> str:
    """Deterministic synthetic HTML corpus, generated once per size.

    Written as 64 evenly-sized files: with Spark's file-packing math
    (bytesPerCore = (total + 4MB-openCost x n_files) / parallelism) the
    scan then lands on EXACTLY 32/8/4/2 partitions at 32/8/4/2 cores —
    one even wave per leg. The previous 2500-docs-per-file layout gave
    40 splits, i.e. a 1.25-wave phase A at 32 cores: wave 2 ran 8
    tasks while 24 slots idled, ~10% of the build wall. Same docs,
    same bytes, same index — only the file boundaries move."""
    from pears_lite_spark.corpus import write_corpus_parquet
    path = f"/tmp/pears_bench_corpus_{n_docs}_f64.parquet"
    if not os.path.exists(path):
        t0 = time.time()
        write_corpus_parquet(path, n_docs,
                             docs_per_file=max(50, -(-n_docs // 64)))
        log(f"generated corpus n={n_docs} in {time.time()-t0:.1f}s")
    return path


def build_index_job(spark, cpath: str, out_dir: str):
    """The full north-rule pipeline: html -> extract -> SPM tokenize ->
    postings blocks -> bucketed parquet, fused so neither html nor
    token arrays cross the Arrow bridge twice. Returns stats."""
    from pears_lite_spark.index.build import build_from_corpus, write_index
    # the corpus directory holds many ~2500-doc files, so the scan
    # splits across executors with NO shuffle of the html payload (at
    # web scale you never repartition 100 TB of raw bytes)
    corpus = spark.read.parquet(cpath).select("url", "html")
    postings, stats = build_from_corpus(corpus)
    write_index(postings, out_dir, stats=stats)
    return stats


def _proc_stat() -> tuple[float, float]:
    """(busy_sec, steal_sec) VM-wide from /proc/stat's cpu line — we
    are the only tenant inside this VM, so the busy delta across a
    timed leg is the leg's own CPU consumption and the steal delta is
    hypervisor-level time taken FROM us."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    tck = os.sysconf("SC_CLK_TCK")
    user, nice, system = int(f[1]), int(f[2]), int(f[3])
    irq, softirq = int(f[6]), int(f[7])
    steal = int(f[8]) if len(f) > 8 else 0
    return (user + nice + system + irq + softirq) / tck, steal / tck


def _timed_build_inproc(cores: int, cpath: str,
                        tag: str) -> tuple[float, int, float, float]:
    spark = make_session(cores)
    try:
        # steady-state measurement: warm the JVM and EVERY Python worker
        # (numpy/pyarrow imports, vocab + word-cache load) with a
        # miniature build fanned across all cores, then time the real job
        warm = (spark.read.parquet(cpath).limit(40 * cores)
                .repartition(2 * cores))
        warm.write.mode("overwrite").parquet("/tmp/pears_bench_warm_in")
        build_index_job(spark, "/tmp/pears_bench_warm_in",
                        f"/tmp/pears_bench_warm_{tag}")
        out = f"/tmp/pears_bench_idx_{tag}"
        busy0, steal0 = _proc_stat()
        t0 = time.time()
        stats = build_index_job(spark, cpath, out)
        dt = time.time() - t0
        busy1, steal1 = _proc_stat()
        return dt, stats.n_docs, busy1 - busy0, steal1 - steal0
    finally:
        spark.stop()


def timed_build(cores: int, cpath: str,
                tag: str) -> tuple[float, int, float, float]:
    """Run the timed build in a FRESH subprocess so each parallelism
    level gets its own JVM (no GC/heap contamination between runs).
    Returns (wall_sec, n_docs, cpu_sec, steal_sec): the cpu/steal pair
    decomposes a slow leg into per-core slowdown (cpu_sec inflation:
    clocks / memory stalls / steal) vs idle cores (constant cpu_sec,
    longer wall: scheduling or skew — the only ALGORITHMIC failure)."""
    import subprocess
    code = (f"import sys; sys.path.insert(0, {os.path.dirname(os.path.abspath(__file__))!r}); "
            f"import bench; dt, n, cpu, steal = bench._timed_build_inproc({cores}, {cpath!r}, {tag!r}); "
            f"print('RESULT', dt, n, cpu, steal)")
    proc = subprocess.run([sys.executable, "-c", code],
                          capture_output=True, text=True, timeout=3000)
    for line in proc.stdout.splitlines():
        if line.startswith("RESULT"):
            _, dt, n, cpu, steal = line.split()
            return float(dt), int(n), float(cpu), float(steal)
    raise RuntimeError(f"timed_build subprocess failed: "
                       f"{proc.stdout[-500:]} {proc.stderr[-2000:]}")


_CEIL_CODE = """
import numpy as np, time
rng = np.random.default_rng(0)
d = np.sort(rng.integers(0, 2**62, 2_000_000))
t0 = time.time()
for _ in range(8):
    order = np.lexsort((d, d >> 32))
    x = d[order]; v = (x >> 7).astype(np.uint64)
    nb = np.searchsorted(np.array([1 << (7*i) for i in range(1, 10)],
                         dtype=np.uint64), v, side='right') + 1
    idx = np.repeat(np.arange(v.size), nb)
    out = ((v[idx] >> (7*(np.arange(idx.size) % 3).astype(np.uint64)))
           & np.uint64(0x7F)).astype(np.uint8)
print(time.time() - t0)
"""


_MEMBW_CODE = """
import numpy as np, time
a = np.ones(64_000_000)            # 512 MB of float64 — far beyond L3
best = 1e9
for _ in range(3):
    t0 = time.time(); s = a.sum(); best = min(best, time.time() - t0)
print(0.5 / best)                  # GB read per pass / best seconds
"""


_MEMLAT_CODE = """
import numpy as np, time
rng = np.random.default_rng(1)
N = 8_000_000                      # 64 MB of int64 — DRAM-resident
a = rng.permutation(N).astype(np.int64)
idx = np.arange(N, dtype=np.int64)
t0 = time.time()
for _ in range(2):
    idx = a[idx]                   # random gather sweep (latency-bound)
print(time.time() - t0)
"""


def memlat(n: int) -> dict:
    """Concurrent random-GATHER throughput — the build's actual memory
    shape (lexsort/gather/varint), and the resource this host loses
    under co-tenancy: measured 2026-08-18, per-proc gather time
    inflated 7.5x from 1 to 16 procs while streaming bandwidth held
    10.9 GB/s/proc and pure compute inflated only 1.10x. Steal reads 0
    during it — the contention is outside the VM, on the memory
    subsystem. Recorded per sample so a slow build leg is attributable
    in-file."""
    import subprocess

    def per_proc(k: int) -> float:
        procs = [subprocess.Popen([sys.executable, "-c", _MEMLAT_CODE],
                                  stdout=subprocess.PIPE, text=True)
                 for _ in range(k)]
        return statistics.mean(float(p.communicate()[0]) for p in procs)

    single = per_proc(1)
    # measure hypervisor steal across the n-proc leg for free: sample 9
    # (BASELINE.md) showed a second degradation mode — plain CPU
    # preemption with CLEAN gather readings — so the window gates need
    # both signals and this probe is the only load the gate runs
    busy0, steal0 = _proc_stat()
    per = per_proc(n)
    busy1, steal1 = _proc_stat()
    d_busy, d_steal = busy1 - busy0, steal1 - steal0
    return {"single_sec": round(single, 2),
            f"at{n}_per_proc_sec": round(per, 2),
            f"at{n}_inflation": round(per / max(single, 1e-9), 2),
            f"at{n}_steal_frac": round(d_steal / max(d_busy + d_steal, 1e-9), 3)}


def membw_gbps(n: int) -> dict:
    """Absolute memory-READ bandwidth, single-proc and n-proc aggregate.
    The ceiling probe's 16MB working set partially fits cache, so it
    catches SCALING dirt but not a uniform aggregate-bandwidth
    reduction — the round-5 A/B showed exactly that blind spot (clean
    1.00 ceilings around build legs running 1.6x slow; r3 code and r5
    code identical within noise). This probe streams 512MB/proc so a
    shrunken bandwidth quota shows up as an absolute number."""
    import subprocess

    def per_proc(k: int) -> float:
        procs = [subprocess.Popen([sys.executable, "-c", _MEMBW_CODE],
                                  stdout=subprocess.PIPE, text=True)
                 for _ in range(k)]
        return statistics.mean(float(p.communicate()[0]) for p in procs)

    single = per_proc(1)
    per = per_proc(n)
    return {"single_gbps": round(single, 2),
            f"at{n}_per_proc_gbps": round(per, 2),
            f"at{n}_aggregate_gbps": round(n * per, 2)}


def hardware_ceiling(low: int, high: int) -> float:
    """Measured intrinsic process-scaling ceiling of THIS host for
    kernel-shaped numpy work (lexsort/gather/varint mix): run the same
    fixed workload in `low` and `high` concurrent processes; the
    per-process slowdown (turbo clocks + shared memory bus) bounds any
    job's achievable low->high efficiency. Reported next to the raw
    number so a single-box proxy run is interpretable against the
    multi-executor criterion (separate machines don't share a bus)."""
    import subprocess

    def per_proc(n: int) -> float:
        procs = [subprocess.Popen([sys.executable, "-c", _CEIL_CODE],
                                  stdout=subprocess.PIPE, text=True)
                 for _ in range(n)]
        return statistics.mean(float(p.communicate()[0]) for p in procs)

    # best-of-2 interleaved: a stray background burst (or a JVM still
    # exiting) poisons a single sample badly
    lo = min(per_proc(low), per_proc(low))
    hi = min(per_proc(high), per_proc(high))
    return max(1e-9, min(1.0, lo / hi))


def synth_docs(spark, n: int):
    """Deterministic ~24-token synthetic docs, pure column algebra (no
    Python in the generator): ids with id%100 in {0,1} form identical-
    text pairs (planted near-dups for the dedup probes)."""
    return spark.range(n).selectExpr(
        "id as doc_id",
        "array_join(transform(sequence(0, 23), i -> concat('w', "
        " pmod((CASE WHEN id % 100 < 2 THEN id - (id % 100) ELSE id END)"
        "      * 1099511628211 + i * 2654435761, 999983))), ' ') as text")


def synth_embeddings(spark, n: int, dim: int = 64):
    """Deterministic pseudo-random float vectors via sin() column
    algebra — spread enough for k-means/PQ training, zero Python."""
    return spark.range(n).selectExpr(
        "id as vec_id",
        f"transform(sequence(0, {dim - 1}), "
        " i -> sin(id * 0.7 + i * 1.3) + 0.1 * sin(id * 3.1 + i * 0.37))"
        " as embedding")


def run_scale_probes(cpus: int) -> dict:
    """Wall-times for span_dedup / dedup_clusters / IVF-PQ at 1x and
    10x synthetic scale. dedup_clusters runs max_hamming=1 (16-bit band
    keys): the right band width at >=1M docs — 8-bit keys (k=3)
    degenerate toward all-pairs there (see dedup.dedup_clusters)."""
    from pears_lite_spark.ann import ivf_pq_topk_indexed, write_ann_index
    from pears_lite_spark.dedup import dedup_clusters, span_dedup
    probes: dict = {}
    spark = make_session(cpus)
    try:
        # warm-up at tiny scale: whole-stage codegen compiles and
        # Python-worker startup otherwise land in the 1x leg and make
        # the 10x ratio look sub-unity
        warm = synth_docs(spark, 2000)
        span_dedup(warm, k=12).count()
        dedup_clusters(warm, max_hamming=1).count()
        write_ann_index(synth_embeddings(spark, 2000),
                        "/tmp/pears_bench_ann_warm", n_cells=64)
        for n in (100_000, 1_000_000):
            docs = synth_docs(spark, n)
            docs.count()  # materialize the generator outside the timing
            t0 = time.time()
            span_dedup(docs, k=12).count()
            probes[f"span_dedup_{n}"] = round(time.time() - t0, 2)
            stats: dict = {}
            t0 = time.time()
            n_clustered = dedup_clusters(docs, max_hamming=1,
                                         stats_out=stats).count()
            probes[f"dedup_clusters_{n}"] = round(time.time() - t0, 2)
            probes[f"dedup_clusters_{n}_iters"] = stats.get("cc_iters")
            assert n_clustered == n
            if n == 1_000_000:
                # VERDICT r04 #2 evidence: 64-bit SimHash band-bucket
                # occupancy at 1M docs. max_hamming=3 -> four disjoint
                # 16-bit bands; the near-dup bucket join stays sublinear
                # iff bucket sizes stay ~n/65536 (+ planted-dup mass),
                # not ~n/256 as the old 32-bit/8-bit-band fingerprint
                # gave at this scale.
                from pyspark.sql import functions as F
                from pears_lite_spark.dedup import simhash64
                t0 = time.time()
                keyed = simhash64(docs).select(
                    F.posexplode(F.array(*[
                        F.shiftright(F.col("simhash"), i * 16)
                        .bitwiseAND((1 << 16) - 1) for i in range(4)]))
                    .alias("band", "key"))
                occ = (keyed.groupBy("band", "key").count()
                       .agg(F.max("count").alias("mx"),
                            F.avg("count").alias("avg")).collect()[0])
                probes["simhash64_band_occupancy_1000000"] = {
                    "bands": 4, "band_bits": 16,
                    "max_bucket": int(occ["mx"]),
                    "mean_bucket": round(float(occ["avg"]), 2),
                    "expected_uniform": round(n / 65536.0, 2),
                    "seconds": round(time.time() - t0, 2)}
        for nv in (10_000, 100_000):
            emb = synth_embeddings(spark, nv)
            qvecs = [r["embedding"] for r in emb.limit(5).collect()]
            idx_path = f"/tmp/pears_bench_ann_{nv}"
            t0 = time.time()
            write_ann_index(emb, idx_path, n_cells=64)
            probes[f"ivf_pq_build_{nv}"] = round(time.time() - t0, 2)
            t0 = time.time()
            for q in qvecs:
                ivf_pq_topk_indexed(spark, idx_path,
                                    [float(x) for x in q], k=10).collect()
            probes[f"ivf_pq_probe5_{nv}"] = round(time.time() - t0, 2)
        for op in ("span_dedup", "dedup_clusters"):
            probes[f"{op}_10x_ratio"] = round(
                probes[f"{op}_1000000"] / probes[f"{op}_100000"], 2)
        probes["ivf_pq_build_10x_ratio"] = round(
            probes["ivf_pq_build_100000"] / probes["ivf_pq_build_10000"], 2)
    finally:
        spark.stop()
    return probes


def wait_clean_window() -> dict:
    """Bounded pre-wait for a clean measurement window. This host shows
    minute-scale bursts of EXTERNAL memory-subsystem contention
    (BASELINE.md round-5 attribution: concurrent random-gather latency
    inflates up to 7-15x at 8 procs while steal and streaming bandwidth
    stay clean), and an unattended launch that lands inside a burst
    measures the co-tenant, not the engine. Poll the cheap gather probe
    (~2 s) every 60 s and start as soon as 8-proc inflation reads
    <= 1.5x; start anyway when the budget (PEARS_BENCH_MAX_WAIT,
    default 900 s, 0 disables) is exhausted. The returned fields are
    recorded in the result JSON so a sample that had to launch dirty
    says so in-file."""
    budget = float(os.environ.get("PEARS_BENCH_MAX_WAIT", "900"))
    # budget is WALL time including probe time: under contention the
    # memlat probe itself runs 2-10x slow, and counting only the sleeps
    # would balloon a "900 s" budget into hours on exactly the hosts
    # that trigger the wait
    t0 = time.time()
    m = memlat(8)
    waited = time.time() - t0
    while _window_dirty(m) and waited < budget:
        log(f"window wait: gather inflation {m['at8_inflation']:.2f} / "
            f"steal {m['at8_steal_frac']:.2f} dirty, "
            f"{budget - waited:.0f}s of budget left")
        time.sleep(60)
        m = memlat(8)
        waited = time.time() - t0
    return {"window_wait_sec": round(waited, 0),
            "window_gather_at_start": m["at8_inflation"],
            "window_steal_at_start": m["at8_steal_frac"]}


def _window_dirty(m: dict) -> bool:
    """Both host-degradation modes seen this round (BASELINE.md):
    gather-latency inflation >1.5x (memory-subsystem co-tenant, steal
    reads 0) OR hypervisor steal >10% during the probe's own 8-proc leg
    (CPU preemption, gather reads clean — sample 9)."""
    return m["at8_inflation"] > 1.5 or m["at8_steal_frac"] > 0.10


def maybe_abort_dirty(infl: float, stage: str,
                      steal_frac: float = 0.0) -> None:
    """Opt-in early abort (PEARS_BENCH_ABORT_DIRTY=1): when a gate wait
    exhausted its budget with the gather probe still dirty, the sample
    is already junk — every subsequent timed leg measures the co-tenant
    burst, not the engine (sample r5_s3: launch gate read clean, the
    burst arrived during the first regate, build@32 recorded 1331 d/s
    vs the 6-14k clean band, then 35 more minutes of doomed legs ran
    anyway). Under an unattended watcher it is strictly better to throw
    the sample away after ~4 minutes and re-probe than to spend a
    40-minute window budget producing a number nobody can use. Prints a
    machine-readable one-liner (so the watcher can log WHY) and exits 3."""
    if os.environ.get("PEARS_BENCH_ABORT_DIRTY") and (
            infl > 1.5 or steal_frac > 0.10):
        print(json.dumps({"aborted": "dirty-window", "stage": stage,
                          "gather_inflation": round(infl, 2),
                          "steal_frac": round(steal_frac, 3)}))
        sys.exit(3)


def _regate(used: dict) -> float:
    """Between timed legs: if the gather probe reads dirty, wait for it
    to clear so the NEXT leg measures the engine, not a co-tenant burst.
    Sample 7 motivated this: the launch gate read clean (gather 1.14)
    and the burst arrived one minute later, poisoning all nine legs
    best-of-3 couldn't save. Per-call budget PEARS_BENCH_LEG_WAIT
    (default 240 s), cumulative budget PEARS_BENCH_TOTAL_WAIT (default
    2400 s) shared via `used`; returns the inflation at leg start —
    recorded per leg, so a leg that had to start dirty says so."""
    per_leg = float(os.environ.get("PEARS_BENCH_LEG_WAIT", "240"))
    total = float(os.environ.get("PEARS_BENCH_TOTAL_WAIT", "2400"))
    # wall-clock budgets including probe time (see wait_clean_window)
    t0 = time.time()
    m = memlat(8)
    last = time.time()
    used["wait"] += last - t0
    waited = last - t0
    while _window_dirty(m) and waited < per_leg and used["wait"] < total:
        log(f"regate wait: gather inflation {m['at8_inflation']:.2f} / "
            f"steal {m['at8_steal_frac']:.2f} dirty "
            f"(leg budget {per_leg - waited:.0f}s, "
            f"total budget {total - used['wait']:.0f}s left)")
        time.sleep(45)
        m = memlat(8)
        now = time.time()
        used["wait"] += now - last
        last = now
        waited = now - t0
    return m["at8_inflation"]


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from pears_lite_spark.session import default_cpus
    cpus = default_cpus()
    sf = sf_dir.rstrip("/").split("sf")[-1]
    import duckdb
    sf_docs = duckdb.connect().execute(
        f"select count(*) from read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    n_docs = int(os.environ.get("PEARS_BENCH_DOCS", max(20 * sf_docs, 10000)))
    cpath = corpus_path(n_docs)
    window = wait_clean_window()
    maybe_abort_dirty(window["window_gather_at_start"], "launch",
                      window["window_steal_at_start"])

    queries_sec: dict[str, float] = {}

    # ---- phase 1: index build at full parallelism (headline throughput)
    # best-of-N: single-JVM local mode shows 2-3x run-to-run variance
    # from VM CPU steal / boost state, so one sample is meaningless
    reps_hi = int(os.environ.get("PEARS_BENCH_REPEATS", "3"))
    wait_used = {"wait": 0.0}
    hi_runs, build_gather = [], []
    for r in range(reps_hi):
        build_gather.append(_regate(wait_used))
        if r == 0:
            maybe_abort_dirty(build_gather[0], "first-build-leg")
        hi_runs.append(timed_build(cpus, cpath, f"high{cpus}_{r}"))
    t_high, built_docs, build_cpu, build_steal = min(
        hi_runs, key=lambda t: t[0])
    queries_sec["index_build"] = round(t_high, 3)
    thr_high = built_docs / t_high
    log(f"build@{cpus}: {t_high:.1f}s = {thr_high:.0f} docs/s")

    # ---- phase 2: N vs 4N scaling (north rule). This host exposes 32
    # LOGICAL cpus over 16 physical cores (SMT): thread pairs 8->32
    # cannot scale 4x by hardware, so the sandbox proxy measures the
    # algorithmic scaling inside the physical-core budget (2 vs 8),
    # subprocess-isolated so each level gets a fresh JVM. See BASELINE.md.
    scaling = None
    scaling_1v4 = None
    if not os.environ.get("PEARS_BENCH_SKIP_SCALING"):
        low = int(os.environ.get("PEARS_SCALE_LOW", "2"))
        high = int(os.environ.get("PEARS_SCALE_HIGH", str(4 * low)))
        reps = int(os.environ.get("PEARS_BENCH_REPEATS", "3"))
        # Tenancy drift protocol: (a) ALTERNATE low/high legs so a
        # degraded-host burst hits both levels instead of silently
        # poisoning whichever level happened to run inside it (observed:
        # an 8-core leg 1.5x slower between same-day samples while the
        # 2-core legs matched to 1%); (b) measure the hardware ceiling
        # immediately BEFORE and AFTER the legs so mid-run drift is
        # visible in the recorded file, and normalize against the
        # CLEANER (higher) of the two — the conservative reading.
        ceil_pre = hardware_ceiling(low, high)
        membw_pre = membw_gbps(high)
        memlat_pre = memlat(high)
        lo_runs, hi_runs2 = [], []
        leg_gather_low, leg_gather_high = [], []
        for r in range(reps):
            leg_gather_low.append(_regate(wait_used))
            lo_runs.append(timed_build(low, cpath, f"low{low}_{r}"))
            leg_gather_high.append(_regate(wait_used))
            hi_runs2.append(timed_build(high, cpath, f"sc{high}_{r}"))
        t_los = [t[0] for t in lo_runs]
        t_his = [t[0] for t in hi_runs2]
        t_lo, t_hi = min(t_los), min(t_his)
        cpu_lo = lo_runs[t_los.index(t_lo)][2]
        cpu_hi = hi_runs2[t_his.index(t_hi)][2]
        ceil_post = hardware_ceiling(low, high)
        membw_post = membw_gbps(high)
        memlat_post = memlat(high)
        queries_sec[f"index_build_{low}core"] = round(t_lo, 3)
        queries_sec[f"index_build_{high}core"] = round(t_hi, 3)
        thr_low = built_docs / t_lo
        thr_hi = built_docs / t_hi
        eff = thr_hi / ((high / low) * thr_low)
        ceil_eff = max(ceil_pre, ceil_post)
        scaling = {"cores_low": low, "cores_high": high,
                   # every rep, not just the min: leg-to-leg drift is
                   # the signal the short ceiling probes can miss
                   # (observed: clean 1.00 ceilings around legs that
                   # scaled at 0.56 while singles degraded 1.5x)
                   "leg_times_low": [round(t, 2) for t in t_los],
                   "leg_times_high": [round(t, 2) for t in t_his],
                   "throughput_low": round(thr_low, 1),
                   "throughput_high": round(thr_hi, 1),
                   "efficiency": round(eff, 3),
                   # raw efficiency x the winning legs' cpu-sec
                   # inflation: identical work costing more cpu-sec at
                   # higher concurrency is per-core memory contention
                   # (host), not idle cores or skew (algorithm) — this
                   # field reads the algorithmic residual alone. On a
                   # real multi-executor cluster (separate memory buses)
                   # the raw and normalized numbers converge.
                   "efficiency_work_normalized": round(
                       min(1.0, eff * cpu_hi / max(cpu_lo, 1e-9)), 3),
                   "hardware_ceiling": round(ceil_eff, 3),
                   "hardware_ceiling_pre": round(ceil_pre, 3),
                   "hardware_ceiling_post": round(ceil_post, 3),
                   "efficiency_vs_ceiling": round(min(1.0, eff / ceil_eff), 3),
                   "membw_pre": membw_pre, "membw_post": membw_post,
                   "memlat_pre": memlat_pre, "memlat_post": memlat_post,
                   # VM-wide CPU + hypervisor-steal seconds per leg
                   # (/proc/stat): constant cpu across levels + eff<1
                   # means idle cores (algorithmic); inflated cpu or
                   # steal means the host, not the plan
                   "leg_cpu_low": [round(t[2], 1) for t in lo_runs],
                   "leg_cpu_high": [round(t[2], 1) for t in hi_runs2],
                   "leg_steal_low": [round(t[3], 1) for t in lo_runs],
                   "leg_steal_high": [round(t[3], 1) for t in hi_runs2],
                   # gather inflation at each leg's start (the re-gate
                   # reading): >1.5 means that leg launched into a
                   # burst the wait budget could not outlast
                   "leg_gather_low": leg_gather_low,
                   "leg_gather_high": leg_gather_high}
        log(f"scaling {low}->{high}: {thr_low:.0f} -> {thr_hi:.0f} docs/s, "
            f"eff={eff:.2f} (host ceiling pre/post "
            f"{ceil_pre:.2f}/{ceil_post:.2f} -> normalized "
            f"{eff / ceil_eff:.2f})")

        # Supplementary N-vs-4N pair at 1->4 cores. The north rule reads
        # "N and 4N executors"; 1->4 satisfies it exactly, and its HIGH
        # leg (~4-5k docs/s) fits UNDER the host's current ~6k docs/s
        # aggregate random-access quota, so this pair answers the
        # criterion without the co-tenant ceiling that caps the 2->8
        # high leg (BASELINE.md round-5 attribution; the worst-window
        # floor measured raw 0.733 / work-normalized 0.897 even at a
        # post-ceiling of 0.05). Single rep by default — the 1-core leg
        # is the expensive one; PEARS_BENCH_1V4_REPEATS overrides.
        reps14 = int(os.environ.get("PEARS_BENCH_1V4_REPEATS", "1"))
        if reps14 > 0:
            lo14, hi14, g14 = [], [], []
            for r in range(reps14):
                g14.append(round(_regate(wait_used), 2))
                lo14.append(timed_build(1, cpath, f"low1_{r}"))
                g14.append(round(_regate(wait_used), 2))
                hi14.append(timed_build(4, cpath, f"sc4_{r}"))
            # cpu-sec from the same rep as each min-wall leg (as the
            # 2->8 block does): min(cpu) could pair a fast leg's wall
            # with a different leg's cpu
            best_lo = min(lo14, key=lambda t: t[0])
            best_hi = min(hi14, key=lambda t: t[0])
            t14_lo, cpu14_lo = best_lo[0], best_lo[2]
            t14_hi, cpu14_hi = best_hi[0], best_hi[2]
            thr14_lo = built_docs / t14_lo
            thr14_hi = built_docs / t14_hi
            eff14 = thr14_hi / (4.0 * thr14_lo)
            scaling_1v4 = {
                "cores_low": 1, "cores_high": 4,
                "leg_times_low": [round(t[0], 2) for t in lo14],
                "leg_times_high": [round(t[0], 2) for t in hi14],
                "leg_cpu_low": [round(t[2], 1) for t in lo14],
                "leg_cpu_high": [round(t[2], 1) for t in hi14],
                "leg_steal_low": [round(t[3], 1) for t in lo14],
                "leg_steal_high": [round(t[3], 1) for t in hi14],
                "leg_gather": g14,
                "throughput_low": round(thr14_lo, 1),
                "throughput_high": round(thr14_hi, 1),
                "efficiency": round(eff14, 3),
                "efficiency_work_normalized": round(
                    min(1.0, eff14 * cpu14_hi / max(cpu14_lo, 1e-9)), 3),
            }
            log(f"scaling 1->4: {thr14_lo:.0f} -> {thr14_hi:.0f} docs/s, "
                f"eff={eff14:.2f} (work-normalized "
                f"{scaling_1v4['efficiency_work_normalized']:.2f})")

    # ---- phase 3: query serving over the built index
    from pears_lite_spark.corpus import gen_corpus, gen_query_set
    from pears_lite_spark.index.build import read_index
    from pears_lite_spark.search.bm25 import Searcher
    from pears_lite_spark.vocab import get_vocab

    spark = make_session(cpus)
    try:
        postings, stats = read_index(spark,
                                     f"/tmp/pears_bench_idx_high{cpus}_0")
        searcher = Searcher(postings, stats)  # doc_range-partitioned cache
        v = get_vocab()
        qset = gen_query_set(gen_corpus(min(n_docs, 2000)))
        qpieces = [v.encode_as_pieces(q) for q in qset]
        qpieces = [p for p in qpieces if p]

        searcher.search([qpieces[0]], k=10)  # warm the serving path
        # batch: all queries in one job (the scale path)
        t0 = time.time()
        res = searcher.search(qpieces, k=10)
        t_batch = time.time() - t0
        queries_sec["bm25_batch_60q"] = round(t_batch, 3)
        log(f"batch {len(qpieces)} queries: {t_batch:.2f}s "
            f"({sum(len(r) for r in res)} rows)")

        # p50 single-query latency (sequential jobs, warm cache);
        # best-of-2 passes — same VM-noise protocol as the build legs
        # (BASELINE.md "Scaling-measurement variance")
        def p50_pass() -> float:
            lat = []
            for p in qpieces[:30]:
                t0 = time.time()
                searcher.search([p], k=10)
                lat.append(time.time() - t0)
            return statistics.median(lat)

        p50_s = min(p50_pass(), p50_pass())
        p50 = p50_s * 1000
        queries_sec["bm25_single_p50"] = round(p50_s, 4)
        log(f"p50 single-query latency: {p50:.0f} ms")

        # concurrent serving curve: 1/2/4/8/16 threads hammering the
        # lock-free flat path (cloned-session design, bm25.py) — the
        # knee of this curve is the per-replica sizing datapoint for
        # the multi-replica serving story (BASELINE.md)
        import threading

        def qps_at(n_threads: int, n_queries: int = 40) -> float:
            conc_q = [qpieces[i % len(qpieces)] for i in range(n_queries)]
            errs: list = []

            def worker(chunk):
                try:
                    for p in chunk:
                        searcher.search([p], k=10)
                except Exception as e:
                    errs.append(e)

            threads = [threading.Thread(target=worker,
                                        args=(conc_q[i::n_threads],))
                       for i in range(n_threads)]
            t0 = time.time()
            for th in threads:
                th.start()
            for th in threads:
                th.join()
            if errs:
                raise errs[0]
            return len(conc_q) / (time.time() - t0)

        qps_curve = {}
        for nt in (1, 2, 4, 8, 16):
            qps_curve[str(nt)] = round(qps_at(nt), 1)
            log(f"serving {nt:>2} threads: {qps_curve[str(nt)]} QPS")
        conc_qps = qps_curve["4"]  # round-over-round comparable figure
        queries_sec["bm25_concurrent_40q_4thr"] = round(40 / conc_qps, 3)

        # dedup + analysis ops over the sf documents table
        from pears_lite_spark.dedup import lsh_candidate_pairs
        from pears_lite_spark.functions.textstats import quality_scores
        docs_tbl = spark.read.parquet(f"{sf_dir}/documents.parquet")
        t0 = time.time()
        lsh_candidate_pairs(docs_tbl, num_hashes=8, bands=2).count()
        queries_sec["minhash_lsh"] = round(time.time() - t0, 3)
        t0 = time.time()
        quality_scores(docs_tbl).count()
        queries_sec["quality_scores"] = round(time.time() - t0, 3)
        from pears_lite_spark.dedup import span_dedup
        t0 = time.time()
        span_dedup(docs_tbl, k=12).count()
        queries_sec["span_dedup"] = round(time.time() - t0, 3)
        from pears_lite_spark.functions.textstats import unigram_loglik
        t0 = time.time()
        unigram_loglik(docs_tbl).count()
        queries_sec["unigram_loglik"] = round(time.time() - t0, 3)
        from pears_lite_spark.functions.textstats import gopher_rules
        t0 = time.time()
        gopher_rules(docs_tbl, min_words=20).count()
        queries_sec["gopher_rules"] = round(time.time() - t0, 3)
        # line dedup over the contract's deterministic 10-word line
        # breaking (the sf documents table has no newlines of its own)
        from pears_lite_spark.contract import q_line_dedup
        t0 = time.time()
        q_line_dedup(spark, sf_dir).count()
        queries_sec["line_dedup"] = round(time.time() - t0, 3)
        from pears_lite_spark.functions.textstats import classifier_score
        t0 = time.time()
        classifier_score(docs_tbl).count()
        queries_sec["classifier_score"] = round(time.time() - t0, 3)
        from pears_lite_spark.functions.sampling import pack_sequences
        t0 = time.time()
        pack_sequences(docs_tbl, seq_len=2048).count()
        queries_sec["pack_sequences"] = round(time.time() - t0, 3)

        # snapshot-catalog scan overhead vs the raw parquet read it
        # wraps: same sf documents, 10% of rows behind an equality
        # delete — the broadcast anti-join should cost ~nothing next
        # to the scan itself
        import shutil
        import tempfile
        from pears_lite_spark import catalog as cat
        tdir = os.path.join(tempfile.gettempdir(), "pears_bench_tbl")
        if os.path.exists(tdir):
            shutil.rmtree(tdir)
        cat.create_table(docs_tbl, tdir, key_col="doc_id")
        cat.delete_where(spark, tdir, "doc_id % 10 = 0")
        t0 = time.time()
        spark.read.parquet(f"{sf_dir}/documents.parquet") \
            .filter("doc_id % 10 <> 0").count()
        t_raw = time.time() - t0
        t0 = time.time()
        cat.scan(spark, tdir).count()
        t_cat = time.time() - t0
        queries_sec["catalog_scan"] = round(t_cat, 3)
        queries_sec["catalog_scan_raw_parquet"] = round(t_raw, 3)
        log(f"catalog scan (10% deleted): {t_cat:.2f}s vs raw "
            f"parquet filter {t_raw:.2f}s")
        shutil.rmtree(tdir, ignore_errors=True)
    finally:
        spark.stop()

    # ---- phase 4: media decode throughput (driver-local numpy — the
    # per-executor kernel the mapInPandas media ops run; VERDICT r03 #2
    # asks for a recorded decode rate on a 1024^2 PNG)
    import numpy as np
    from pears_lite_spark.functions import codecs
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (1024, 1024, 3), dtype=np.uint8)
    png_decode_mpps = {}
    for ft in (1, 4):  # vectorized cumsum path vs sequential Paeth
        png = codecs.encode_png(img, filter_type=ft)
        t0 = time.time()
        codecs.decode_png(png)
        png_decode_mpps[f"filter{ft}"] = round(
            (1024 * 1024 / 1e6) / (time.time() - t0), 2)
    log(f"png decode 1024^2 (Mpix/s): {png_decode_mpps}")

    # ---- phase 5: 1x vs 10x scale probes for the pipeline ops
    # (VERDICT r03 #3): same job at 100k and 1M docs (10k/100k vectors
    # for ANN) — the ratio exposes any super-linear blowup.
    scale_probes = None
    if not os.environ.get("PEARS_BENCH_SKIP_SCALE_PROBES"):
        scale_probes = run_scale_probes(cpus)
        log(f"scale probes: {scale_probes}")

    total = sum(queries_sec.values())
    out = {
        "metric": "index-build throughput + BM25 p50 latency + scaling efficiency",
        "value": round(total, 3),
        "unit": "sec",
        "queries": queries_sec,
        "sf": float(sf),
        "window": window,
        "build_leg_gather": build_gather,
        "regate_wait_sec": round(wait_used["wait"], 0),
        "bench_corpus_docs": built_docs,
        "index_docs_per_sec": round(thr_high, 1),
        "index_build_cpu_sec": round(build_cpu, 1),
        "index_build_steal_sec": round(build_steal, 1),
        "bm25_p50_ms": round(p50, 1),
        "bm25_concurrent_qps": round(conc_qps, 1),
        "bm25_qps_curve": qps_curve,
        "png_decode_mpix_per_s": png_decode_mpps,
        "scale_probes": scale_probes,
        "scaling": scaling,
        "scaling_1v4": scaling_1v4,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
