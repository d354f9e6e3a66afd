"""Self-tests of the benchmark harness.

    python3 -m pytest perfbench/tests -q

Fast unit tests of the percentile, failure and top-k accounting and of
the event-log parser on a synthetic log, plus one tiny traced Spark
build that checks job-group and call-site attribution end to end.
"""

from __future__ import annotations

import inspect
import json
import os
import random
import shutil
import statistics
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import eventlog  # noqa: E402
import inputs  # noqa: E402
import measure  # noqa: E402


# ---- percentiles and failure accounting ----------------------------------

def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert measure.percentile(xs, 50) == 3.0
    assert measure.percentile(xs, 90) == pytest.approx(4.6)
    assert measure.percentile(xs, 0) == 1.0
    assert measure.percentile(xs, 100) == 5.0
    assert measure.percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        measure.percentile([], 50)


def test_summary_matches_statistics_quartiles():
    xs = [10.0, 12.0, 11.0, 30.0, 9.0, 10.5, 11.5, 10.2, 9.8, 10.1]
    s = measure.summary(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert (s["q1"], s["q3"]) == (q1, q3)
    assert s["median"] == statistics.median(xs)
    assert s["iqr_rel"] == pytest.approx((q3 - q1) / s["median"])
    assert measure.summary([4.0])["iqr_rel"] == 0.0


def test_ops_counts_failures_against_attempts():
    ops = measure.Ops()
    for i in range(30):
        ops.record(i % 10 != 0, error=f"boom {i}")
    assert (ops.attempted, ops.failed) == (30, 3)
    assert ops.errors == ["boom 0", "boom 10", "boom 20"]


def test_spans_record_durations():
    spans = measure.Spans()
    with spans.span("layer", group="layer#0"):
        pass
    with spans.span("layer"):
        pass
    assert len(spans.durations("layer")) == 2
    assert spans.items[0]["group"] == "layer#0"


def test_host_leg_and_rss_are_live():
    legs: list = []
    with measure.host_leg(legs, "leg"):
        sum(range(100000))
    assert legs[0]["leg"] == "leg" and legs[0]["busy_s"] >= 0
    assert measure.tree_rss_mb(os.getpid()) > 1.0


# ---- top-k checks ---------------------------------------------------------

def test_topk_mismatch_rules():
    exp = [(1, 3.0), (2, 2.0), (3, 2.0), (4, 1.0)]
    assert inputs.topk_mismatch(list(exp), exp) is None
    # docs may swap inside a tie
    assert inputs.topk_mismatch([(1, 3.0), (3, 2.0), (2, 2.0), (4, 1.0)],
                                exp) is None
    # scores within 1e-6 pass, beyond fail
    assert inputs.topk_mismatch([(1, 3.0 + 1e-9)] + exp[1:], exp) is None
    assert "score" in inputs.topk_mismatch([(1, 3.1)] + exp[1:], exp)
    # a different doc at an untied rank fails
    assert "docs" in inputs.topk_mismatch([(9, 3.0)] + exp[1:], exp)
    assert "length" in inputs.topk_mismatch(exp[:3], exp)
    # a tie that runs past k may cut at different docs
    tail = [(1, 3.0), (5, 1.0), (6, 1.0)]
    assert inputs.topk_mismatch([(1, 3.0), (7, 1.0), (5, 1.0)], tail) is None


def test_bm25_oracle_matches_tier1_oracle():
    from tests.oracle import bm25_topk_oracle
    rng = random.Random(3)
    words = [f"w{i}" for i in range(40)]
    docs = {d * 7919 - 5000: [rng.choice(words) for _ in range(rng.randint(3, 60))]
            for d in range(120)}
    queries = [rng.sample(words, rng.randint(1, 3)) for _ in range(15)]
    queries.append(["absent"])
    got = inputs.bm25_oracle(docs, queries, k=10)
    for q, g in zip(queries, got):
        assert inputs.topk_mismatch(g, bm25_topk_oracle(docs, q, 10)) is None


# ---- event-log parser on a synthetic log ----------------------------------

def _stage(sid, name, group, sql, scopes, tasks):
    props = {"spark.jobGroup.id": group, "spark.sql.execution.id": str(sql)}
    info = {"Stage ID": sid, "Stage Name": name, "Submission Time": 1000,
            "Completion Time": 3000,
            "RDD Info": [{"Scope": json.dumps({"id": "0", "name": s})}
                         for s in scopes]}
    evs = [{"Event": "SparkListenerStageSubmitted", "Stage Info": info,
            "Properties": props}]
    for dur, sw, sr, spill, recs in tasks:
        evs.append({"Event": "SparkListenerTaskEnd", "Stage ID": sid,
                    "Task Info": {"Launch Time": 0, "Finish Time": dur,
                                  "Accumulables": [{"ID": 77, "Update": "5"}]},
                    "Task Metrics": {
                        "Executor Run Time": dur,
                        "Shuffle Read Metrics": {"Local Bytes Read": sr,
                                                 "Remote Bytes Read": 0},
                        "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
                        "Memory Bytes Spilled": spill,
                        "Disk Bytes Spilled": spill,
                        "Input Metrics": {"Records Read": recs}}})
    evs.append({"Event": "SparkListenerStageCompleted", "Stage Info": info})
    return evs


def synthetic_log():
    build = os.path.join(ROOT, "pears_lite_spark", "index", "build.py")
    src, first = inspect.getsourcelines(
        __import__("pears_lite_spark.index.build",
                   fromlist=["build_from_corpus"]).build_from_corpus)
    line = first + len(src) - 5
    events = [{"Event": "SparkListenerJobStart", "Job ID": 0,
               "Submission Time": 1000, "Stage IDs": [0, 1],
               "Properties": {"spark.jobGroup.id": "build_from_corpus#0",
                              "spark.sql.execution.id": "4"}},
              {"Event": "SparkListenerJobEnd", "Job ID": 0,
               "Completion Time": 4000},
              {"Event": "org.apache.spark.sql.execution.ui."
                        "SparkListenerSQLExecutionStart", "executionId": 5,
               "sparkPlanInfo": {"nodeName": "Filter", "metrics": [],
                                 "children": [{"nodeName": "InMemoryTableScan",
                                               "metrics": [{"name": "number of output rows",
                                                            "accumulatorId": 77}],
                                               "children": []}]}}]
    events += _stage(0, f"collect at {build}:{line}", "build_from_corpus#0", 4,
                     ["Scan parquet", "MapInPandas"],
                     [(100, 0, 0, 0, 10), (300, 0, 0, 0, 10)])
    # an adaptive-execution stage: JVM call site, same SQL execution
    events += _stage(1, "$anonfun at CompletableFuture.java:1768",
                     "write_index#0", 4, ["InMemoryTableScan", "MapInPandas",
                                          "Exchange"],
                     [(50, 2**20, 0, 0, 0), (50, 2**20, 0, 2**20, 0)])
    events += _stage(2, "$anonfun at CompletableFuture.java:1768",
                     "write_index#0", 6, ["Exchange", "MapInArrow"],
                     [(80, 2**19, 2**21, 0, 0)])
    events += _stage(3, "save at NativeMethodAccessorImpl.java:0",
                     "write_index#0", 7, ["WriteFiles"], [(40, 0, 2**19, 0, 0)])
    events += _stage(4, "collect at x.py:1", "flat", 5, ["InMemoryTableScan"],
                     [(10, 0, 0, 0, 0), (10, 0, 0, 0, 0)])
    return eventlog.parse(events)


def test_parser_attributes_groups_roles_and_sums():
    log = synthetic_log()
    st = {s.sid: s for s in log.stages}
    assert st[0].base_group == "build_from_corpus" and st[0].call == 0
    assert st[0].callsite == ("index.build", "build_from_corpus")
    assert st[1].callsite == st[0].callsite          # inherited via SQL id
    assert st[2].callsite is None
    roles = [eventlog.build_role(st[i]) for i in range(4)]
    assert roles == ["phase_a", "partial_shuffle", "phase_b", "write"]
    table = eventlog.role_table(eventlog.calls(
        log, {"build_from_corpus", "write_index"})[0], eventlog.build_role)
    assert table["phase_a"]["skew"] == pytest.approx(300 / 200)
    assert table["phase_a"]["input_records"] == 20
    assert table["partial_shuffle"]["shuffle_write_mb"] == pytest.approx(2.0)
    assert table["partial_shuffle"]["spill_mb"] == pytest.approx(2.0)
    assert table["phase_b"]["shuffle_read_mb"] == pytest.approx(2.0)
    assert table["write"]["wall_s"] == pytest.approx(2.0)
    assert eventlog.reads_corpus(st[0]) and not eventlog.reads_corpus(st[1])
    assert eventlog.scan_rows(log, [st[4]]) == 10
    assert [j["sql_id"] for j in eventlog.group_jobs(log, "build_from_corpus")] == [4]
    assert eventlog.skew([]) == 0.0 and eventlog.skew([5, 5, 5]) == 1.0


# ---- a tiny traced build through Spark -------------------------------------

@pytest.fixture(scope="module")
def traced_build(tmp_path_factory):
    work = tmp_path_factory.mktemp("bench")
    script = f"""
import json, os, sys
sys.path[:0] = [{BENCH!r}, {ROOT!r}]
import run, workloads, inputs
run.spark_env({str(work)!r}, True)
r = workloads.Run("bulk-build", 5, 0, True, {str(work)!r})
r.work = {str(work)!r}
r.start_session(2)
from pears_lite_spark.corpus import write_corpus_parquet
corpus = write_corpus_parquet(r.path("corpus"), 120, seed=5, docs_per_file=30)
stats = r.fused_build([corpus], r.path("index"), 0)
run.stop_spark(r.spark)
print(json.dumps({{"n_docs": stats.n_docs}}))
"""
    proc = subprocess.run([sys.executable, "-c", script], cwd=ROOT, text=True,
                          capture_output=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    log = eventlog.parse(eventlog.read_events(os.path.join(work, "eventlog")))
    yield work, log, json.loads(proc.stdout.strip().splitlines()[-1])
    shutil.rmtree(work, ignore_errors=True)


def test_tiny_build_event_log_attribution(traced_build):
    work, log, out = traced_build
    calls = eventlog.calls(log, {"build_from_corpus", "write_index"})
    assert list(calls) == [0]
    stages = calls[0]
    table = eventlog.role_table(stages, eventlog.build_role)
    for role in ("phase_a", "stats_pass", "partial_shuffle", "phase_b", "write"):
        assert table[role]["stages"] >= 1, (role, table)
    phase_a = [s for s in stages if eventlog.build_role(s) == "phase_a"]
    assert {s.callsite for s in phase_a} == {("index.build", "build_from_corpus")}
    assert table["phase_a"]["skew"] >= 1.0
    assert table["partial_shuffle"]["shuffle_write_mb"] == pytest.approx(
        sum(s.shuffle_write for s in stages
            if eventlog.build_role(s) == "partial_shuffle") / 2**20)
    # phase B reads what the partial shuffle wrote
    assert table["phase_b"]["shuffle_read_mb"] == pytest.approx(
        table["partial_shuffle"]["shuffle_write_mb"], rel=0.01)
    assert table["write"]["spill_mb"] >= 0.0
    corpus_rows = sum(s.input_records for s in stages if eventlog.reads_corpus(s))
    assert corpus_rows == 2 * 120  # the row count, then phase A
    assert eventlog.by_callsite(log)["index.build:build_from_corpus"] > 0


def test_tiny_build_index_matches_oracle(traced_build):
    work, _, out = traced_build
    import pyarrow.parquet as pq
    from pears_lite_spark.vocab import get_vocab
    from pears_lite_spark.xxh64 import xxh64_signed
    tbl = pq.read_table(os.path.join(work, "corpus"),
                        columns=["url", "text"]).to_pydict()
    docs = {xxh64_signed(u): get_vocab().encode_as_pieces(t)
            for u, t in zip(tbl["url"], tbl["text"]) if t}
    assert out["n_docs"] == len(docs)
    queries = [["▁the"], ["▁water", "▁river"], ["▁zzz"]]
    got = inputs.score_index(os.path.join(work, "index"), queries)
    for g, e in zip(got, inputs.bm25_oracle(docs, queries)):
        assert inputs.topk_mismatch(g, e) is None


# ---- the entry point --------------------------------------------------------

def test_run_refuses_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                           "serve", "--seed", "1", "--seconds", "1",
                           "--trace", "0"], cwd=tmp_path, text=True,
                          capture_output=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_result_line_names_every_metric():
    import run
    import workloads
    r = workloads.Run("serve", 1, 1, False, ROOT)
    r.ops.record(True)
    spec = [{"name": "a", "unit": "s"}, {"name": "b", "unit": "ms"}]
    line = json.loads(run.result_line(r, {"a": 1, "b": 2.5, "c": 3}, spec))
    assert line == {"correct": True, "attempted": 1, "failed": 0,
                    "metrics": {"a": {"value": 1.0, "unit": "s"},
                                "b": {"value": 2.5, "unit": "ms"}}}
    with pytest.raises(RuntimeError):
        run.result_line(r, {"a": 1}, spec)
    r.failures.append("wrong top-k")
    assert json.loads(run.result_line(r, {"a": 1, "b": 2}, spec))["correct"] is False
