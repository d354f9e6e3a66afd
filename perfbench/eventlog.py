"""Stage metrics from Spark's own event log, attributed two ways.

1. By job group: the harness wraps each call into a layer in
   `setJobGroup("<layer>#<call>")`, and every stage carries its job
   group in its submission properties.
2. By call site: a stage name reads "<action> at <file>:<line>"; a
   line in a repository module maps to the function that encloses it
   (found with `ast`, so the map follows the source). Stages that
   adaptive execution submits from its own threads have a JVM call site
   and inherit the Python call site of their SQL execution.

Each stage then gets a role (phase A, stats pass, partial shuffle,
phase B, write, ...) from its call site and the physical operators
(RDD scopes) it ran.
"""

from __future__ import annotations

import ast
import functools
import glob
import json
import os
import re
import statistics
from dataclasses import dataclass, field

_CALLSITE = re.compile(r" at (\S+\.py):(\d+)$")


@dataclass
class Stage:
    sid: int
    name: str
    group: str | None
    sql_id: int | None
    scopes: set[str]
    submit_ms: int
    complete_ms: int
    task_ms: list[int] = field(default_factory=list)
    run_ms: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    input_records: int = 0
    accums: dict[int, int] = field(default_factory=dict)
    callsite: tuple[str, str] | None = None  # (module, function)

    @property
    def wall_s(self) -> float:
        return (self.complete_ms - self.submit_ms) / 1000.0

    @property
    def base_group(self) -> str | None:
        return self.group.split("#")[0] if self.group else None

    @property
    def call(self) -> int | None:
        if self.group and "#" in self.group:
            return int(self.group.split("#")[1])
        return None


@dataclass
class Log:
    stages: list[Stage]
    # SQL execution id -> accumulator ids of the outermost
    # InMemoryTableScan's "number of output rows"
    scan_rows_accums: dict[int, set[int]]
    jobs: list[dict]


def read_events(log_dir: str) -> list[dict]:
    """All events of the (single) application logged under log_dir;
    Spark 4 writes a directory of rolling `events_<n>_<app>` files."""
    files = [f for f in glob.glob(os.path.join(log_dir, "**", "*"),
                                  recursive=True)
             if os.path.isfile(f) and "appstatus" not in f
             and not f.endswith(".inprogress")]

    def order(f):
        m = re.search(r"events_(\d+)_", os.path.basename(f))
        return int(m.group(1)) if m else 0
    events = []
    for f in sorted(files, key=order):
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


@functools.lru_cache(maxsize=None)
def _functions(path: str) -> list[tuple[int, int, str]]:
    with open(path) as fh:
        tree = ast.parse(fh.read())
    spans = []
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            spans.append((node.lineno, node.end_lineno, node.name))
    return spans


def callsite(stage_name: str, package: str = "pears_lite_spark") -> tuple[str, str] | None:
    """("index.build", "build_from_corpus") for a stage named
    "collect at .../pears_lite_spark/index/build.py:786"."""
    m = _CALLSITE.search(stage_name)
    if not m or f"/{package}/" not in m.group(1):
        return None
    path, line = m.group(1), int(m.group(2))
    module = path.split(f"/{package}/", 1)[1][:-3].replace("/", ".")
    func = "<module>"
    if os.path.exists(path):
        inner = [s for s in _functions(path) if s[0] <= line <= s[1]]
        if inner:  # innermost enclosing function
            func = max(inner, key=lambda s: s[0])[2]
    return module, func


def _outer_scan_rows(plan: dict) -> int | None:
    """Accumulator id of the first InMemoryTableScan in pre-order."""
    if plan.get("nodeName") == "InMemoryTableScan":
        for m in plan.get("metrics", []):
            if m["name"] == "number of output rows":
                return m["accumulatorId"]
    for child in plan.get("children", []):
        found = _outer_scan_rows(child)
        if found is not None:
            return found
    return None


def parse(events: list[dict]) -> Log:
    submitted: dict[int, dict] = {}
    stages: dict[int, Stage] = {}
    scans: dict[int, set[int]] = {}
    jobs: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerStageSubmitted":
            submitted[e["Stage Info"]["Stage ID"]] = e.get("Properties") or {}
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            props = submitted.get(si["Stage ID"], {})
            sql = props.get("spark.sql.execution.id")
            scopes = set()
            for r in si.get("RDD Info", []):
                if r.get("Scope"):
                    scopes.add(json.loads(r["Scope"])["name"].strip())
            stages[si["Stage ID"]] = Stage(
                sid=si["Stage ID"], name=si["Stage Name"],
                group=props.get("spark.jobGroup.id"),
                sql_id=int(sql) if sql is not None else None,
                scopes=scopes, submit_ms=si.get("Submission Time") or 0,
                complete_ms=si.get("Completion Time") or 0)
        elif kind == "SparkListenerTaskEnd":
            tasks.setdefault(e["Stage ID"], []).append(e)
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            sql = props.get("spark.sql.execution.id")
            jobs[e["Job ID"]] = {
                "id": e["Job ID"], "start_ms": e["Submission Time"],
                "group": props.get("spark.jobGroup.id"),
                "sql_id": int(sql) if sql is not None else None,
                "stages": e["Stage IDs"]}
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end_ms"] = e["Completion Time"]
        elif kind.endswith("SQLExecutionStart") or \
                kind.endswith("SQLAdaptiveExecutionUpdate"):
            acc = _outer_scan_rows(e["sparkPlanInfo"])
            if acc is not None:
                scans.setdefault(e["executionId"], set()).add(acc)
    out = [stages[k] for k in sorted(stages)]
    for st in out:
        for e in tasks.get(st.sid, ()):
            _add_task(st, e)
    # call sites: python frame of the stage, else of its SQL execution
    by_sql: dict[int, tuple[str, str]] = {}
    for st in out:
        st.callsite = callsite(st.name)
        if st.callsite and st.sql_id is not None:
            by_sql.setdefault(st.sql_id, st.callsite)
    for st in out:
        if st.callsite is None and st.sql_id is not None:
            st.callsite = by_sql.get(st.sql_id)
    return Log(stages=out, scan_rows_accums=scans,
               jobs=[jobs[k] for k in sorted(jobs)])


def _add_task(st: Stage, e: dict) -> None:
    info, m = e["Task Info"], e.get("Task Metrics") or {}
    st.task_ms.append(info["Finish Time"] - info["Launch Time"])
    st.run_ms += m.get("Executor Run Time", 0)
    sr = m.get("Shuffle Read Metrics", {})
    st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st.shuffle_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    st.input_records += m.get("Input Metrics", {}).get("Records Read", 0)
    for a in info.get("Accumulables", []):
        try:
            st.accums[a["ID"]] = st.accums.get(a["ID"], 0) + int(a["Update"])
        except (KeyError, TypeError, ValueError):
            continue


_TOKENS_STATS = {"corpus_stats", "input_fingerprint"}


def build_role(st: Stage) -> str:
    """Role of a stage inside a build (fused or tokens path)."""
    s = st.scopes
    fn = st.callsite[1] if st.callsite else None
    if "WriteFiles" in s:
        return "write"
    if "MapInPandas" in s and "InMemoryTableScan" not in s:
        return "stats_pass" if fn in _TOKENS_STATS else "phase_a"
    if "MapInPandas" in s and "MapInArrow" not in s and st.shuffle_write > 0:
        return "partial_shuffle"
    if "MapInArrow" in s and st.shuffle_read > 0:
        return "phase_b"
    if "MapInArrow" in s and "InMemoryTableScan" in s:
        return "stats_pass"
    return "other"


def reads_corpus(st: Stage) -> bool:
    """A stage that scans the parquet corpus itself (not a cache)."""
    return "Scan parquet" in st.scopes and "InMemoryTableScan" not in st.scopes


def skew(task_ms: list[int]) -> float:
    """max / median task duration (1.0 for perfectly even tasks)."""
    if not task_ms:
        return 0.0
    med = statistics.median(task_ms)
    return max(task_ms) / med if med else 0.0


def role_table(stages: list[Stage], role_of) -> dict[str, dict]:
    """Per role: wall seconds, task skew, shuffle bytes, spill, tasks."""
    out: dict[str, dict] = {}
    for st in stages:
        r = out.setdefault(role_of(st), {
            "wall_s": 0.0, "run_s": 0.0, "tasks": [], "stages": 0,
            "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
            "spill_mb": 0.0, "input_records": 0})
        r["wall_s"] += st.wall_s
        r["run_s"] += st.run_ms / 1000.0
        r["tasks"] += st.task_ms
        r["stages"] += 1
        r["shuffle_write_mb"] += st.shuffle_write / 2**20
        r["shuffle_read_mb"] += st.shuffle_read / 2**20
        r["spill_mb"] += st.spill / 2**20
        r["input_records"] += st.input_records
    for r in out.values():
        r["skew"] = skew(r["tasks"])
        r["n_tasks"] = len(r.pop("tasks"))
    return out


def calls(log: Log, groups: set[str]) -> dict[int, list[Stage]]:
    """Stages of the given job groups, keyed by the call index."""
    out: dict[int, list[Stage]] = {}
    for st in log.stages:
        if st.base_group in groups and st.call is not None:
            out.setdefault(st.call, []).append(st)
    return out


def group_jobs(log: Log, group: str) -> list[dict]:
    return [j for j in log.jobs if j["group"] and
            j["group"].split("#")[0] == group]


def searcher_init_split(log: Log, group: str) -> dict[int, dict[str, float]]:
    """Per Searcher construction: job seconds spent building the block
    cache, collecting term dfs and decoding the flat projection. A SQL
    execution that runs a mapInArrow is the flat decode; one called from
    `collect_term_dfs` is the df collection; the rest is the block
    cache (read, persist, repartition, count)."""
    role_of_sql: dict[int, str] = {}
    for st in log.stages:
        if st.base_group != group or st.sql_id is None:
            continue
        if "MapInArrow" in st.scopes:
            role_of_sql[st.sql_id] = "flat_decode"
        elif st.callsite and st.callsite[1] == "collect_term_dfs":
            role_of_sql.setdefault(st.sql_id, "term_dfs")
    out: dict[int, dict[str, float]] = {}
    for j in group_jobs(log, group):
        call = int(j["group"].split("#")[1]) if "#" in j["group"] else 0
        role = role_of_sql.get(j["sql_id"], "block_cache")
        d = out.setdefault(call, {"block_cache": 0.0, "term_dfs": 0.0,
                                  "flat_decode": 0.0})
        d[role] += (j.get("end_ms", j["start_ms"]) - j["start_ms"]) / 1000.0
    return out


def scan_rows(log: Log, stages: list[Stage]) -> int:
    """Rows the outermost in-memory scan of each stage's SQL execution
    produced after cached-batch pruning."""
    total = 0
    for st in stages:
        for acc in log.scan_rows_accums.get(st.sql_id, ()):
            total += st.accums.get(acc, 0)
    return total


def by_callsite(log: Log) -> dict[str, float]:
    """Stage wall seconds per "module:function" call site (or "jvm")."""
    out: dict[str, float] = {}
    for st in log.stages:
        key = ":".join(st.callsite) if st.callsite else "jvm"
        out[key] = out.get(key, 0.0) + st.wall_s
    return dict(sorted(out.items(), key=lambda kv: -kv[1]))
