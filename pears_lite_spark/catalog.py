"""Minimal Iceberg-style snapshot catalog over parquet.

The north rule frames the corpus as "Iceberg tables of Common-Crawl-
style web pages"; pyiceberg is not in this sandbox, so this module
implements the load-bearing subset of the public Iceberg table-format
ideas (spec at iceberg.apache.org/spec) from scratch, self-contained:

  * a table is an immutable set of parquet DATA FILES plus a totally
    ordered SNAPSHOT LOG (`metadata/v{N}.json`); every snapshot lists
    its data files and delete files explicitly — readers never
    list-and-glob the data directory, so concurrent writers and dirty
    files are invisible to them;
  * APPEND commits new files and re-references the old ones — no
    rewrite-the-world (the reference rebuilds its whole index per
    insert: `/root/reference/app/indexer/posix.py:17-28`);
  * row-level DELETE is merge-on-read via EQUALITY DELETE FILES: a
    delete commit writes only the matched key values; scans subtract
    them with a broadcast anti-join. Data files are untouched;
  * COMPACT rewrites the live rows into fresh data files and drops the
    accumulated delete files — Iceberg's rewrite-data-files action;
  * TIME TRAVEL: any historical version remains readable because
    snapshots only ever ADD files and metadata is never mutated.

Commit protocol: write `v{N}.json`, then atomically flip the `VERSION`
pointer file (`os.replace`). Single-writer is assumed — a real
deployment swaps this pointer flip for the catalog's atomic
compare-and-swap (which is exactly the role a catalog service plays
for Iceberg proper).

Scale shape: metadata is O(files) JSON on the driver — fine up to the
many-thousands-of-files range of a 100 TB table partition (beyond
that, real Iceberg tiers manifests; noted, not needed here). Scans
pass the explicit file list to the parquet source, so column pruning
and predicate pushdown work unchanged; the delete side is keys-only
and broadcast, so a scan with deletes shuffles nothing.
"""

from __future__ import annotations

import json
import os
import uuid
import warnings

from pyspark.sql import DataFrame, SparkSession, functions as F

_META = "metadata"
_VERSION_FILE = "VERSION"


# ------------------------------------------------------------ metadata IO

def _meta_dir(path: str) -> str:
    return os.path.join(path, _META)


def current_version(path: str) -> int:
    with open(os.path.join(_meta_dir(path), _VERSION_FILE),
              encoding="utf-8") as fh:
        return int(fh.read().strip())


def _read_snapshot(path: str, version: int) -> dict:
    with open(os.path.join(_meta_dir(path), f"v{version}.json"),
              encoding="utf-8") as fh:
        return json.load(fh)


def history(path: str) -> list[dict]:
    """All retained snapshots, oldest first (the Iceberg snapshot log;
    expire_snapshots removes entries before its horizon)."""
    out = []
    for v in range(1, current_version(path) + 1):
        try:
            out.append(_read_snapshot(path, v))
        except FileNotFoundError:
            continue
    return out


def _replace(path: str, text: str) -> None:
    """Write `path` atomically: a hidden tmp file, then os.replace."""
    head, name = os.path.split(path)
    tmp = os.path.join(head, f".{name}.{uuid.uuid4().hex}")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(text)
    os.replace(tmp, path)


def _commit(path: str, snap: dict) -> None:
    """Write v{N}.json, then atomically flip the VERSION pointer."""
    md = _meta_dir(path)
    with open(os.path.join(md, f"v{snap['version']}.json"), "w",
              encoding="utf-8") as fh:
        json.dump(snap, fh, indent=1, sort_keys=True)
    _replace(os.path.join(md, _VERSION_FILE), str(snap["version"]))


def _write_data_files(df: DataFrame, path: str, snap_version: int,
                      subdir: str = "data") -> list[str]:
    """Write df as parquet under an immutable per-snapshot directory
    and return the RELATIVE file paths to register in the snapshot.

    If the directory already exists it is an orphan from a torn commit
    (data written, VERSION never flipped — no snapshot can reference
    it, because version numbers only advance past a flipped pointer),
    so it is cleared and rewritten rather than wedging every future
    commit of this version number."""
    rel_dir = os.path.join(subdir, f"snap-{snap_version}")
    out = os.path.join(path, rel_dir)
    if os.path.exists(out):
        import shutil
        shutil.rmtree(out)
    df.write.mode("error").parquet(out)
    return sorted(
        os.path.join(rel_dir, f) for f in os.listdir(out)
        if f.endswith(".parquet"))


def _abs(path: str, rels: list[str]) -> list[str]:
    return [os.path.join(path, r) for r in rels]


def _norm_bound(x, tz: str = "UTC"):
    """Normalize a bound for manifest comparison: datetimes become
    epoch microseconds (naive ones interpreted in `tz` — pass the
    Spark session timezone so pruning agrees with how F.between will
    read the same literal); numerics pass through; everything else is
    None (no bound recorded)."""
    import datetime
    if isinstance(x, datetime.datetime):
        if x.tzinfo is None:
            from zoneinfo import ZoneInfo
            x = x.replace(tzinfo=ZoneInfo(tz))
        return int(x.timestamp() * 1_000_000)
    if isinstance(x, (int, float)) and not isinstance(x, bool):
        return x
    return None


def _empty_df(spark: SparkSession, snap: dict) -> DataFrame:
    from pyspark.sql.types import StructType
    return spark.createDataFrame(
        [], StructType.fromJson(json.loads(snap["schema_json"])))


def _file_stats(abs_path: str) -> dict:
    """Per-file manifest stats, Iceberg-manifest style: row count, byte
    size, and numeric column bounds lifted from the parquet footer
    (free — no data pages are read). String/binary bounds are omitted
    (Iceberg truncates-with-round-up to keep them safe; numeric covers
    the partition-shaped columns pruning actually targets)."""
    import pyarrow.parquet as pq

    _norm = _norm_bound
    md = pq.ParquetFile(abs_path).metadata
    lo: dict = {}
    hi: dict = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            mn, mx = _norm(st.min), _norm(st.max)
            if mn is None or mx is None:
                continue
            name = col.path_in_schema
            lo[name] = mn if name not in lo else min(lo[name], mn)
            hi[name] = mx if name not in hi else max(hi[name], mx)
    return {"rows": md.num_rows, "bytes": os.path.getsize(abs_path),
            "bounds": {c: [lo[c], hi[c]] for c in lo}}


def _stats_for(path: str, files: list[str]) -> dict:
    return {f: _file_stats(os.path.join(path, f)) for f in files}


# ------------------------------------------------------------ operations

def create_table(df: DataFrame, path: str, key_col: str) -> dict:
    """v1 snapshot from `df`. `key_col` is the equality-delete key
    (must be unique per row for delete semantics to be row-level)."""
    os.makedirs(_meta_dir(path), exist_ok=False)
    files = _write_data_files(df, path, 1)
    snap = {"version": 1, "parent": None, "operation": "create",
            "key_col": key_col, "schema": df.schema.simpleString(),
            "schema_json": df.schema.json(),
            "data_files": files, "delete_files": [],
            "file_stats": _stats_for(path, files),
            "summary": {"added_files": len(files)}}
    _commit(path, snap)
    return snap


def _check_schema(df: DataFrame, parent: dict, op: str) -> None:
    """Reject commits whose DataFrame schema differs from the table's
    recorded one (Iceberg validates appends against the table schema).
    Without this, a mismatched append commits cleanly and later scans
    read mixed-schema parquet, where Spark silently resolves to
    whichever file's footer it samples — dropped columns / nulls
    instead of an error at write time."""
    recorded = parent.get("schema_json")
    if recorded is not None and df.schema.json() != recorded:
        raise ValueError(
            f"{op}: DataFrame schema {df.schema.simpleString()} does not "
            f"match table schema {parent['schema']} — align columns/types "
            "(schema evolution is not supported by this catalog)")


def append(df: DataFrame, path: str,
           summary_extra: dict | None = None) -> dict:
    """New snapshot = parent's files + newly written ones (no rewrite).
    The incoming schema must match the table schema exactly."""
    parent = _read_snapshot(path, current_version(path))
    _check_schema(df, parent, "append")
    v = parent["version"] + 1
    files = _write_data_files(df, path, v)
    summary = {"added_files": len(files)}
    if summary_extra:
        summary.update(summary_extra)
    snap = {"version": v, "parent": parent["version"],
            "operation": "append", "key_col": parent["key_col"],
            "schema": parent["schema"],
            "schema_json": parent.get("schema_json"),
            "data_files": parent["data_files"] + files,
            "delete_files": parent["delete_files"],
            "file_stats": {**parent.get("file_stats", {}),
                           **_stats_for(path, files)},
            "summary": summary}
    _commit(path, snap)
    return snap


def delete_where(spark: SparkSession, path: str, predicate) -> dict:
    """Merge-on-read row delete: write an equality-delete file holding
    the key values of currently-live rows matching `predicate` (a SQL
    string or Column). Data files are untouched."""
    parent = _read_snapshot(path, current_version(path))
    key = parent["key_col"]
    v = parent["version"] + 1
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    keys = scan(spark, path).filter(pred).select(key).distinct()
    files = _write_data_files(keys, path, v, subdir="deletes")
    snap = {"version": v, "parent": parent["version"],
            "operation": "delete", "key_col": key,
            "schema": parent["schema"],
            "schema_json": parent.get("schema_json"),
            "data_files": parent["data_files"],
            "delete_files": parent["delete_files"] + files,
            "file_stats": parent.get("file_stats", {}),
            "summary": {"added_delete_files": len(files)}}
    _commit(path, snap)
    return snap


def scan(spark: SparkSession, path: str, version: int | None = None,
         prune: dict | None = None) -> DataFrame:
    """Read a snapshot (default: current). Data files are passed as an
    explicit list — pushdown and pruning apply as on any parquet scan —
    and equality-delete keys are subtracted with a broadcast anti-join
    (keys-only, no data-row shuffle).

    `prune` maps column -> (lo, hi) inclusive and does Iceberg's
    metadata-level scan planning: data files whose manifest bounds
    don't intersect the range are dropped from the file list BEFORE
    Spark plans the scan — at web scale this is the difference between
    planning over every file of the table and the handful a
    time/id-range query touches. Files without recorded bounds for the
    column are kept (safe), and the equivalent row filter is applied on
    top, so results are exact regardless of pruning."""
    if version is not None and version < 1:
        raise ValueError(f"invalid snapshot version {version}")
    snap = _read_snapshot(path, version if version is not None
                          else current_version(path))
    data_files = snap["data_files"]
    stats = snap.get("file_stats", {})
    if prune:
        # naive datetime bounds are interpreted in the SESSION timezone
        # so the file-bounds comparison agrees with how F.between reads
        # the identical literal in the row filter below (a UTC-vs-
        # session mismatch would silently prune files whose rows match)
        tz = spark.conf.get("spark.sql.session.timeZone", "UTC")

        def keep(f: str) -> bool:
            for col, (qlo, qhi) in prune.items():
                b = stats.get(f, {}).get("bounds", {}).get(col)
                if b is not None and (b[1] < _norm_bound(qlo, tz)
                                      or b[0] > _norm_bound(qhi, tz)):
                    return False
            return True
        data_files = [f for f in data_files if keep(f)]
    if not data_files:
        return _empty_df(spark, snap)
    df = spark.read.parquet(*_abs(path, data_files))
    if prune:
        for col, (qlo, qhi) in prune.items():
            df = df.filter(F.col(col).between(qlo, qhi))
    if snap["delete_files"]:
        # no distinct(): each delete file holds distinct keys already,
        # anti-join semantics ignore right-side duplicates across
        # files, and a distinct here would cost a (keys) exchange
        dels = spark.read.parquet(*_abs(path, snap["delete_files"]))
        df = df.join(F.broadcast(dels), snap["key_col"], "left_anti")
    return df


def incremental_scan(spark: SparkSession, path: str, from_version: int,
                     to_version: int | None = None) -> DataFrame:
    """Rows APPENDED strictly after `from_version`, up to `to_version`
    (default: current) — Iceberg's incremental append scan. This is
    what makes a snapshot table the natural input of a resumable index
    build: the indexer records the snapshot version it last consumed
    and each run reads only the data files committed since, never
    re-scanning the corpus.

    Implementation: set difference of the two snapshots' file lists
    (snapshots only ever add files, so the delta IS the appended data).
    Raises if the range crosses a compact commit — a rewrite breaks
    file identity, exactly the condition real incremental consumers
    must restart from (Iceberg reports the same limitation for
    replace/rewrite snapshots)."""
    to_version = to_version if to_version is not None \
        else current_version(path)
    if to_version < from_version or from_version < 1:
        raise ValueError(
            f"invalid incremental range {from_version}->{to_version}")
    try:
        for v in range(from_version + 1, to_version + 1):
            op = _read_snapshot(path, v)["operation"]
            if op == "compact":
                raise ValueError(
                    f"incremental scan {from_version}->{to_version} "
                    f"crosses a compact commit at v{v}; consumers must "
                    f"re-baseline")
        old = set(_read_snapshot(path, from_version)["data_files"])
    except FileNotFoundError as e:
        raise ValueError(
            f"incremental scan {from_version}->{to_version} crosses "
            f"expired snapshots; consumers must re-baseline") from e
    new_snap = _read_snapshot(path, to_version)
    delta = [f for f in new_snap["data_files"] if f not in old]
    if not delta:
        return _empty_df(spark, new_snap)
    df = spark.read.parquet(*_abs(path, delta))
    # standing equality deletes still mask rows (same read semantics
    # as scan(); delete files are tiny and broadcast)
    if new_snap["delete_files"]:
        dels = spark.read.parquet(*_abs(path, new_snap["delete_files"]))
        df = df.join(F.broadcast(dels), new_snap["key_col"], "left_anti")
    return df


def compact(spark: SparkSession, path: str) -> dict:
    """Rewrite live rows into fresh data files and drop delete files
    (Iceberg's rewrite-data-files maintenance action). Old snapshots
    stay readable — their files are still on disk and still listed in
    their own metadata."""
    parent = _read_snapshot(path, current_version(path))
    v = parent["version"] + 1
    files = _write_data_files(scan(spark, path), path, v)
    snap = {"version": v, "parent": parent["version"],
            "operation": "compact", "key_col": parent["key_col"],
            "schema": parent["schema"],
            "schema_json": parent.get("schema_json"),
            "data_files": files, "delete_files": [],
            "file_stats": _stats_for(path, files),
            "summary": {"rewritten_files": len(files),
                        "dropped_delete_files": len(parent["delete_files"])}}
    _commit(path, snap)
    return snap


def is_table(path: str) -> bool:
    return os.path.isfile(os.path.join(_meta_dir(path), _VERSION_FILE))


def expire_snapshots(path: str, keep_last: int = 1) -> dict:
    """Iceberg's expire-snapshots maintenance: retain only the newest
    `keep_last` snapshots' metadata and delete every data/delete file
    no retained snapshot references — including orphans from crashed
    writes (files on disk that no snapshot ever committed). Time
    travel older than the horizon is gone after this, by design;
    incremental consumers baselined before the horizon must
    re-baseline. The current snapshot and the VERSION pointer are
    never touched, so readers are unaffected throughout."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (the current snapshot "
                         "is never expirable)")
    cur = current_version(path)
    keep_from = max(1, cur - keep_last + 1)
    referenced: set = set()
    for v in range(keep_from, cur + 1):
        s = _read_snapshot(path, v)
        referenced.update(s["data_files"])
        referenced.update(s["delete_files"])
    removed_files = 0
    for subdir in ("data", "deletes"):
        base = os.path.join(path, subdir)
        if not os.path.isdir(base):
            continue
        for snap_dir in os.listdir(base):
            sd = os.path.join(base, snap_dir)
            for f in os.listdir(sd):
                rel = os.path.join(subdir, snap_dir, f)
                if f.endswith(".parquet") and rel not in referenced:
                    os.remove(os.path.join(path, rel))
                    removed_files += 1
            if not any(x.endswith(".parquet") for x in os.listdir(sd)):
                import shutil
                shutil.rmtree(sd)
    removed_meta = 0
    for v in range(1, keep_from):
        mp = os.path.join(_meta_dir(path), f"v{v}.json")
        if os.path.exists(mp):
            os.remove(mp)
            removed_meta += 1
    return {"retained_from": keep_from, "current": cur,
            "removed_files": removed_files,
            "removed_snapshots": removed_meta}


# --------------------------------------------------- incremental consumers

_CURSOR = "_table_version.json"


def pending_appends(spark: SparkSession, table_path: str, out_dir: str):
    """The snapshot-table cursor of an incremental consumer (a table
    delta index, an ANN index): `out_dir/_table_version.json` records
    the table and the `version` the consumer has applied, plus `pending`
    while a run is in flight. Returns None when `version` is the table's
    current version, else (from_version, to_version, df, n_delete_commits):

    - no cursor yet: a baseline, from_version None and df the snapshot
      `to_version` (its deletes applied, so none are counted);
    - a cursor: df is the rows appended in (from_version, to_version];
    - `pending` set (a run died before `advance`): exactly the range of
      that run again, so a replay rewrites what it may have committed
      and the appends since wait for the next run.

    Before returning it records `pending = to_version`; the consumer
    commits its output, then calls `advance`. Delete commits in an
    incremental range are not applied to what was consumed before it:
    they are counted and warned about (compact + re-baseline honors
    them). A non-empty `out_dir` without a cursor, or a cursor of
    another table, is a ValueError: the consumer must start from an
    empty directory."""
    table, path = os.path.abspath(table_path), os.path.join(out_dir, _CURSOR)
    if os.path.exists(path):
        with open(path, encoding="utf-8") as fh:
            cursor = json.load(fh)
    elif os.path.isdir(out_dir) and os.listdir(out_dir):
        raise ValueError(f"{out_dir} is not empty but has no table cursor "
                         f"({_CURSOR}): start from an empty directory")
    else:
        cursor = {"table": table, "version": None}
    if cursor["table"] != table:
        raise ValueError(f"{out_dir} consumes table {cursor['table']}, "
                         f"not {table}")
    frm = cursor["version"]
    to = cursor.get("pending") or current_version(table_path)
    if to == frm:
        return None
    df = (scan(spark, table_path, version=to) if frm is None
          else incremental_scan(spark, table_path, frm, to))
    n_deletes = sum(_read_snapshot(table_path, v)["operation"] == "delete"
                    for v in range((frm or to) + 1, to + 1))
    if n_deletes:
        warnings.warn(f"{n_deletes} delete commit(s) in table versions "
                      f"({frm}, {to}] are NOT applied to {out_dir}: "
                      "compact and re-baseline to honor them", stacklevel=2)
    os.makedirs(out_dir, exist_ok=True)
    _replace(path, json.dumps({"table": table, "version": frm,
                               "pending": to}))
    return frm, to, df, n_deletes


def advance(out_dir: str, table_path: str, version: int) -> None:
    """Record `version` as consumed (and no run in flight): call it only
    once the consumer's output for it is durable."""
    _replace(os.path.join(out_dir, _CURSOR), json.dumps(
        {"table": os.path.abspath(table_path), "version": version}))


# --------------------------------------------------- streaming sink

def _streams_path(path: str) -> str:
    return os.path.join(_meta_dir(path), "streams.json")


def _read_streams(path: str) -> dict:
    try:
        with open(_streams_path(path), encoding="utf-8") as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


def idempotent_batch_appender(path: str, stream_id: str):
    """foreachBatch sink committing one append snapshot per micro-batch,
    replay-safe: a compact sidecar (`metadata/streams.json`) records the
    highest batch id each stream has committed, and a batch at or below
    that watermark is skipped — the idempotent-commit pattern the real
    Iceberg/Delta streaming sinks use to turn foreachBatch's
    at-least-once delivery into exactly-once table commits. The
    watermark survives expire_snapshots (which removes old snapshot
    metadata) and costs O(1) to check per batch rather than a rescan of
    the whole snapshot history; batch ids from a Structured Streaming
    checkpoint are monotonically increasing, which is what makes a
    high-water mark sufficient. The sidecar is updated AFTER the
    snapshot commit, which leaves one crash window: the VERSION flip
    succeeds but the process dies before the sidecar write, so the
    replayed batch sees a stale watermark over a FULLY COMMITTED
    snapshot. The sidecar check alone would re-append it. Closing the
    window: with the documented single-writer assumption the sidecar
    lags the snapshot log by at most one commit, so before appending we
    also check the HEAD snapshot's summary for this (stream_id,
    batch_id) — if the head already carries it, the append committed
    and only the sidecar write was lost; we repair the sidecar and
    skip. A crash BEFORE the flip replays into a torn (unreferenced)
    write that the next commit of that version clears. The snapshot
    summary records (stream_id, batch_id) for lineage either way."""

    def _mark(batch_id: int) -> None:
        marks = _read_streams(path)
        marks[stream_id] = max(int(batch_id), marks.get(stream_id, -1))
        _replace(_streams_path(path), json.dumps(marks))

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        marks = _read_streams(path)
        if stream_id in marks and int(batch_id) <= marks[stream_id]:
            return
        head = _read_snapshot(path, current_version(path))
        summ = head.get("summary", {})
        if (summ.get("stream_id") == stream_id
                and summ.get("batch_id") is not None
                and int(summ["batch_id"]) >= int(batch_id)):
            _mark(int(summ["batch_id"]))  # commit landed, sidecar didn't
            return
        append(batch_df, path, summary_extra={
            "stream_id": stream_id, "batch_id": int(batch_id)})
        _mark(int(batch_id))

    return commit_batch


def stream_append(spark: SparkSession, source_dir: str, path: str,
                  schema, checkpoint_dir: str,
                  max_files_per_trigger: int = 1):
    """Drain a parquet directory into snapshot commits (one per
    micro-batch) with Trigger.AvailableNow. The stream identity for
    replay detection is the FULL checkpoint path (hashed) — a restart
    from the same checkpoint skips replayed batches; a fresh checkpoint
    anywhere else (even one sharing a directory basename) is a new
    stream and appends anew, matching sink semantics of Structured
    Streaming generally."""
    import hashlib
    stream_id = hashlib.md5(
        os.path.abspath(checkpoint_dir).encode()).hexdigest()[:16]
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(source_dir))
    q = (stream.writeStream
         .foreachBatch(idempotent_batch_appender(path, stream_id))
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q
