"""Resumable index builds: per-partition checkpoints + lineage manifests.

The north rule requires index builds over corpus snapshots to be
resumable from per-partition checkpoints with lineage manifests
recording input splits, posting counts, and bytes written. The
reference has no analogue (its ingest is one-doc-at-a-time with a
full-index rewrite per doc — `/root/reference/app/indexer/posix.py:
17-28`); this module adds the missing production story:

- every index part — a resumable build's partition, a table delta
  (`index_table_delta`, which reads and advances its table version
  through catalog's table cursor), a streamed micro-batch
  (streaming/ingest.py) — is committed by `commit_segment`: postings
  parquet under `part=<p>/` first (written by build.write_index, like
  every other index file), then `manifest_<p>.json`, one schema for
  every writer: the part's doc
  stats (n_docs, sum_dl), its blocks, postings, payload bytes and files
  as pyarrow reads them from the committed files (`segment_facts`, no
  Spark job), and the writer's lineage keys. A manifest is only
  written AFTER a successful parquet commit, so a killed job leaves
  either nothing or a complete part;
- `build_resumable` splits the corpus into `n_parts` deterministic
  logical partitions by `pmod(xxhash64(doc_id), n_parts)` (content-
  addressed, so a re-run maps every doc to the same partition
  regardless of input file order). One aggregate over the input
  (`input_fingerprint`) gives every partition's n_docs, sum_dl and
  fingerprint; the corpus stats are their sums. Each partition builds
  independently (build_postings on its slice, phase B sized by the
  slice's own occurrences), so the input is read 1 + (parts built)
  times. Partitions whose manifest matches the input fingerprint are
  skipped — kill + re-run touches only unfinished partitions and
  produces byte-identical output (deterministic encoding);
- `refresh_stats` re-derives a multi-part index's exact stats by
  summing its manifests;
- `read_resumable` reads the `part=<p>/` dirs; a directory that also
  holds a fused build's root-level files is refused, since those docs
  would drop silently;
- queries run directly on the union (the block scorer sums a doc's
  postings from every part in one per-doc accumulate); `compact_index`
  optionally merges parts into one canonical segment (an LSM/Lucene-
  style merge): a mapInArrow decodes the blocks back into posting runs
  and hands them to the build's own phase B, so a compacted index is a
  fresh build's bytes.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import codec
from .build import (_PARTIAL_SCHEMA, CorpusStats, _n_partitions, _phase_b,
                    _slot_rows, build_postings,
                    range_shift_for, read_stats, write_index, write_stats)

_PAYLOAD_COLS = ("docs", "tfs", "dls", "positions")


def _manifest_path(path: str, part: int) -> str:
    return os.path.join(path, f"manifest_{part}.json")


def segment_facts(path: str) -> dict:
    """Blocks, postings, payload bytes and files of one index directory,
    read by pyarrow (no Spark job): row counts and column-chunk sizes
    from the Parquet footers, postings as the sum of the `n` column.
    Payload bytes are the docs/tfs/dls/positions column chunks'
    uncompressed sizes as the footers record them (Parquet-encoded,
    before compression)."""
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    facts = {"n_blocks": 0, "n_postings": 0, "payload_bytes": 0}
    for f in files:
        pf = pq.ParquetFile(os.path.join(path, f))
        md = pf.metadata
        facts["n_blocks"] += md.num_rows
        facts["n_postings"] += pc.sum(pf.read(columns=["n"])["n"]).as_py() or 0
        facts["payload_bytes"] += sum(
            md.row_group(g).column(c).total_uncompressed_size
            for g in range(md.num_row_groups) for c in range(md.num_columns)
            if md.row_group(g).column(c).path_in_schema in _PAYLOAD_COLS)
    return {**facts, "files": files}


def commit_segment(postings: DataFrame, path: str, partition: int,
                   n_docs: int, sum_dl: int, **lineage) -> None:
    """Commit one index part: write_index the postings under
    `part=<partition>/`, then write its manifest — {partition, n_docs,
    sum_dl} from the caller, the part's segment_facts, and the caller's
    lineage keys (`input`, table versions, `streaming`, ...)."""
    part_dir = os.path.join(path, f"part={partition}")
    write_index(postings, part_dir)
    manifest = {"partition": partition, "n_docs": n_docs, "sum_dl": sum_dl,
                **segment_facts(part_dir), **lineage}
    with open(_manifest_path(path, partition), "w") as fh:
        json.dump(manifest, fh, indent=1)


def input_fingerprint(tokens_df: DataFrame, part_col: str = "build_part") -> dict[int, dict]:
    """Per partition, in one aggregate over the input: n_docs, sum_dl
    (the doc stats) and the xor of doc_ids (with n_docs and sum_dl, an
    order-free, content-addressed fingerprint)."""
    rows = (tokens_df.groupBy(part_col)
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.size("tokens")).alias("sum_dl"),
                 F.expr("bit_xor(doc_id)").alias("xor_ids"))
            .collect())
    return {int(r[part_col]): {k: int(r[k] or 0)
                               for k in ("n_docs", "sum_dl", "xor_ids")}
            for r in rows}


def build_resumable(tokens_df: DataFrame, path: str, n_parts: int = 8,
                    stats: CorpusStats | None = None,
                    range_shift: int | None = None,
                    with_positions: bool = True,
                    fail_after_parts: int | None = None) -> CorpusStats:
    """Build the index under `path`, one commit per logical partition.

    `fail_after_parts` injects a crash after N partitions (tests only).
    Returns the corpus stats (written as `_stats.json` when derived
    here, i.e. when `stats` is not given).
    """
    os.makedirs(path, exist_ok=True)
    tokens_df = tokens_df.withColumn(
        "build_part", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_parts)).cast("int"))
    fingerprints = input_fingerprint(tokens_df)
    if stats is None:
        n = sum(fp["n_docs"] for fp in fingerprints.values())
        sum_dl = sum(fp["sum_dl"] for fp in fingerprints.values())
        stats = CorpusStats(n_docs=n, avgdl=float(sum_dl) / max(n, 1))
        write_stats(path, stats)
    spark = tokens_df.sparkSession
    done = 0
    for part, fp in sorted(fingerprints.items()):
        mpath = _manifest_path(path, part)
        if os.path.exists(mpath):
            with open(mpath) as fh:
                if json.load(fh).get("input") == fp:
                    continue  # already built for this exact input slice
        if fail_after_parts is not None and done >= fail_after_parts:
            raise RuntimeError(f"injected failure after {done} partitions")
        slice_df = tokens_df.filter(F.col("build_part") == part).drop("build_part")
        postings, _ = build_postings(
            slice_df, stats=stats, range_shift=range_shift,
            with_positions=with_positions,
            n_partitions=_n_partitions(spark, fp["sum_dl"]))
        commit_segment(postings, path, part, fp["n_docs"], fp["sum_dl"],
                       input=fp)
        done += 1
    return stats


def read_resumable(spark: SparkSession, path: str) -> tuple[DataFrame, CorpusStats]:
    """Read a (possibly multi-part) resumable index; `part` becomes a
    column via partition discovery. A directory that also holds
    root-level parquet files (a fused build's) is a ValueError: only
    `part=<p>/` dirs are read, so those docs would drop silently."""
    entries = sorted(os.listdir(path))
    if any(e.endswith(".parquet") for e in entries):
        raise ValueError(f"{path} holds both part=<p>/ segments and a "
                         "fused index's root-level parquet files")
    df = spark.read.option("basePath", path).parquet(
        *[os.path.join(path, d) for d in entries if d.startswith("part=")])
    return df, read_stats(path)


def manifests(path: str) -> list[dict]:
    out = []
    for f in sorted(os.listdir(path)):
        if f.startswith("manifest_") and f.endswith(".json"):
            with open(os.path.join(path, f)) as fh:
                out.append(json.load(fh))
    return out


def refresh_stats(path: str) -> CorpusStats:
    """Post-drain stats correction for a multi-part index: stream_build
    and index_table_delta freeze the seed (N, avgdl), so BM25 impacts
    drift as segments accumulate. The exact stats are the sums of the
    manifests' n_docs and sum_dl (a doc_id in two parts counts twice,
    as two source docs); rewrite `_stats.json`. No Spark job runs.
    Pair with compact_index(..., stats=refreshed) to re-encode
    max_impact metadata so a long-lived streamed index equals a fresh
    batch build byte-for-byte."""
    ms = manifests(path)
    if not ms or any("sum_dl" not in m for m in ms):
        raise ValueError(
            f"refresh_stats: {path} needs a manifest with n_docs and "
            f"sum_dl for every part ({len(ms)} manifests found); "
            "rebuild the index to write them")
    n = sum(m["n_docs"] for m in ms)
    stats = CorpusStats(n_docs=n, avgdl=float(sum(m["sum_dl"] for m in ms))
                        / max(n, 1))
    write_stats(path, stats)
    return stats


def compact_index(postings: DataFrame, stats: CorpusStats) -> DataFrame:
    """Merge a multi-part index into one canonical segment: a
    mapInArrow decodes every part's blocks back into posting runs and
    emits them as phase-A partial rows, which the build's phase B
    shuffles to their slots, merges and re-encodes. Runs of one doc_id
    from several parts merge as in a build (tf and dl summed, positions
    unioned). Positions are kept only if every block has them.

    The layout is a fresh build's with the same stats: range_shift from
    stats.n_docs and the slot count from n_docs * avgdl, whatever
    range_shift the parts were cut with. So the output equals
    build_postings(stats=stats) over the parts' docs byte for byte,
    and write_index writes it as a build's: one file per phase-B task,
    no second exchange."""
    spark = postings.sparkSession
    range_shift = range_shift_for(stats.n_docs)
    n_partitions = _n_partitions(
        spark, int(stats.n_docs * max(stats.avgdl, 1.0)))
    has_pos = ("positions" in postings.columns and postings.filter(
        F.col("positions").isNull()).isEmpty())

    def runs(batches):
        for rb in batches:
            if rb.num_rows:
                yield pa.RecordBatch.from_pydict(_slot_rows(
                    *codec.decode_blocks(rb, has_pos), range_shift,
                    n_partitions))

    cols = ["term_id", "n", "docs", "tfs", "dls"]
    if has_pos:
        cols.append("positions")
    partials = postings.select(*cols).mapInArrow(runs, _PARTIAL_SCHEMA)
    return _phase_b(partials, n_partitions, stats.avgdl, has_pos,
                    range_shift)


# --------------------------------------------- snapshot-table delta builds

def index_table_delta(spark: SparkSession, table_path: str,
                      index_path: str, tokenizer,
                      with_positions: bool = True) -> dict:
    """Consume a snapshot table (catalog.py) incrementally through the
    table cursor (`catalog.pending_appends` / `catalog.advance`): each
    run builds ONLY the rows appended since the version the index last
    consumed as a new segment part (part=<to_version>, phase B sized by
    the delta's own occurrences), committed by commit_segment with the
    consumed version range as its manifest's lineage; the cursor
    advances only after that commit.
    The first run, into an empty directory, baselines on the current
    snapshot; a non-empty directory without a cursor (a fused or
    build_resumable index) is refused. Already-current is a no-op. A
    run that died before the cursor advanced is replayed over exactly
    its own range (its part is rewritten), whatever was appended since.
    A compact commit in the range surfaces catalog.incremental_scan's
    re-baseline error — the operator compacts the INDEX and starts a
    fresh baseline, the same contract streaming checkpoints have.

    This is the north-star loop closed: Iceberg-style snapshot commits
    in, per-partition checkpointed segments out, resumable at the
    granularity of table versions. Stats follow the streaming model
    (frozen seed; `refresh_stats` + `compact --refresh-stats` correct
    drift exactly).

    Deletes: an incremental index consumes APPENDS only — rows
    equality-deleted from the table after being indexed keep being
    served until the index is compacted against a fresh baseline. The
    consumed range's delete-commit count is therefore warned about and
    surfaced in the returned dict and the segment manifest
    (`n_delete_commits_in_range`; 0 for a baseline, whose snapshot scan
    applies every delete before it) so operators see when a takedown
    requires index compact + re-baseline rather than discovering stale
    hits in production."""
    from .. import catalog
    from .build import with_doc_id
    cur = catalog.current_version(table_path)
    pending = catalog.pending_appends(spark, table_path, index_path)
    if pending is None:
        return {"from_version": cur, "to_version": cur,
                "up_to_date": True, "n_docs_delta": 0}
    frm, to, df, n_deletes = pending
    if "doc_id" not in df.columns:
        df = with_doc_id(df)
    toks = tokenizer(df.select("doc_id", "text")) \
        .select("doc_id", "tokens").persist()
    agg = toks.agg(F.count("*").alias("n"),
                   F.sum(F.size("tokens")).alias("sum_dl")).collect()[0]
    n_delta = int(agg["n"] or 0)
    sum_dl = int(agg["sum_dl"] or 0)
    if os.path.exists(os.path.join(index_path, "_stats.json")):
        stats = read_stats(index_path)
    else:  # frozen seed = the baseline snapshot's exact stats
        stats = CorpusStats(n_docs=n_delta,
                            avgdl=float(sum_dl) / max(n_delta, 1))
        write_stats(index_path, stats)
    if n_delta > 0:
        postings, _ = build_postings(
            toks, stats=stats, with_positions=with_positions,
            n_partitions=_n_partitions(spark, sum_dl))
        commit_segment(postings, index_path, to, n_delta, sum_dl,
                       table=table_path, table_version_from=frm,
                       table_version_to=to,
                       n_delete_commits_in_range=n_deletes)
    toks.unpersist()
    catalog.advance(index_path, table_path, to)
    return {"from_version": frm, "to_version": to,
            "up_to_date": False, "n_docs_delta": n_delta,
            "n_delete_commits_in_range": n_deletes}
