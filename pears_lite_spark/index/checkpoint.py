"""Resumable index builds: per-partition checkpoints + lineage manifests.

The north rule requires index builds over corpus snapshots to be
resumable from per-partition checkpoints with lineage manifests
recording input splits, posting counts, and bytes written. The
reference has no analogue (its ingest is one-doc-at-a-time with a
full-index rewrite per doc — `/root/reference/app/indexer/posix.py:
17-28`); this module adds the missing production story:

- the corpus is split into `n_parts` deterministic logical partitions by
  `pmod(xxhash64(url), n_parts)` (content-addressed, so a re-run maps
  every doc to the same partition regardless of input file order);
- each partition builds independently (build_postings on its slice) and
  commits atomically: postings parquet under `part=<p>/` first (written
  by build.write_index, like every other index file), then a
  `manifest_<p>.json` with doc/posting/block/byte counts and the input
  fingerprint — a manifest is only written AFTER a successful parquet
  commit, so a killed job leaves either nothing or a complete partition;
  its counts are read back from the committed files, so the slice's
  build plan runs once;
- `build_resumable` skips partitions whose manifest matches the input
  fingerprint — kill + re-run touches only unfinished partitions and
  produces byte-identical output (deterministic encoding);
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

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import codec
from .build import (_PARTIAL_SCHEMA, CorpusStats, _n_partitions, _phase_b,
                    _slot_rows, _slot_values, build_postings, corpus_stats,
                    range_shift_for, read_stats, write_index, write_stats)


def _manifest_path(path: str, part: int) -> str:
    return os.path.join(path, f"manifest_{part}.json")


def input_fingerprint(tokens_df: DataFrame, part_col: str = "build_part") -> dict[int, dict]:
    """Per-partition fingerprint: n_docs + xor of doc_ids (order-free,
    cheap, content-addressed)."""
    rows = (tokens_df.groupBy(part_col)
            .agg(F.count("*").alias("n_docs"),
                 F.expr("bit_xor(doc_id)").alias("xor_ids"))
            .collect())
    return {int(r[part_col]): {"n_docs": int(r["n_docs"]),
                               "xor_ids": int(r["xor_ids"])} for r in rows}


def build_resumable(tokens_df: DataFrame, path: str, n_parts: int = 8,
                    stats: CorpusStats | None = None,
                    block_size: int = codec.BLOCK_SIZE,
                    range_shift: int | None = None,
                    with_positions: bool = True,
                    fail_after_parts: int | None = None) -> CorpusStats:
    """Build the index under `path`, one commit per logical partition.

    `fail_after_parts` injects a crash after N partitions (tests only).
    Returns the corpus stats (written as `_stats.json`).
    """
    os.makedirs(path, exist_ok=True)
    tokens_df = tokens_df.withColumn(
        "build_part", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_parts)).cast("int"))
    if stats is None:
        stats = corpus_stats(tokens_df)
        write_stats(path, stats)
    fingerprints = input_fingerprint(tokens_df)
    done = 0
    for part in range(n_parts):
        fp = fingerprints.get(part)
        if fp is None:
            continue  # empty partition
        mpath = _manifest_path(path, part)
        if os.path.exists(mpath):
            with open(mpath) as fh:
                m = json.load(fh)
            if m.get("input") == fp:
                continue  # already built for this exact input slice
        if fail_after_parts is not None and done >= fail_after_parts:
            raise RuntimeError(f"injected failure after {done} partitions")
        slice_df = tokens_df.filter(F.col("build_part") == part).drop("build_part")
        postings, _ = build_postings(slice_df, stats=stats,
                                     block_size=block_size,
                                     range_shift=range_shift,
                                     with_positions=with_positions)
        part_dir = os.path.join(path, f"part={part}")
        write_index(postings, part_dir)
        # the counts come from the committed part: aggregating
        # `postings` would run the slice's whole build plan again
        agg = postings.sparkSession.read.parquet(part_dir).agg(
            F.count("*").alias("n_blocks"),
            F.sum("n").alias("n_postings"),
            F.sum(F.octet_length("docs") + F.octet_length("tfs")
                  + F.octet_length("dls")
                  + F.coalesce(F.octet_length("positions"), F.lit(0)))
            .alias("bytes")).collect()[0]
        manifest = {
            "partition": part,
            "input": fp,
            "n_docs": fp["n_docs"],
            "n_blocks": int(agg["n_blocks"] or 0),
            "n_postings": int(agg["n_postings"] or 0),
            "payload_bytes": int(agg["bytes"] or 0),
            "files": sorted(f for f in os.listdir(part_dir)
                            if f.endswith(".parquet")),
        }
        with open(mpath, "w") as fh:
            json.dump(manifest, fh, indent=1)
        done += 1
    return stats


def read_resumable(spark: SparkSession, path: str) -> tuple[DataFrame, CorpusStats]:
    """Read a (possibly multi-part) resumable index; `part` becomes a
    column via partition discovery."""
    df = spark.read.option("basePath", path).parquet(
        *[os.path.join(path, d) for d in sorted(os.listdir(path))
          if d.startswith("part=")])
    return df, read_stats(path)


def manifests(path: str) -> list[dict]:
    out = []
    for f in sorted(os.listdir(path)):
        if f.startswith("manifest_") and f.endswith(".json"):
            with open(os.path.join(path, f)) as fh:
                out.append(json.load(fh))
    return out


def stats_from_blocks(postings: DataFrame) -> CorpusStats:
    """Exact corpus stats recovered from the index itself: decode the
    (doc_id, dl) stream of every block, distinct per doc and segment
    (a doc_id in two parts is two source docs, as in the manifests'
    counts), aggregate. Per-batch dedup collapses the posting-level
    fan-out before the shuffle, so only ~n_docs rows exchange."""
    part = (F.col("part").cast("long") if "part" in postings.columns
            else F.lit(0).cast("long"))

    def kernel(batches):
        for rb in batches:
            _, d, _, dl, _ = codec.decode_blocks(rb)
            p = np.repeat(rb.column("part").to_numpy(),
                          rb.column("n").to_numpy())
            o = np.lexsort((d, p))
            p, d, dl = p[o], d[o], dl[o]
            new = np.ones(d.size, bool)
            new[1:] = (p[1:] != p[:-1]) | (d[1:] != d[:-1])
            yield pa.RecordBatch.from_arrays(
                [pa.array(p[new]), pa.array(d[new]), pa.array(dl[new])],
                names=["part", "doc_id", "dl"])

    pairs = (postings.select(part.alias("part"), "term_id", "n", "docs",
                             "tfs", "dls")
             .mapInArrow(kernel, "part long, doc_id long, dl long")
             .dropDuplicates(["part", "doc_id"]))
    row = pairs.agg(F.count("*").alias("n"),
                    F.sum("dl").alias("s")).collect()[0]
    n = int(row["n"] or 0)
    return CorpusStats(n_docs=n, avgdl=float(row["s"] or 0) / max(n, 1))


def refresh_stats(spark: SparkSession, path: str) -> CorpusStats:
    """Post-drain stats correction for a streamed/resumable index:
    stream_build freezes the seed (N, avgdl) — BM25 impacts drift as
    segments accumulate. Re-derive exact stats from the per-batch
    manifests (n_docs + sum_dl, written by the streaming sink) or, for
    manifests without doc stats, from the blocks themselves; rewrite
    `_stats.json`. Pair with compact_index(..., stats=refreshed) to
    re-encode max_impact metadata so a long-lived streamed index equals
    a fresh batch build byte-for-byte."""
    ms = manifests(path)
    if ms and all("sum_dl" in m for m in ms):
        n = sum(m["n_docs"] for m in ms)
        s = sum(m["sum_dl"] for m in ms)
        stats = CorpusStats(n_docs=n, avgdl=float(s) / max(n, 1))
    else:
        postings, _ = read_resumable(spark, path)
        stats = stats_from_blocks(postings)
    write_stats(path, stats)
    return stats


def compact_index(postings: DataFrame, stats: CorpusStats,
                  block_size: int = codec.BLOCK_SIZE) -> DataFrame:
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
    slots = np.asarray(_slot_values(spark, n_partitions), np.int64)
    has_pos = ("positions" in postings.columns and postings.filter(
        F.col("positions").isNull()).isEmpty())

    def runs(batches):
        for rb in batches:
            if rb.num_rows:
                yield pa.RecordBatch.from_pydict(_slot_rows(
                    *codec.decode_blocks(rb, has_pos), range_shift, slots))

    cols = ["term_id", "n", "docs", "tfs", "dls"]
    if has_pos:
        cols.append("positions")
    partials = postings.select(*cols).mapInArrow(runs, _PARTIAL_SCHEMA)
    return _phase_b(partials, n_partitions, stats.avgdl, block_size,
                    has_pos, range_shift)


# --------------------------------------------- snapshot-table delta builds

def index_table_delta(spark: SparkSession, table_path: str,
                      index_path: str, tokenizer,
                      with_positions: bool = True) -> dict:
    """Consume a snapshot table (catalog.py) incrementally: the index
    records the table version it last indexed (`_table_version.json`),
    and each run builds ONLY the rows appended since as a new segment
    part (part=<to_version>), with a lineage manifest recording the
    consumed version range + doc stats; write_index writes the part.
    First run baselines on the full current snapshot. Already-current
    is a no-op. A compact commit in the range surfaces
    catalog.incremental_scan's re-baseline error — the operator
    compacts the INDEX and starts a fresh baseline, the same contract
    streaming checkpoints have.

    This is the north-star loop closed: Iceberg-style snapshot commits
    in, per-partition checkpointed segments out, resumable at the
    granularity of table versions. Stats follow the streaming model
    (frozen seed; `refresh_stats` + `compact --refresh-stats` correct
    drift exactly).

    Deletes: an incremental index consumes APPENDS only — rows
    equality-deleted from the table after being indexed keep being
    served until the index is compacted against a fresh baseline. The
    consumed range's delete-commit count is therefore surfaced in the
    returned dict and the segment manifest (`n_delete_commits_in_range`)
    so operators see when a takedown requires index compact +
    re-baseline rather than discovering stale hits in production."""
    from .. import catalog
    from .build import with_doc_id
    cur = catalog.current_version(table_path)
    state_path = os.path.join(index_path, "_table_version.json")
    frm = None
    if os.path.exists(state_path):
        with open(state_path) as fh:
            frm = json.load(fh)["version"]
        if frm == cur:
            return {"from_version": frm, "to_version": cur,
                    "up_to_date": True, "n_docs_delta": 0}
        df = catalog.incremental_scan(spark, table_path, frm, cur)
    else:
        df = catalog.scan(spark, table_path)
    # deletes committed in the consumed range do NOT shrink the index —
    # count and surface them (see docstring) instead of advancing past
    # them silently
    n_deletes = sum(
        1 for s in catalog.history(table_path)
        if s.get("operation") == "delete"
        and (frm is None or s["version"] > frm) and s["version"] <= cur)
    if n_deletes:
        import warnings
        warnings.warn(
            f"index_table_delta: {n_deletes} delete commit(s) in table "
            f"version range ({frm}, {cur}] are NOT applied to the index "
            "— compact + re-baseline to honor them", stacklevel=2)
    os.makedirs(index_path, exist_ok=True)
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
        postings, _ = build_postings(toks, stats=stats,
                                     with_positions=with_positions)
        part_dir = os.path.join(index_path, f"part={cur}")
        write_index(postings, part_dir)
        manifest = {
            "partition": cur,
            "table": table_path,
            "table_version_from": frm,
            "table_version_to": cur,
            "n_docs": n_delta,
            "sum_dl": sum_dl,
            "n_delete_commits_in_range": n_deletes,
            "files": sorted(f for f in os.listdir(part_dir)
                            if f.endswith(".parquet")),
        }
        with open(_manifest_path(index_path, cur), "w") as fh:
            json.dump(manifest, fh, indent=1)
    toks.unpersist()
    # state flips only AFTER the segment + manifest are durable, so a
    # crash mid-build re-consumes the same delta (idempotent: the part
    # dir is overwritten, the manifest rewritten)
    tmp = state_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"table": table_path, "version": cur}, fh)
    os.replace(tmp, state_path)
    return {"from_version": frm, "to_version": cur,
            "up_to_date": False, "n_docs_delta": n_delta,
            "n_delete_commits_in_range": n_deletes}
