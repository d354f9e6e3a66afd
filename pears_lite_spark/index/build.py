"""Inverted-index construction: a map-side-partial (combiner) build.

Replaces the reference's per-document full-index rewrite
(`/root/reference/app/indexer/posix.py:17-28` rebuilds and re-pickles
the whole 16k-entry positional index for every inserted doc;
`mk_page_vector.py:49,63` rewrites the whole pod matrix) with ONE
shuffle of packed bytes:

    (doc_id, tokens) or (url, html)
           --mapInPandas (phase A, one kernel for both inputs)-->
             per-split sorted partial runs, serialized as a few
             binary-blob rows per target slot, plus each flush's
             (n_docs, sum_dl) as a stats row to every slot
           --repartitionById(merge slot)-->
           --mapInArrow (phase B) merge + delta/varint/block-max encode
           --sortWithinPartitions + zstd parquet write, one file
             per task (same stage as phase B: no second exchange)

Why not posexplode + repartition + sortWithinPartitions? Measured on
this corpus shape, the JVM->Python row->Arrow conversion costs ~0.5-1M
rows/s per core — 3x the cost of the numpy work it feeds — and
occurrence rows outnumber documents ~350:1. Phase A therefore
collapses occurrences to runs IN THE SAME python pass that already
holds the tokens, and the shuffle moves ~7x fewer bytes (packed int
arrays, LZ4-friendly), none of which are ever converted row-by-row.
The tokens path (build_postings) and the fused corpus path
(build_from_corpus) run the same phase-A kernel (_phase_a_factory);
they differ only in how a batch yields its (doc_id, tokens) pairs —
as given, or through the extract/hash/tokenize loop (_extracted) that
ingest_tokens also runs.

The merge slot (`_slot_of`) mixes (term_id, doc_range) and the
shuffle takes it as the partition id, so slot k is phase-B partition k
and a group's runs meet there. The write takes phase B's partitioning
as it stands: each task sorts its blocks by (term_id, doc_range,
block_id) and writes one file — one exchange per build.
Every phase-B task also receives every flush's stats row, so a fused
build's tasks each sum the corpus's n_docs and avgdl themselves: the
build is one job after the corpus row count, with no persist and no
stats pass.

Skew strategy (SURVEY.md §4): hot terms (stopword-like pieces) would
overload a single reducer in a naive groupBy(term). The doc_range in
the slot mix, doc_range = shiftright(doc_id, range_shift), is an
ORDER-PRESERVING, TERM-ALIGNED salt: a hot term's postings split
across bounded ~MAX_RANGE_DOCS-doc groups that land on different
slots, doc_id order (and hence delta encoding) survives because
shiftright is monotone, and every term is cut at the same doc
boundaries so the block scorer can partition by doc_range. AQE
skew-join stays on as a second line of defense.

The physical layout is one row per posting BLOCK:
(term_id, doc_range, block_id, first_doc, last_doc, n, max_impact,
 docs, tfs, dls, positions), every file sorted by (term_id,
doc_range, block_id) so a query's `term_id IN (...)` filter prunes
row groups by their Parquet min/max statistics. write_index is the
only writer of these files, and it writes them zstd-compressed.
"""

from __future__ import annotations

import json
import math
import os
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.accumulators import Accumulator, AccumulatorParam
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..vocab import get_vocab
from . import codec

POSTING_SCHEMA = T.StructType([
    T.StructField("term_id", T.LongType()),
    T.StructField("doc_range", T.LongType()),
    T.StructField("block_id", T.IntegerType()),
    T.StructField("first_doc", T.LongType()),
    T.StructField("last_doc", T.LongType()),
    T.StructField("n", T.IntegerType()),
    T.StructField("max_impact", T.DoubleType()),
    T.StructField("docs", T.BinaryType()),
    T.StructField("tfs", T.BinaryType()),
    T.StructField("dls", T.BinaryType()),
    T.StructField("positions", T.BinaryType()),
])

_POSTING_PA = to_arrow_schema(POSTING_SCHEMA)


@dataclass
class CorpusStats:
    n_docs: int
    avgdl: float


class _PairUnion(AccumulatorParam):
    """Set union of (n_docs, sum_dl) pairs: every phase-B task of one
    fused build adds the same corpus totals, so a retried task or a
    second run of the plan adds no second count. It never raises: it
    runs in the driver's accumulator-server thread, where an error
    would be lost; _BuildStats checks the pairs when they are read."""

    def zero(self, value):
        return frozenset()

    def addInPlace(self, a, b):
        return a | b


class _BuildStats(CorpusStats):
    """build_from_corpus's CorpusStats: its phase-B tasks sum them, so
    they are known once the postings have run (write_index, a collect
    or a count of them)."""

    def __init__(self, pairs: Accumulator):
        self._pairs = pairs

    def _pair(self) -> tuple[int, int]:
        pairs = self._pairs.value
        if not pairs:
            raise RuntimeError(
                "build_from_corpus: stats are known once the postings "
                "have run (write_index them, or collect them, first)")
        if len(pairs) > 1:
            raise RuntimeError(
                f"build_from_corpus: runs of the postings saw different "
                f"corpora, (n_docs, sum_dl) = {sorted(pairs)}")
        return next(iter(pairs))

    @property
    def n_docs(self) -> int:
        return self._pair()[0]

    @property
    def avgdl(self) -> float:
        n_docs, sum_dl = self._pair()
        return float(sum_dl) / max(n_docs, 1)

    def __eq__(self, other):
        return (isinstance(other, CorpusStats)
                and (self.n_docs, self.avgdl) == (other.n_docs, other.avgdl))


def tokenize_whitespace(df: DataFrame, text_col: str = "text") -> DataFrame:
    """SQL-expressible tokenizer (split on single spaces, drop empties) —
    the oracle-checkable path used over the driver's `documents` table."""
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    return df.withColumn("tokens", toks)


def tokenize_spm(df: DataFrame, id_cols: tuple[str, ...] = ("doc_id",)) -> DataFrame:
    """SentencePiece-unigram tokenizer (Viterbi over the 16k vocab) as an
    Arrow mapInPandas — parity path for the reference's `tokenize_text`
    (`/root/reference/app/indexer/mk_page_vector.py:21-26`).

    Narrow map (no shuffle, no join): returns id_cols + tokens; the
    vocab loads once per executor (contrast the reference's reload per
    call — mk_page_vector.py:22)."""
    passthrough = [df.schema[c] for c in id_cols]
    out_schema = T.StructType(
        passthrough + [T.StructField("tokens", T.ArrayType(T.StringType()))])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        v = get_vocab()  # one load per executor process (lru_cache)
        for pdf in batches:
            out = {c: pdf[c] for c in id_cols}
            out["tokens"] = pdf["text"].map(
                lambda t: v.encode_as_pieces(t) if isinstance(t, str) else [])
            yield pd.DataFrame(out)

    return df.select(*id_cols, "text").mapInPandas(kernel, schema=out_schema)


def _extracted(pdf: pd.DataFrame, tokenizer: str):
    """(doc_id, url, lang, tokens) for each extractable page of one
    (url, html) batch: extraction, doc_id = xxh64(url) (identical to
    Spark's xxhash64) and tokenization in one pass. Pages with no
    detectable language are skipped (the reference rejects them)."""
    from ..functions.extract import extract_html
    from ..xxh64 import xxh64_signed
    v = get_vocab() if tokenizer == "spm" else None
    for url, html in zip(pdf["url"], pdf["html"]):
        _, text, _, lang = extract_html(html)
        if text:
            yield (xxh64_signed(url), url, lang,
                   v.encode_as_pieces(text) if v else text.split())


def ingest_tokens(corpus_df: DataFrame, tokenizer: str = "spm") -> DataFrame:
    """Fused ingest: (url, warc_ts, html) -> (doc_id, url, lang, tokens)
    in ONE Arrow crossing — extraction, doc_id (xxh64(url), identical to
    Spark's xxhash64), and tokenization run in the same Python worker
    pass, so the html payload crosses the JVM<->Python boundary once
    instead of four times (extract UDF, hash column, tokenize UDF)."""
    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.StringType())),
    ])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(list(_extracted(pdf, tokenizer)),
                               columns=out_schema.names)

    return corpus_df.select("url", "html").mapInPandas(kernel, schema=out_schema)


def with_doc_id(corpus_df: DataFrame) -> DataFrame:
    """Stable content-derived doc id (no positional row-ids — contrast
    `/root/reference/app/indexer/mk_page_vector.py:55`)."""
    return corpus_df.withColumn("doc_id", F.xxhash64("url"))


def corpus_stats(tokens_df: DataFrame) -> CorpusStats:
    row = (tokens_df.select(F.size("tokens").alias("dl"))
           .agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl"))
           .collect()[0])
    return CorpusStats(n_docs=int(row["n"]), avgdl=float(row["avgdl"] or 0.0))


# max docs per (term_id, doc_range) encode group: bounds reducer memory
# for hot terms and the streaming-encode group buffer, and spreads one
# stopword's posting list across many reducers (~16k docs * avg tf)
MAX_RANGE_DOCS = 1 << 14


def range_shift_for(n_docs: int, max_group: int = MAX_RANGE_DOCS) -> int:
    """Order-preserving salt granularity: enough doc ranges that even a
    term appearing in EVERY doc (df == n_docs) yields groups of at most
    ~max_group docs. doc_ids are xxhash64 (uniform over 2^64), so
    shiftright(doc_id, shift) splits the id space into 2^(64-shift)
    equal-probability, ORDERED, TERM-ALIGNED ranges (every term is cut
    at the same doc boundaries, which is what lets the scorer take a
    local top-k per doc_range partition). Small corpora get ONE range
    (no rare-term fragmentation); at web scale every 16k-vocab piece is
    frequent, so per-term fragmentation is negligible there too."""
    n_ranges = max(1, math.ceil(max(n_docs, 1) / max_group))
    bits = max(0, math.ceil(math.log2(n_ranges)))
    return max(1, min(63, 64 - bits))


# rows buffered before one vectorized encode pass: Arrow delivers ~10k
# input rows per batch, too few to amortize the numpy kernel, so the
# kernel accumulates closed groups up to this many occurrence rows
# (1M rows x 5 int64 ~ 40MB per worker — measured faster than 256k)
FLUSH_ROWS = 1 << 20

# target occurrence rows per shuffle partition: keeps each partition's
# sortWithinPartitions in memory (no spill) even when
# spark.sql.shuffle.partitions is small (a 2-core session would
# otherwise sort ~500MB per task and spill)
TARGET_PART_ROWS = 4_000_000


def _binary_array(data: bytes, offsets: np.ndarray) -> pa.Array:
    """Zero-copy Arrow binary array straight from (value buffer, int32
    offsets) — no per-block Python bytes objects."""
    if offsets[-1] >= (1 << 31):
        # int32 Arrow offsets would silently wrap -> corrupt index;
        # fail loudly with the operational fix
        raise ValueError(
            f"slot partition value stream is {int(offsets[-1])} bytes "
            f">= 2^31; raise n_partitions so each merge slot encodes "
            f"< 2 GiB of postings")
    off = np.ascontiguousarray(offsets, dtype=np.int32)
    return pa.Array.from_buffers(
        pa.binary(), off.size - 1,
        [None, pa.py_buffer(off.tobytes()), pa.py_buffer(data)])


def _runs_to_blocks(tid_r: np.ndarray, rng_r: np.ndarray,
                    doc_r: np.ndarray, tf_r: np.ndarray, dl_r: np.ndarray,
                    newg_r: np.ndarray, pos_flat: "np.ndarray | None",
                    avgdl: float, block_size: int) -> pa.RecordBatch:
    """RUN-level vectorized block encoder: one numpy pass turns sorted
    posting runs (one entry per (term_id, doc_range, doc_id), tf = run
    length, positions flattened run-major) into encoded block rows.
    Block boundaries by flatnonzero, per-block stats by reduceat, each
    varint stream encoded in a single call and sliced into blocks via
    cumulative byte lengths, Arrow binary columns built zero-copy from
    the offset arrays. No per-group Python loop anywhere."""
    n_runs = tid_r.size
    run_idx = np.arange(n_runs, dtype=np.int64)
    g_first = np.maximum.accumulate(np.where(newg_r, run_idx, 0))
    rig = run_idx - g_first                     # run index within group
    newb = newg_r | (rig % block_size == 0)
    b_start = np.flatnonzero(newb)              # one entry per block
    n_blocks = b_start.size
    b_n = np.append(b_start[1:], n_runs) - b_start
    # ---- per-block metadata
    b_first = doc_r[b_start]
    b_last = doc_r[b_start + b_n - 1]
    b_tid = tid_r[b_start]
    b_rng = rng_r[b_start]
    b_bid = (rig[b_start] // block_size).astype(np.int32)
    impacts = codec.bm25_impact(tf_r, dl_r, avgdl)
    b_max = np.maximum.reduceat(impacts, b_start)
    # ---- docs stream: delta-1 within block, first-of-block raw
    # (uint64 wraparound arithmetic matches the decoder's int64 wrap)
    du = doc_r.astype(np.uint64)
    deltas = du.copy()
    deltas[1:] = du[1:] - du[:-1] - np.uint64(1)
    deltas[b_start] = du[b_start]
    docs_bytes, nb = codec.varint_encode_with_lengths(deltas)
    cs = np.zeros(n_runs + 1, dtype=np.int64)
    np.cumsum(nb, out=cs[1:])
    b_val_edge = np.append(b_start, n_runs)
    docs_off = cs[b_val_edge]
    # ---- tf stream (tf-1) and dl stream (raw), same block slicing
    tfs_bytes, nb = codec.varint_encode_with_lengths(
        (tf_r - 1).astype(np.uint64))
    np.cumsum(nb, out=cs[1:])
    tfs_off = cs[b_val_edge]
    dls_bytes, nb = codec.varint_encode_with_lengths(dl_r.astype(np.uint64))
    np.cumsum(nb, out=cs[1:])
    dls_off = cs[b_val_edge]
    # ---- positions stream: per run [tf, first raw, deltas...]
    if pos_flat is not None:
        n_occ = pos_flat.size
        r_start = np.zeros(n_runs, dtype=np.int64)
        np.cumsum(tf_r[:-1], out=r_start[1:])
        vals = np.empty(n_runs + n_occ, dtype=np.uint64)
        cnt_idx = run_idx + r_start             # where each count goes
        mask = np.ones(vals.size, dtype=bool)
        mask[cnt_idx] = False
        pu = pos_flat.astype(np.uint64)
        pd_ = pu.copy()
        pd_[1:] = pu[1:] - pu[:-1]
        pd_[r_start] = pu[r_start]
        vals[cnt_idx] = tf_r.astype(np.uint64)
        vals[mask] = pd_
        pos_bytes, nb = codec.varint_encode_with_lengths(vals)
        csp = np.zeros(vals.size + 1, dtype=np.int64)
        np.cumsum(nb, out=csp[1:])
        # value index where each block begins: its first run's count
        # position; end edge = total value count
        v_edge = np.append(b_start + r_start[b_start], vals.size)
        pos_arr = _binary_array(pos_bytes, csp[v_edge])
    else:
        pos_arr = pa.nulls(n_blocks, pa.binary())
    return pa.RecordBatch.from_arrays(
        [pa.array(b_tid, type=pa.int64()),
         pa.array(b_rng, type=pa.int64()),
         pa.array(b_bid, type=pa.int32()),
         pa.array(b_first, type=pa.int64()),
         pa.array(b_last, type=pa.int64()),
         pa.array(b_n.astype(np.int32), type=pa.int32()),
         pa.array(b_max, type=pa.float64()),
         _binary_array(docs_bytes, docs_off),
         _binary_array(tfs_bytes, tfs_off),
         _binary_array(dls_bytes, dls_off),
         pos_arr],
        schema=_POSTING_PA)


_PARTIAL_SCHEMA = T.StructType([
    T.StructField("p", T.IntegerType()),   # merge slot = partition id
    T.StructField("terms", T.BinaryType()),   # int64 per run
    T.StructField("docs", T.BinaryType()),    # int64 per run
    T.StructField("tfs", T.BinaryType()),     # int32 per run
    T.StructField("dls", T.BinaryType()),     # int32 per run, or a stats
                                              # row's int64 (n_docs, sum_dl)
    T.StructField("poss", T.BinaryType()),    # int32 flat, run-major
])

_MIX = np.uint64(0x9E3779B97F4A7C15)


def _slot_of(term_ids: np.ndarray, doc_ranges: np.ndarray,
             n_slots: int) -> np.ndarray:
    """Merge slot of each (term_id, doc_range) group: one group, one
    slot, so phase B sees all of a group's runs; the doc_range in the
    mix spreads a hot term's groups over several slots."""
    mix = term_ids.astype(np.uint64) * _MIX ^ doc_ranges.astype(np.uint64)
    return (mix % np.uint64(n_slots)).astype(np.int64)

class _PartialBuilder:
    """Phase-A accumulator of the one phase-A kernel (_phase_a_factory):
    docs queue via add_tokens() (or add(), the per-token reference),
    and each flush emits the docs' sorted partial posting runs as
    binary-blob rows, one per target slot.

    A run is one source doc's occurrences of one term: runs are keyed
    on (term_id, per-flush source-doc ordinal), not on doc_id, so a
    doc_id that arrives twice yields two runs whether the copies share
    a flush or not, and phase B merges them (_merge_factory) the same
    way in every case."""

    def __init__(self, range_shift: int, n_slots: int,
                 with_positions: bool):
        from ..xxh64 import xxh64_signed
        self._hash = xxh64_signed
        self.range_shift = range_shift
        self.with_positions = with_positions
        self.n_slots = n_slots
        self._cache: dict[str, int] = {}
        self.tids: list[np.ndarray] = []
        self.docs: list[np.ndarray] = []
        self.dls: list[np.ndarray] = []
        self.poss: list[np.ndarray] = []
        self.srcs: list[np.ndarray] = []    # source-doc ordinal per token
        self.n_src = 0
        # deferred-hash path: (doc_id, tokens, dl, positions) tuples
        # whose term hashing happens vectorized at flush (pd.factorize +
        # hash of the flush's UNIQUE terms only) instead of one Python
        # dict-lookup per token — the per-token map() loop measured
        # ~65% of the non-extract phase-A cost. positions is None when
        # every token is kept (offsets 0..len-1). Holding the raw token
        # lists until flush costs ~80 MB peak per worker at the 1M-row
        # flush threshold.
        self.pend: list[tuple[int, object, int, "np.ndarray | None"]] = []
        self.acc = 0

    def tid_of(self, t: str) -> int:
        v = self._cache.get(t)
        if v is None:
            v = self._hash(t)
            if len(self._cache) < (1 << 22):
                self._cache[t] = v
        return v

    def add(self, doc_id: int, ids: np.ndarray, idxs: np.ndarray,
            dl: int) -> None:
        """One document's (term_id array, position array, doc length)."""
        self.tids.append(ids)
        self.docs.append(np.full(ids.size, doc_id, np.int64))
        self.dls.append(np.full(ids.size, dl, np.int32))
        self.poss.append(idxs)
        self.srcs.append(np.full(ids.size, self.n_src, np.int32))
        self.n_src += 1
        self.acc += ids.size

    def add_tokens(self, doc_id: int, toks, n0: int,
                   vocab_set: "frozenset[str] | None" = None) -> None:
        """Queue one document for the deferred-hash drain. With a
        vocab_set, only in-vocabulary tokens are kept; they keep their
        original token offsets as positions and the doc length stays
        the unfiltered n0."""
        pos = None
        if vocab_set is not None:
            kept = [i for i, tk in enumerate(toks) if tk in vocab_set]
            if not kept:
                return
            toks = [toks[i] for i in kept]
            pos = np.asarray(kept, np.int32)
        self.pend.append((doc_id, toks, n0, pos))
        self.acc += len(toks)

    def _drain_pend(self) -> None:
        """Materialize the deferred-hash docs: factorize the flush's
        token stream in one C pass, xxh64 only the unique terms (through
        tid_of's dict cache), and gather. Produces the exact same
        (tids, docs, dls, poss) arrays — in the same insertion order —
        as per-token add(), so index bytes are unchanged (the
        byte-parity pytest pins this)."""
        if not self.pend:
            return
        import itertools
        flat = list(itertools.chain.from_iterable(
            tk for _, tk, _, _ in self.pend))
        codes, uniq = pd.factorize(np.asarray(flat, dtype=object),
                                   use_na_sentinel=False)
        del flat
        uh = np.fromiter(map(self.tid_of, uniq), np.int64, len(uniq))
        lens = np.asarray([len(tk) for _, tk, _, _ in self.pend], np.int64)
        self.tids.append(uh[codes])
        self.docs.append(np.repeat(
            np.asarray([d for d, _, _, _ in self.pend], np.int64), lens))
        self.dls.append(np.repeat(
            np.asarray([n for _, _, n, _ in self.pend], np.int32), lens))
        self.srcs.append(np.repeat(np.arange(
            self.n_src, self.n_src + lens.size, dtype=np.int32), lens))
        self.n_src += lens.size
        if self.with_positions:
            starts = np.zeros(lens.size, np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            pos = (np.arange(int(lens.sum()), dtype=np.int64)
                   - np.repeat(starts, lens)).astype(np.int32)
            for i, (_, _, _, p) in enumerate(self.pend):
                if p is not None:
                    pos[starts[i]:starts[i] + p.size] = p
            self.poss.append(pos)
        self.pend = []

    def flush(self) -> pd.DataFrame:
        self._drain_pend()
        t = np.concatenate(self.tids)
        d = np.concatenate(self.docs)
        dl = np.concatenate(self.dls)
        src = np.concatenate(self.srcs)
        pp = np.concatenate(self.poss) if self.with_positions else None
        self.tids, self.docs, self.dls, self.poss = [], [], [], []
        self.srcs, self.n_src = [], 0
        self.acc = 0
        # Single-key STABLE sort instead of a (pos, doc, term) lexsort:
        # docs stream in whole, so for equal terms the insertion order
        # is already source-doc-contiguous with ascending positions —
        # exactly what run collapse needs. Runs within a term leave here in
        # insertion order rather than doc order; phase B re-lexsorts
        # (d, t) over the concatenated slot anyway (it never assumes
        # per-partial doc order), so the final index bytes are
        # unchanged (byte-parity pytest). A 1-key radix argsort on the
        # int64 hashes measured 2.5x faster than the 3-key lexsort at
        # the 1M-row flush size.
        order = np.argsort(t, kind="stable")
        if self.with_positions:
            pp = pp[order]
        t, d, dl, src = t[order], d[order], dl[order], src[order]
        n = t.size
        newr = np.empty(n, dtype=bool)
        newr[0] = True
        newr[1:] = (t[1:] != t[:-1]) | (src[1:] != src[:-1])
        r_start = np.flatnonzero(newr)
        r_tf = np.append(r_start[1:], n) - r_start
        return pd.DataFrame(_slot_rows(
            t[r_start], d[r_start], r_tf, dl[r_start], pp, self.range_shift,
            self.n_slots))


def _reorder_positions(pos: np.ndarray, tf: np.ndarray,
                       order: np.ndarray) -> np.ndarray:
    """Positions flattened run-major (run i holds tf[i] of them),
    re-laid for the runs taken in `order`: one gather."""
    tf = tf.astype(np.int64, copy=False)
    starts = np.cumsum(tf) - tf
    sel = tf[order]
    out_starts = np.cumsum(sel) - sel
    return pos[np.repeat(starts[order] - out_starts, sel)
               + np.arange(pos.size, dtype=np.int64)]


def _slot_rows(t: np.ndarray, d: np.ndarray, tf: np.ndarray,
               dl: np.ndarray, pos: "np.ndarray | None", range_shift: int,
               n_slots: int) -> dict[str, object]:
    """_PARTIAL_SCHEMA columns, in its order, for posting runs (term_id,
    doc_id, tf, dl per run, positions flattened run-major or None), one
    row per target slot: each run goes to the slot of its (term_id,
    doc_range) group (_slot_of), and p, an int32 array, is that slot.
    Phase A's flush and compaction (checkpoint.compact_index) both end
    here."""
    rng = d >> range_shift
    slot = _slot_of(t, rng, n_slots)
    order = np.argsort(slot, kind="stable")
    s2 = slot[order]
    t2 = t[order].astype(np.int64, copy=False)
    d2 = d[order].astype(np.int64, copy=False)
    tf2 = tf[order].astype(np.int32, copy=False)
    dl2 = dl[order].astype(np.int32, copy=False)
    if pos is not None:
        p2 = _reorder_positions(pos, tf, order).astype(np.int32)
        pedge = np.concatenate(([0], np.cumsum(tf2, dtype=np.int64)))
    seg = np.flatnonzero(np.concatenate(([True], s2[1:] != s2[:-1])))
    seg_end = np.append(seg[1:], s2.size)
    rows = {"p": s2[seg].astype(np.int32),
            **{k: [] for k in ("terms", "docs", "tfs", "dls", "poss")}}
    for i0, i1 in zip(seg, seg_end):
        rows["terms"].append(t2[i0:i1].tobytes())
        rows["docs"].append(d2[i0:i1].tobytes())
        rows["tfs"].append(tf2[i0:i1].tobytes())
        rows["dls"].append(dl2[i0:i1].tobytes())
        rows["poss"].append(p2[pedge[i0]:pedge[i1]].tobytes()
                            if pos is not None else b"")
    return rows


def _phase_a_factory(docs_of, range_shift: int, n_slots: int,
                     with_positions: bool,
                     vocab_set: "frozenset[str] | None" = None):
    """Phase A (map side), the one kernel every build runs: docs_of(pdf)
    yields each input batch's (doc_id, tokens) — the tokens columns as
    they stand, or the extract/hash/tokenize loop (_extracted) over
    (url, html) — and the docs become sorted partial posting runs,
    serialized as a handful of binary-blob rows per (input split,
    target slot). This is the classic MapReduce combiner form: the
    expensive occurrence stream never crosses the JVM<->Python bridge
    as rows (measured ~0.5M rows/s/core for post-shuffle row->Arrow
    conversion — the bytes are cheap, the per-row conversion is not),
    and the shuffle moves delta-friendly packed arrays instead of 35
    rows per token. Each flush also sends its docs' (n_docs, sum_dl)
    to every slot: one stats row per slot, its `dls` blob the
    int64 pair and its run blobs empty, so each phase-B task can sum
    the corpus's stats itself (_merge_factory)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b = _PartialBuilder(range_shift, n_slots, with_positions)

        def flush(n_docs: int, sum_dl: int) -> pd.DataFrame:
            stats = pd.DataFrame({
                "p": np.arange(n_slots, dtype=np.int32),
                "terms": b"", "docs": b"", "tfs": b"",
                "dls": np.asarray([n_docs, sum_dl], np.int64).tobytes(),
                "poss": b""})
            # a vocab_set can leave every doc of a split without tokens
            return (pd.concat([b.flush(), stats], ignore_index=True)
                    if b.acc else stats)

        n_docs = sum_dl = 0
        for pdf in batches:
            for doc_id, toks in docs_of(pdf):
                n0 = len(toks)
                if n0 == 0:
                    continue
                n_docs += 1
                sum_dl += n0
                b.add_tokens(doc_id, toks, n0, vocab_set)
                if b.acc >= FLUSH_ROWS:
                    yield flush(n_docs, sum_dl)
                    n_docs = sum_dl = 0
        if n_docs:
            yield flush(n_docs, sum_dl)

    return kernel


def _merge_factory(avgdl: float | None, block_size: int,
                   with_positions: bool, range_shift: int,
                   stats_acc: Accumulator | None = None):
    """Phase B (reduce side): concatenate this slot's partial runs,
    merge-sort them by (term_id, doc_id) with one lexsort, re-align the
    flattened positions with a vectorized gather, and encode blocks via
    _runs_to_blocks. A (term_id, doc_range) group lives in exactly one
    slot, so blocks come out identical to a global sort-based build.

    Duplicate (term_id, doc_id) runs — duplicate URLs in a corpus, or
    duplicate doc_id rows in a tokens input — are merged here and only
    here (tf and dl summed, position multisets unioned in sorted
    order): phase A keeps each source doc's runs apart, so the result
    is the same whether the copies share a flush, a split, or neither.
    Without the merge the block scorer would add up impacts taken
    from each copy's partial tf and dl, while the exhaustive scorer
    sums tf and dl first.

    Stats rows (empty `terms` blob, phase A's per-flush (n_docs,
    sum_dl)) are summed apart. Without an avgdl, their totals give it,
    as float(sum_dl) / max(n_docs, 1), and go to stats_acc: every slot
    receives every flush's stats row, so every task sums the same
    corpus totals."""

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        Ts, Ds, TFs, DLs, Ps = [], [], [], [], []
        totals = np.zeros(2, np.int64)
        for rb in batches:
            dls = rb.column("dls")
            is_stats = pc.equal(pc.binary_length(rb.column("terms")), 0)
            totals += codec.blob(dls.filter(is_stats)).view(
                np.int64).reshape(-1, 2).sum(axis=0)
            Ts.append(codec.blob(rb.column("terms")).view(np.int64))
            Ds.append(codec.blob(rb.column("docs")).view(np.int64))
            TFs.append(codec.blob(rb.column("tfs")).view(np.int32))
            DLs.append(codec.blob(dls.filter(pc.invert(is_stats))).view(
                np.int32))
            if with_positions:
                Ps.append(codec.blob(rb.column("poss")).view(np.int32))
        avg = avgdl
        if avg is None:
            n_docs, sum_dl = totals.tolist()
            if stats_acc is not None:
                stats_acc.add(frozenset({(n_docs, sum_dl)}))
            avg = float(sum_dl) / max(n_docs, 1)
        if not sum(x.size for x in Ts):
            return
        t = np.concatenate(Ts)
        d = np.concatenate(Ds)
        tf = np.concatenate(TFs).astype(np.int64)
        dl = np.concatenate(DLs).astype(np.int64)
        order = np.lexsort((d, t))
        t2, d2 = t[order], d[order]
        tf2, dl2 = tf[order], dl[order]
        p2 = (_reorder_positions(np.concatenate(Ps).astype(np.int64), tf,
                                 order) if with_positions else None)
        if t2.size > 1:
            dup = (t2[1:] == t2[:-1]) & (d2[1:] == d2[:-1])
            if dup.any():
                # rare path: collapse duplicate (term_id, doc_id) runs.
                # Fragment semantics: the merged run behaves as the
                # concatenation of its source rows — tf AND dl are
                # summed, so the BM25 impact of a term present in every
                # fragment is exact; a term present in only some
                # fragments keeps that fragment's dl (cross-term dl
                # reconciliation would need doc-level state that a
                # term-partitioned merge cannot see — the canonical
                # pipeline deduplicates doc_ids upstream, P4).
                # Positions stay per-source-row offsets (phrase matches
                # within a fragment are exact; cross-fragment phrase
                # adjacency is out of scope).
                first = np.concatenate(([True], ~dup))
                keep = np.flatnonzero(first)
                tf_m = np.add.reduceat(tf2, keep)
                dl_m = np.add.reduceat(dl2, keep)
                if p2 is not None:
                    # adjacent runs' position slices are already
                    # contiguous; sort only the merged groups' slices
                    g_starts = np.zeros(keep.size, dtype=np.int64)
                    np.cumsum(tf_m[:-1], out=g_starts[1:])
                    runs_per_g = np.add.reduceat(
                        np.ones(tf2.size, np.int64), keep)
                    for g in np.flatnonzero(runs_per_g > 1):
                        s0 = g_starts[g]
                        p2[s0:s0 + tf_m[g]].sort()
                t2, d2, dl2, tf2 = t2[keep], d2[keep], dl_m, tf_m
        rng2 = d2 >> range_shift
        newg = np.empty(t2.size, dtype=bool)
        newg[0] = True
        newg[1:] = (t2[1:] != t2[:-1]) | (rng2[1:] != rng2[:-1])
        yield _runs_to_blocks(t2, rng2, d2, tf2, dl2, newg, p2,
                              avg, block_size)

    return kernel


def _n_partitions(spark: SparkSession, est_occ: float) -> int:
    """Phase-B slot count: at least spark.sql.shuffle.partitions and
    enough slots to keep each near TARGET_PART_ROWS occurrences, rounded
    up to a multiple of the executor slot count (9 tasks on 8 slots is
    a 2-wave schedule with 7 idle slots in wave 2)."""
    base = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
               math.ceil(est_occ / TARGET_PART_ROWS))
    par = max(1, spark.sparkContext.defaultParallelism)
    return math.ceil(base / par) * par


def _phase_b(partials: DataFrame, n_partitions: int, avgdl: float | None,
             with_positions: bool, range_shift: int,
             stats_acc: Accumulator | None = None) -> DataFrame:
    """Shuffle the partial rows, runs and stats rows alike, to their
    slots (the build's one exchange: p is the partition id, so slot k
    is phase-B partition k) and merge+encode each slot. With
    avgdl None each task takes it from the stats rows and adds the
    corpus's (n_docs, sum_dl) to stats_acc (_merge_factory)."""
    return (partials.repartitionById(n_partitions, "p")
            .mapInArrow(_merge_factory(avgdl, codec.BLOCK_SIZE,
                                       with_positions, range_shift,
                                       stats_acc),
                        schema=POSTING_SCHEMA))


def build_postings(tokens_df: DataFrame,
                   stats: CorpusStats | None = None,
                   range_shift: int | None = None,
                   with_positions: bool = True,
                   vocab_filter: DataFrame | None = None,
                   n_partitions: int | None = None) -> tuple[DataFrame, CorpusStats]:
    """tokens_df(doc_id, tokens) -> posting-block DataFrame + stats.

    Map-side-partial build (the MapReduce combiner form), ONE shuffle
    of packed bytes:
      1. Phase A mapInPandas over (doc_id, tokens) (_phase_a_factory):
         per input split, hash terms (xxh64 == Spark xxhash64, once per
         unique term of a flush), stable-argsort each flush's
         occurrences on term_id, collapse to runs (tf, positions), and
         emit ONE binary-blob row per (flush, target slot) — the
         occurrence stream never crosses the Arrow bridge as rows;
      2. shuffle the partial rows with their merge slot (_slot_of) as
         the partition id (repartitionById) — bytes move, not rows; a
         (term_id, doc_range) group lands in one slot, write_index
         writes each slot as one file with no second exchange, and
         doc_range = shiftright(doc_id, range_shift) splits any term's
         postings into <= ~MAX_RANGE_DOCS-doc groups (see
         range_shift_for);
      3. Phase B mapInArrow per slot: concat partial runs, ONE lexsort
         merge, vectorized delta+varint+block-max encode
         (_runs_to_blocks). Output blocks are byte-identical to a
         global sort-based build.

    vocab_filter: a DataFrame with a `term` column; tokens outside it
    are dropped, keeping their original offsets as positions and the
    unfiltered token count as the doc length.
    """
    spark = tokens_df.sparkSession
    if stats is None:
        stats = corpus_stats(tokens_df)
    if range_shift is None:
        range_shift = range_shift_for(stats.n_docs)
    if n_partitions is None:
        n_partitions = _n_partitions(
            spark, int(stats.n_docs * max(stats.avgdl, 1.0)))
    vocab_set = None
    if vocab_filter is not None:
        vocab_set = frozenset(
            r["term"] for r in vocab_filter.select("term").collect())
    partials = tokens_df.select("doc_id", "tokens").mapInPandas(
        _phase_a_factory(lambda pdf: zip(pdf["doc_id"], pdf["tokens"]),
                         range_shift, n_partitions, with_positions,
                         vocab_set),
        schema=_PARTIAL_SCHEMA)
    postings = _phase_b(partials, n_partitions, stats.avgdl,
                        with_positions, range_shift)
    return postings, stats


def build_from_corpus(corpus_df: DataFrame, tokenizer: str = "spm",
                      range_shift: int | None = None,
                      with_positions: bool = True,
                      n_partitions: int | None = None) -> tuple[DataFrame, CorpusStats]:
    """Fused build: (url, html) corpus -> posting blocks in ONE python
    pass plus the bytes shuffle — the phase-A kernel of build_postings
    reads its docs through the extract/hash/tokenize loop (_extracted),
    so neither the html nor the token arrays ever make a second trip
    across the Arrow bridge (build_postings over pre-tokenized input
    pays one token-array crossing).

    Corpus statistics (n_docs, avgdl for the phase-B BM25 impacts)
    ride the partial shuffle: each phase-A flush sends its (n_docs,
    sum_dl) to every slot, and each phase-B task sums them itself. So
    nothing is persisted and there is no stats pass: the build is the
    corpus row count plus the one job that runs the postings. The
    returned stats are known once the postings have run (write_index
    reads them after its write); read before, they raise RuntimeError.
    The phase-B tasks report them through a set-union accumulator, so
    retried tasks and repeated runs of the plan count once.

    range_shift is derived from the corpus ROW COUNT (cheap metadata),
    which can differ from the extractable-doc count build_postings
    would use only when the two straddle a power-of-2 boundary of
    MAX_RANGE_DOCS; pass `range_shift` explicitly when byte-parity
    with a tokens-path build matters."""
    spark = corpus_df.sparkSession
    est_docs = corpus_df.count()
    if range_shift is None:
        range_shift = range_shift_for(est_docs)
    if n_partitions is None:  # ~350 tokens per extracted page
        n_partitions = _n_partitions(spark, est_docs * 350.0)
    partials = corpus_df.select("url", "html").mapInPandas(
        _phase_a_factory(
            lambda pdf: ((d, t) for d, _, _, t in _extracted(pdf, tokenizer)),
            range_shift, n_partitions, with_positions),
        schema=_PARTIAL_SCHEMA)
    pairs = spark.sparkContext.accumulator(frozenset(), _PairUnion())
    postings = _phase_b(partials, n_partitions, None, with_positions,
                        range_shift, pairs)
    return postings, _BuildStats(pairs)


def write_plan(postings: DataFrame) -> DataFrame:
    """The rows write_index persists: each partition sorted by
    (term_id, doc_range, block_id), so every output file is
    term-ordered for Parquet's term_id row-group pruning."""
    return postings.sortWithinPartitions("term_id", "doc_range", "block_id")


def write_index(postings: DataFrame, path: str,
                stats: CorpusStats | None = None) -> None:
    """Persist postings as one term-ordered, zstd-compressed parquet
    file per input partition; stats sidecar as JSON.

    The one posting writer: fresh builds, compact_index output,
    resumable parts, table-delta parts and streamed segments all go
    through it, so every index file has the same sort and codec.

    No exchange: each partition is sorted in place and written as it
    stands (write_plan), so phase B and the write run as one stage and
    a build (or compact_index, which runs the same phase B) writes one
    file per phase-B task. Any other input partitioning is written
    just as correctly, one file per partition.

    zstd (Spark's default level), not Spark's default snappy: the block
    bytes are the same, but the `docs` column's hashed doc-id gaps
    barely compress under snappy, and zstd's window finds the gap runs
    that frequent terms' lists share (README, "Index layout")."""
    (write_plan(postings).write.mode("overwrite")
     .option("compression", "zstd").parquet(path))
    if stats is not None:
        write_stats(path, stats)


def write_stats(path: str, stats: CorpusStats) -> None:
    """The index's corpus-stats sidecar, `_stats.json`."""
    with open(os.path.join(path, "_stats.json"), "w") as fh:
        json.dump({"n_docs": stats.n_docs, "avgdl": stats.avgdl}, fh)


def read_stats(path: str) -> CorpusStats:
    with open(os.path.join(path, "_stats.json")) as fh:
        return CorpusStats(**json.load(fh))


def read_index(spark: SparkSession, path: str) -> tuple[DataFrame, CorpusStats]:
    return spark.read.parquet(path), read_stats(path)
