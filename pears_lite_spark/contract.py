"""Driver-contract query implementations + DuckDB oracle SQL.

Each entry pairs a Spark DataFrame implementation (an operator from
SURVEY.md §2 or a training-data-pipeline op) with an ANSI-SQL oracle
DuckDB runs on the same parquet tables. Column names/types are aligned
on both sides; floats that accumulate across rows are rounded to 5-6
decimals IN BOTH engines so order-of-summation ulps can't flip the
value hash.

Tokenization here is the whitespace path (SQL-expressible); the SPM /
HTML-extraction path is exercised by the rows-only entries and pytest.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .functions.extract import LANG_STOPWORDS

BM25_QUERY = ["spark", "join", "table", "scan"]
AND_QUERY = ["window", "vector", "batch"]
SNIPPET_QUERY = "spark join window"
PHRASE = ["batch", "stream"]
COSINE_QUERY = ["spark", "join"]
URL_QUERY = "spark"
PARSE_QUERIES = [
    "spark join",
    "best cheese -fr",
    "?report annual",
    "!news budget cuts",
    "folder/path query",
    "mix ?x !y end -de",
    "trailing slash/ -en",
    "!x",
]
ROBOTS_FIXTURES = [
    ("a.example", "User-agent: *\nDisallow: /private\nDisallow: /tmp"),
    ("b.example", "User-agent: googlebot\nDisallow: /"),
    ("c.example", "User-agent: *\nAllow: /"),
    ("d.example",
     "User-agent: googlebot\nDisallow: /x\nUser-agent: *\nDisallow: /y"),
    ("e.example", ""),
]

_TOK_SQL = ("SELECT doc_id, unnest(string_split(text, ' ')) AS term "
            "FROM documents WHERE text IS NOT NULL")


def _fixture_urls_file() -> str:
    """url;keyword;lang list fixture — written by BOTH queries() and
    oracle_sql() so the file exists whichever side the driver runs
    first."""
    import os
    import tempfile
    path = os.path.join(tempfile.gettempdir(), "pears_urls.txt")
    with open(path, "w") as fh:
        fh.write("https://a.example/x;news;en\n"
                 "https://b.example/y;;de\n"
                 "https://c.example/z\n"
                 "\n"
                 "https://d.example/w;blog\n")
    return path


def _fixture_docs_file() -> str:
    """S9 pseudo-XML local-docs fixture."""
    import os
    import tempfile
    path = os.path.join(tempfile.gettempdir(), "pears_docs.txt")
    with open(path, "w") as fh:
        fh.write('<doc url="file:///a" title="Alpha">first  local\n'
                 'document body</doc>\n'
                 '<doc url="file:///b" title="Beta">second one</doc>\n'
                 'stray text between docs\n'
                 '<doc url="file:///c" title="Gamma"> padded   body </doc>\n')
    return path


def _fixture_bookmarks_file() -> str:
    """S11 Netscape-bookmarks fixture."""
    import os
    import tempfile
    path = os.path.join(tempfile.gettempdir(), "pears_bookmarks.html")
    with open(path, "w") as fh:
        fh.write('<DL><p>\n'
                 '<DT><H3>news</H3>\n'
                 '<DL><p>\n'
                 '<DT><A HREF="https://n1.example/" ADD_DATE="1">Site One</A>\n'
                 '<DT><A HREF="https://n2.example/x">Site Two</A>\n'
                 '</DL><p>\n'
                 '<DT><A HREF="https://other.example/">Other</A>\n'
                 '</DL>\n')
    return path


def _fixture_csv_file() -> str:
    """S10 fixture; rows pre-sorted by first column so Spark's file-order
    row ids and the oracle's ORDER BY agree."""
    import os
    import tempfile
    path = os.path.join(tempfile.gettempdir(), "pears_csv.csv")
    with open(path, "w") as fh:
        fh.write("name;city;notes\nada;london;math\n"
                 "ben;arlington;compilers\ncara;london;logic\n")
    return path


def _fixture_links_corpus_parquet() -> str:
    """(url, html:string) parquet of the synthetic corpus — shared input
    for the S6 link-extraction query and its DuckDB oracle (written by
    whichever side runs first; fully deterministic)."""
    import os
    import tempfile
    path = os.path.join(tempfile.gettempdir(), "pears_links_corpus.parquet")
    if True:  # always rewrite: stale fixtures from older code would poison
        import pyarrow as pa
        import pyarrow.parquet as pq
        from .corpus import gen_corpus
        pdf = gen_corpus(60)
        tmp = f"{path}.tmp-{os.getpid()}"
        pq.write_table(pa.table({
            "url": pdf["url"],
            "html": [h.decode("utf-8") for h in pdf["html"]],
        }), tmp)
        os.replace(tmp, path)  # atomic: concurrent readers never see a half-written file
    return path


def _fixture_spm_expected_parquet() -> str:
    """Expected SentencePiece piece counts for the synthetic corpus,
    computed DRIVER-SIDE with the same vocab (pure Python, no Spark) —
    the oracle for the T1 Spark plumbing path. Self-derived but
    execution-independent: a bug in the mapInPandas kernel, Arrow
    marshalling, or per-executor vocab load shows up as a mismatch."""
    import os
    import tempfile
    path = os.path.join(tempfile.gettempdir(), "pears_spm_expected.parquet")
    if True:  # always rewrite (deterministic; ~1s)
        import pyarrow as pa
        import pyarrow.parquet as pq
        from .corpus import gen_corpus
        from .vocab import get_vocab
        v = get_vocab()
        pdf = gen_corpus(120)
        tmp = f"{path}.tmp-{os.getpid()}"
        pq.write_table(pa.table({
            "url": pdf["url"],
            "n_pieces": [len(v.encode_as_pieces(t)) if isinstance(t, str)
                         else 0 for t in pdf["text"]],
        }), tmp)
        os.replace(tmp, path)
    return path


def _fixture_extract_expected_parquet() -> str:
    """Expected HTML-extraction parity rows (url, ok, n_chars), computed
    driver-side with the same extractor (see _fixture_spm_expected_parquet
    on what this does and does not prove)."""
    import os
    import tempfile
    path = os.path.join(tempfile.gettempdir(),
                        "pears_extract_expected.parquet")
    if True:  # always rewrite (deterministic; fast)
        import pyarrow as pa
        import pyarrow.parquet as pq
        from .corpus import gen_corpus
        from .functions.extract import extract_html
        pdf = gen_corpus(120)
        oks, ncs = [], []
        for html, expected in zip(pdf["html"], pdf["text"]):
            _, text, _, _ = extract_html(html)
            oks.append(text == expected)
            ncs.append(len(text))
        tmp = f"{path}.tmp-{os.getpid()}"
        pq.write_table(pa.table({"url": pdf["url"], "ok": oks,
                                 "n_chars": ncs}), tmp)
        os.replace(tmp, path)
    return path


def _fixture_phrase_expected_parquet() -> str:
    """Expected C6 phrase scores computed WITHOUT the index: pure-Python
    tokenization + direct token-position adjacency over the synthetic
    corpus. An independent oracle for the whole block pipeline — the
    Spark query answers from encoded positions (build -> prune ->
    decode), so a codec or pruning bug shows up as a mismatch."""
    import os
    import tempfile
    path = os.path.join(tempfile.gettempdir(),
                        "pears_phrase_expected.parquet")
    if True:  # always rewrite (deterministic)
        import pyarrow as pa
        import pyarrow.parquet as pq
        from .corpus import PHRASES, gen_corpus
        from .search.parity import group_subwords, phrase_adjacency_score
        from .vocab import get_vocab
        from .xxh64 import xxh64_signed
        v = get_vocab()
        pdf = gen_corpus(240)
        words = group_subwords(v.encode_as_pieces(PHRASES[0]))
        need = sorted({p for w in words for p in w})
        ids, scores = [], []
        for url, text in zip(pdf["url"], pdf["text"]):
            toks = v.encode_as_pieces(text) if isinstance(text, str) else []
            posmap = {}
            for i, t in enumerate(toks):
                if t in need:
                    posmap.setdefault(t, []).append(i)
            if len(posmap) < len(need):
                continue
            ids.append(xxh64_signed(url))
            scores.append(round(phrase_adjacency_score(words, posmap), 6))
        tmp = f"{path}.tmp-{os.getpid()}"
        pq.write_table(pa.table({"doc_id": ids, "phrase_score_r": scores}),
                       tmp)
        os.replace(tmp, path)
    return path


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .index.build import tokenize_whitespace
    return tokenize_whitespace(_docs(spark, sf_dir)).select("doc_id", "tokens")


# ------------------------------------------------------------ index cache

_INDEX_CACHE: dict = {}


def _index_for(spark: SparkSession, sf_dir: str):
    key = (id(spark), sf_dir)
    if key not in _INDEX_CACHE:
        from .index.build import build_postings
        postings, stats = build_postings(_tokens(spark, sf_dir))
        _INDEX_CACHE[key] = (postings.persist(), stats)
    return _INDEX_CACHE[key]


# ------------------------------------------------------------- the queries

def q_tf_top_terms(spark, sf_dir):
    """T2/A2: top-20 terms by collection frequency."""
    tok = _tokens(spark, sf_dir).select(F.explode("tokens").alias("term"))
    return (tok.groupBy("term").agg(F.count("*").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("term")).limit(20))


def q_term_df(spark, sf_dir):
    """A2: document frequency per term (top 50)."""
    tok = _tokens(spark, sf_dir).select(
        "doc_id", F.explode("tokens").alias("term"))
    return (tok.distinct().groupBy("term").agg(F.count("*").alias("df"))
            .orderBy(F.desc("df"), F.asc("term")).limit(50))


def q_corpus_stats(spark, sf_dir):
    """A2: N, avgdl, |vocab| — the broadcast BM25 statistics."""
    toks = _tokens(spark, sf_dir)
    tok = toks.select("doc_id", F.explode("tokens").alias("term"))
    return (tok.agg(
        F.countDistinct("doc_id").alias("n_docs"),
        (F.count("*") / F.countDistinct("doc_id")).alias("avgdl"),
        F.countDistinct("term").alias("n_terms")))


def q_doc_token_counts(spark, sf_dir):
    from .functions.textstats import token_counts
    out = token_counts(_docs(spark, sf_dir))
    return out.select("doc_id", F.col("ws_tokens").cast("long").alias("ws_tokens"),
                      F.col("bpe_tokens").cast("long").alias("bpe_tokens"))


def q_bm25_top10(spark, sf_dir):
    """C10 exhaustive DataFrame BM25."""
    from .search.bm25 import bm25_topk
    out = bm25_topk(_tokens(spark, sf_dir), BM25_QUERY, 10)
    return out.select("doc_id", F.round("score", 5).alias("score_r"))


def q_bm25_wand_top10(spark, sf_dir):
    """C10 via the block-compressed index and its top-k kernel (same
    oracle as q_bm25_top10 — rank/score identity is the point; the
    query name is part of the driver interface and stays)."""
    from .search.bm25 import search_blocks
    postings, stats = _index_for(spark, sf_dir)
    out = search_blocks(postings, stats, [BM25_QUERY], k=10)
    return out.select("doc_id", F.round("score", 5).alias("score_r"))


def q_conjunctive_and(spark, sf_dir):
    from .search.parity import conjunctive_and
    return conjunctive_and(_tokens(spark, sf_dir), AND_QUERY)


def q_completeness(spark, sf_dir):
    from .search.parity import completeness
    return completeness(_tokens(spark, sf_dir), AND_QUERY)


def q_snippet_overlap(spark, sf_dir):
    from .search.parity import snippet_overlap
    return snippet_overlap(_docs(spark, sf_dir), SNIPPET_QUERY)


def q_phrase_match(spark, sf_dir):
    from .search.parity import phrase_match
    return phrase_match(_tokens(spark, sf_dir), PHRASE)


def q_cosine_scores(spark, sf_dir):
    from .search.parity import cosine_scores
    out = cosine_scores(_tokens(spark, sf_dir), COSINE_QUERY)
    return out.select("doc_id", F.round("cosine", 6).alias("cosine_r"))


def q_exact_dedup64(spark, sf_dir):
    return (_docs(spark, sf_dir)
            .groupBy(F.substring("text", 1, 64).alias("k"))
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id"))


def q_minhash_sigs(spark, sf_dir):
    from .dedup import minhash_signatures
    out = minhash_signatures(_docs(spark, sf_dir), num_hashes=4, n=3)
    return out.select("doc_id", F.col("hash_id").cast("long").alias("hash_id"),
                      "minhash")


def q_jaccard_pairs(spark, sf_dir):
    from .dedup import jaccard_pairs
    return jaccard_pairs(_docs(spark, sf_dir), n=2, threshold=0.3)


def q_simhash(spark, sf_dir):
    from .dedup import simhash64
    return simhash64(_docs(spark, sf_dir))


def q_lang_id(spark, sf_dir):
    from .functions.textstats import lang_id
    return lang_id(_docs(spark, sf_dir))


def q_quality(spark, sf_dir):
    from .functions.textstats import quality_scores
    out = quality_scores(_docs(spark, sf_dir))
    return out.select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("mean_token_len", 6).alias("mean_token_len_r"),
        F.round("stopword_ratio", 6).alias("stopword_ratio_r"),
        F.round("punct_ratio", 6).alias("punct_ratio_r"),
        F.round("quality", 6).alias("quality_r"))


def q_repetition(spark, sf_dir):
    """Gopher-style repetition signals (distinct-token fraction, top-
    bigram coverage)."""
    from .functions.textstats import repetition_scores
    return repetition_scores(_docs(spark, sf_dir))


def q_redact_pii(spark, sf_dir):
    """PII scrubbing: deterministic email/IP injection over the docs
    table, then count+redact; clean text compared via md5."""
    from .functions.textstats import redact_pii
    docs = _docs(spark, sf_dir)
    aug = docs.withColumn("text", F.concat(
        F.coalesce("text", F.lit("")),
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit(" mail u"), F.col("doc_id").cast("string"),
                        F.lit("@ex.org"))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.lit(" ip 10.0."),
                        (F.col("doc_id") % 200).cast("string"),
                        F.lit(".7 end"))).otherwise(F.lit(""))))
    out = redact_pii(aug)
    return out.select("doc_id", "n_emails", "n_ips",
                      F.md5("clean").alias("clean_md5"))


def q_fingerprints(spark, sf_dir):
    from .functions.textstats import fingerprints
    return fingerprints(_docs(spark, sf_dir))


def q_span_dedup(spark, sf_dir):
    """Sub-document (k-token span) dedup, C4-style: drop every 12-token
    span that occurred earlier in the corpus (first (doc_id, pos) wins),
    reassemble survivors. Oracle is a full SQL twin (window over span)."""
    from .dedup import span_dedup
    out = span_dedup(_docs(spark, sf_dir), k=12)
    return out.select("doc_id", F.col("n_spans").cast("long").alias("n_spans"),
                      F.col("n_kept").cast("long").alias("n_kept"),
                      "text_clean")


def _fixture_unigram_loglik_parquet() -> str:
    """Expected unigram-LM doc scores computed DRIVER-SIDE with the same
    binary model over the gate-scale documents table (pure Python — no
    Spark): fixed-point integer sums, so executor-side aggregation must
    reproduce them bit-for-bit."""
    import os
    import tempfile
    path = os.path.join(tempfile.gettempdir(),
                        "pears_uloglik_expected.parquet")
    if True:  # always rewrite (deterministic; ~2s)
        import pyarrow as pa
        import pyarrow.parquet as pq
        from .vocab import UNK_LOGPROB, get_vocab
        v = get_vocab()
        scores = {p: int(round(lp * 1e6)) for p, lp in v.logprob.items()}
        unk = int(round(UNK_LOGPROB * 1e6))
        tbl = pq.read_table(_oracle_sf_dir() + "/documents.parquet",
                            columns=["doc_id", "text"])
        ids, nps, sums, avgs = [], [], [], []
        for did, text in zip(tbl["doc_id"].to_pylist(),
                             tbl["text"].to_pylist()):
            pieces = v.encode_as_pieces(text if isinstance(text, str) else "")
            if not pieces:
                continue
            s = sum(scores.get(p, unk) for p in pieces)
            ids.append(did)
            nps.append(len(pieces))
            sums.append(s)
            avgs.append(s / (len(pieces) * 1e6))
        tmp = f"{path}.tmp-{os.getpid()}"
        pq.write_table(pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "n_pieces": pa.array(nps, pa.int64()),
            "sum_lp_e6": pa.array(sums, pa.int64()),
            "avg_logprob": pa.array(avgs, pa.float64())}), tmp)
        os.replace(tmp, path)
    return path


def q_unigram_loglik(spark, sf_dir):
    """LM quality filter (unigram-LM mean piece log-prob per doc, exact
    fixed-point sums). Oracle: driver-side pure-Python computation with
    the same binary model — executor tokenization + broadcast-join +
    integer aggregation must reproduce it exactly."""
    from .functions.textstats import unigram_loglik
    return unigram_loglik(_docs(spark, sf_dir))


def q_gopher_rules(spark, sf_dir):
    """Gopher quality rule suite (Rae et al. 2021 table A1) as per-doc
    booleans + the conjunction; min_words lowered to 20 so the ~30-token
    synthetic docs exercise both branches of every rule."""
    from .functions.textstats import gopher_rules
    return gopher_rules(_docs(spark, sf_dir), min_words=20)


def q_normalize_text(spark, sf_dir):
    """Control-char + whitespace normalization over docs with
    deterministically injected tabs/C0 bytes; clean text compared via
    md5."""
    from .functions.textstats import normalize_text
    docs = _docs(spark, sf_dir)
    aug = docs.withColumn("text", F.concat(
        F.lit("\tlead "), F.coalesce("text", F.lit("")),
        F.when(F.col("doc_id") % 3 == 0,
               F.lit("  tail\x01x  ")).otherwise(F.lit(""))))
    out = normalize_text(aug)
    return out.select("doc_id", "n_chars_raw", "n_chars_clean",
                      F.md5("clean").alias("clean_md5"))


def q_domain_stats(spark, sf_dir):
    """Per-host corpus rollup over deterministic synthetic urls
    (host = h{doc_id%23}.{source}.example): JVM parse_url + one
    map-side-combined aggregate."""
    from .functions.textstats import domain_stats
    docs = _docs(spark, sf_dir)
    urls = docs.withColumn("url", F.concat(
        F.lit("https://h"), (F.col("doc_id") % 23).cast("string"),
        F.lit("."), F.col("source"), F.lit(".example/p"),
        F.col("doc_id").cast("string")))
    return domain_stats(urls)


def q_decontaminate(spark, sf_dir):
    """Benchmark n-gram decontamination: the benchmark set is a
    deterministic excerpt (tokens 6..25) of every 41st doc; corpus docs
    sharing any 8-gram with it are flagged. Broadcast benchmark hashes;
    only matched shingles shuffle."""
    from .functions.decontam import ngram_contamination
    docs = _docs(spark, sf_dir)
    toks = F.filter(
        F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
        lambda x: x != "")
    bench = (docs.filter(F.col("doc_id") % 41 == 3)
             .select(F.concat_ws(" ", F.slice(toks, 6, 20)).alias("text")))
    return ngram_contamination(docs, bench, n=8)


def q_line_dedup(spark, sf_dir):
    """Corpus-frequency line dedup over deterministically line-broken
    docs (10-word lines) with a planted high-df boilerplate line (every
    even doc) and a planted rare line (every 200th doc, df below the
    threshold so it must survive). text_clean compared via md5."""
    from .dedup import line_dedup
    docs = _docs(spark, sf_dir)
    toks = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
        lambda x: x != "")
    nl = F.ceil(F.size(toks) / F.lit(10.0)).cast("int")
    content = F.when(F.size(toks) > 0, F.transform(
        F.sequence(F.lit(0), nl - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * 10 + 1, 10)))
    ).otherwise(F.array().cast("array<string>"))
    planted = F.concat(
        content,
        F.when(F.col("doc_id") % 2 == 0,
               F.array(F.lit("all rights reserved legal notice example"))
               ).otherwise(F.array().cast("array<string>")),
        F.when(F.col("doc_id") % 200 == 0,
               F.array(F.lit("rare line token alpha beta"))
               ).otherwise(F.array().cast("array<string>")))
    aug = docs.withColumn("text", F.concat_ws("\n", planted))
    out = line_dedup(aug, min_doc_freq=5)
    return out.select("doc_id", "n_lines", "n_kept",
                      F.md5("text_clean").alias("clean_md5"))


def q_anchor_text(spark, sf_dir):
    """Anchor extraction + per-target rollup over the synthetic html
    corpus; oracle mirrors the <a> element regex, urljoin rules, tag
    stripping, and the frequency-ranked top-k window in DuckDB SQL."""
    from .sources import anchor_text_rollup, extract_anchors_df
    cdf = spark.read.parquet(_fixture_links_corpus_parquet())
    return anchor_text_rollup(extract_anchors_df(cdf))


def q_classifier_score(spark, sf_dir):
    """Hashed-linear quality classifier (fastText/DCLM-style filter):
    md5-bucket features, exact micro-unit logit sum, sigmoid score.
    Stub weights are a pure arithmetic function of the bucket id, so
    the DuckDB twin mirrors the whole pipeline including the hash."""
    from .functions.textstats import classifier_score
    return classifier_score(_docs(spark, sf_dir))


def q_pack_sequences(spark, sf_dir):
    """Concat-then-chunk sequence packing into seq_len=256 windows:
    global token cumsum in doc_id order via the two-phase bucket
    cumsum; SQL twin is the single global window cumsum."""
    from .functions.sampling import pack_sequences
    return pack_sequences(_docs(spark, sf_dir), seq_len=256)


def q_embedding_top10(spark, sf_dir):
    from .ann import brute_topk
    emb = _emb(spark, sf_dir)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    out = brute_topk(emb, [float(x) for x in qvec], k=10)
    return out.select("vec_id", F.round("cosine", 5).alias("cos_r"))


def q_knn_join(spark, sf_dir):
    """Batch k-NN: top-3 neighbours for each of 5 query vectors in ONE
    job (broadcast queries x cosine x rank window) — the distributed
    form of the reference's neighbours op (`neighbours.py:10-33`)."""
    from .ann import pairwise_topk_join
    emb = _emb(spark, sf_dir)
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qvec")))
    out = pairwise_topk_join(emb, queries, k=3)
    return out.select("qid", "vec_id", F.round("cosine", 5).alias("cos_r"),
                      F.col("rank").cast("long").alias("rank"))


def q_ivf_top10(spark, sf_dir):
    """IVF-Flat ANN: deterministic numpy-Lloyd coarse quantizer
    (trained on a bounded id-ordered sample of the sf table), column-
    algebra cell assignment, nprobe-cell probe, exact cosine re-rank.
    The oracle runs the IDENTICAL training code on the sf0.01 table
    (the scale the driver's gate runs at) and mirrors assignment +
    probe + re-rank in SQL with literal centroids."""
    from .ann import ivf_topk, train_ivf_centroids
    emb = _emb(spark, sf_dir)
    cents = train_ivf_centroids(emb)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    out = ivf_topk(emb, [float(x) for x in qvec], k=10, nprobe=4,
                   centroids=cents)
    return out.select("vec_id", F.round("cosine", 5).alias("cos_r"))


def _fixture_ann_index(spark, sf_dir) -> str:
    """Materialized ANN artifact for the pruned-probe queries: written
    once per (process, sf_dir) under the tempdir — the probe queries
    then read it back with partition pruning (the 100 TB serving path;
    tests/test_ann_index.py asserts PartitionFilters in the plan)."""
    import hashlib
    import os
    import tempfile
    from .ann import write_ann_index
    # cache key includes a fingerprint of the source parquet (mtime +
    # size): regenerated testdata invalidates the cached index instead
    # of silently serving stale centroids/codes against fresh oracles
    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    tag = hashlib.md5(
        f"{sf_dir}:{st.st_mtime_ns}:{st.st_size}".encode()).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(), f"pears_ann_idx3_{tag}")
    marker = os.path.join(path, "ann_meta.json")
    if not os.path.exists(marker):
        write_ann_index(_emb(spark, sf_dir), path)
    return path


def q_ivf_pruned_top10(spark, sf_dir):
    """IVF-Flat probe against the MATERIALIZED index (ivf_cell is a
    stored partition key; the probe scan prunes to nprobe cells instead
    of recomputing assignments per query). Same centroids + nprobe as
    q_ivf_top10, so the oracle is the same SQL twin."""
    from .ann import ivf_topk_indexed
    emb = _emb(spark, sf_dir)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    path = _fixture_ann_index(spark, sf_dir)
    out = ivf_topk_indexed(spark, path, [float(x) for x in qvec],
                           k=10, nprobe=4)
    return out.select("vec_id", F.round("cosine", 5).alias("cos_r"))


def q_lsh_pruned_top10(spark, sf_dir):
    """Multi-table LSH probe against the MATERIALIZED index
    ((lsh_table, lsh_bucket) are stored partition keys; the probe scan
    prunes to the per-table Hamming-1 bucket sets). Same plane config
    as q_ann_lsh_top10, so the oracle is the same SQL twin."""
    from .ann import lsh_topk_indexed
    emb = _emb(spark, sf_dir)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    path = _fixture_ann_index(spark, sf_dir)
    out = lsh_topk_indexed(spark, path, [float(x) for x in qvec],
                           k=10, max_hamming=1)
    return out.select("vec_id", F.round("cosine", 5).alias("cos_r"))


def q_ivf_pq_top10(spark, sf_dir):
    """FAISS-style IVF-PQ over the MATERIALIZED index: partition-pruned
    coarse probe (nprobe=4), LUT-sum approximate cosine over the STORED
    product-quantization codes (JVM column algebra — the candidate scan
    reads m=16 small codes, not 64 floats), exact cosine re-rank of the
    top 100. Oracle mirrors the whole chain (cells + codes + LUT +
    refine) in SQL with the identical numpy-trained literals."""
    from .ann import ivf_pq_topk_indexed
    emb = _emb(spark, sf_dir)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    path = _fixture_ann_index(spark, sf_dir)
    out = ivf_pq_topk_indexed(spark, path, [float(x) for x in qvec],
                              k=10, nprobe=4, refine=100)
    return out.select("vec_id", F.round("cosine", 5).alias("cos_r"))


def q_pod_counts(spark, sf_dir):
    """A3/A4: docs per pod (pod == source column)."""
    return (_docs(spark, sf_dir).groupBy("source")
            .agg(F.count("*").alias("n_docs")))


def q_pod_top_terms(spark, sf_dir):
    """A1: pod summary — top-3 terms per pod by weight."""
    tok = (_tokens(spark, sf_dir)
           .join(_docs(spark, sf_dir).select("doc_id", "source"), "doc_id")
           .select("source", F.explode("tokens").alias("term")))
    cnt = tok.groupBy("source", "term").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("source").orderBy(F.desc("cnt"), F.asc("term"))
    return (cnt.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3)
            .select("source", "term", "cnt", F.col("rnk").cast("long").alias("rnk")))


def q_events_hourly(spark, sf_dir):
    """Tumbling-window aggregate over the events stream table (the batch
    twin of the Structured Streaming ingest — SURVEY.md §2.10)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (ev.groupBy("event_type",
                       F.date_trunc("hour", F.col("ts")).alias("hour"))
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value_r")))


def q_events_sessions(spark, sf_dir):
    """Gap-based session windows over the events table (Catalyst
    session_window; the applyInPandasWithState stateful twin is
    pytest-checked against this batch plan)."""
    from .streaming.events import session_windows
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return session_windows(ev, gap="10 minutes")


def q_bfs_reach(spark, sf_dir):
    """S5: crawler-frontier BFS as iterative anti-joins over a graph
    derived from orders/lineitem (customer -> order -> part, namespaced
    node ids); oracle is a recursive CTE."""
    from .sources import bfs_frontier
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    e1 = orders.select((F.col("o_custkey") * 3).alias("src"),
                       (F.col("o_orderkey") * 3 + 1).alias("dst"))
    e2 = li.select((F.col("l_orderkey") * 3 + 1).alias("src"),
                   (F.col("l_partkey") * 3 + 2).alias("dst"))
    edges = e1.unionByName(e2)
    seeds = (orders.filter(F.col("o_custkey") < 5)
             .select((F.col("o_custkey") * 3).alias("node")).distinct())
    out = bfs_frontier(edges, seeds, max_depth=3)
    return out.select("node", F.col("depth").cast("long").alias("depth"))


def q_pagerank(spark, sf_dir):
    """Link-authority ranking of the crawl graph (same namespaced
    customer->order->part graph as bfs_reach): 5 power iterations of
    deterministic fixed-point PageRank (int64 micro-units, floor
    division — exact distributed sums). Oracle: the identical integer
    recurrence unrolled as 5 CTE stages."""
    from .sources import pagerank
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    e1 = orders.select((F.col("o_custkey") * 3).alias("src"),
                       (F.col("o_orderkey") * 3 + 1).alias("dst"))
    e2 = li.select((F.col("l_orderkey") * 3 + 1).alias("src"),
                   (F.col("l_partkey") * 3 + 2).alias("dst"))
    out = pagerank(e1.unionByName(e2), iters=5)
    return out.select(F.col("node").cast("long").alias("node"),
                      "rank_e12")


def _pagerank_oracle(iters: int = 5) -> str:
    """Unrolled-CTE twin of q_pagerank's integer recurrence."""
    scale = 10 ** 12
    ctes = [f"""
edges AS (SELECT o_custkey*3 AS src, o_orderkey*3+1 AS dst FROM orders
          UNION ALL
          SELECT l_orderkey*3+1, l_partkey*3+2 FROM lineitem),
nodes AS (SELECT DISTINCT node FROM
          (SELECT src AS node FROM edges
           UNION ALL SELECT dst FROM edges)),
nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
deg AS (SELECT src, count(*)::BIGINT AS deg FROM edges GROUP BY src),
r0 AS (SELECT node, ({scale} // nn.n)::BIGINT AS r FROM nodes, nn)"""]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(f"""
d{i} AS (SELECT coalesce(sum(r), 0)::BIGINT AS dang FROM r{p}
         WHERE node NOT IN (SELECT src FROM deg)),
c{i} AS (SELECT e.dst AS node, sum(r.r // d.deg)::BIGINT AS s
         FROM edges e JOIN r{p} r ON e.src = r.node
         JOIN deg d ON e.src = d.src GROUP BY e.dst),
r{i} AS (SELECT n2.node,
           ((15 * {scale}) // (100 * nn.n)
            + (85 * (coalesce(c.s, 0) + d{i}.dang // nn.n)) // 100)::BIGINT
             AS r
         FROM nodes n2 LEFT JOIN c{i} c USING (node), nn, d{i})""")
    return ("WITH " + ",".join(ctes)
            + f"\nSELECT node::BIGINT AS node, r AS rank_e12 FROM r{iters}")


def q_doc_neighbours(spark, sf_dir):
    """C9: nearest-neighbour docs of doc 0 by token-tf cosine, top 50."""
    from .search.parity import cosine_scores
    toks = _tokens(spark, sf_dir)
    qtokens = toks.filter(F.col("doc_id") == 0).collect()[0]["tokens"]
    out = cosine_scores(toks, list(qtokens))
    return (out.select("doc_id", F.round("cosine", 6).alias("cosine_r"),
                       F.col("cosine").alias("_c"))
            .orderBy(F.desc("_c"), F.asc("doc_id")).limit(50).drop("_c"))


def _pod_cosine(spark, sf_dir):
    """(source, cos): cosine of the query tf-vector vs per-pod summary
    term vectors — shared by pod_rank (K3) and top3_fallback (K2)."""
    from collections import Counter
    toks = (_tokens(spark, sf_dir)
            .join(_docs(spark, sf_dir).select("doc_id", "source"), "doc_id"))
    ptf = (toks.select("source", F.explode("tokens").alias("term"))
           .groupBy("source", "term").agg(F.count("*").alias("c")))
    qc = Counter(COSINE_QUERY)
    qn = sum(v * v for v in qc.values()) ** 0.5
    qdf = spark.createDataFrame(sorted(qc.items()), "term string, qtf long")
    pn = ptf.groupBy("source").agg(F.sqrt(F.sum(F.col("c") ** 2)).alias("pn"))
    dot = (ptf.join(F.broadcast(qdf), "term")
           .groupBy("source")
           .agg(F.sum(F.col("c") * F.col("qtf") / qn).alias("dot")))
    return (dot.join(pn, "source")
            .select("source", (F.col("dot") / F.col("pn")).alias("cos")))


def q_pod_rank(spark, sf_dir):
    """K2/K3: pod (source) ranking by cosine of the query tf-vector vs
    pod summary vectors (`score_pods`, pod_finder top-10)."""
    out = _pod_cosine(spark, sf_dir)
    return (out.select("source", F.round("cos", 6).alias("cos_r"),
                       F.col("cos").alias("_c"))
            .orderBy(F.desc("_c"), F.asc("source")).limit(10).drop("_c"))


def q_top3_fallback(spark, sf_dir):
    """K2: the reference's top-3-pods-or-all rule (`score_pages.py:81-93`)
    over the pod cosine scores."""
    from .search.parity import pod_prune
    scores = _pod_cosine(spark, sf_dir).select(
        F.col("source").alias("pod"), F.col("cos").alias("score"))
    out = pod_prune(scores, max_pods=3, min_score=0.01)
    return out.select("pod", F.round("score", 6).alias("score_r"))


def q_wta_l2(spark, sf_dir):
    """T3+T4+T5: deterministic term weighting (tf * w^5 with
    w = ln(len(term)+2)), winner-take-all top-3 per doc, L2 normalize."""
    from .search.parity import l2_normalize, logprob_weight, wta_topk
    tok = _tokens(spark, sf_dir).select(
        "doc_id", F.explode("tokens").alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    weights = (tf.select("term").distinct()
               .withColumn("logprob", F.log(F.length("term") + 2.0)))
    w = logprob_weight(tf, weights, power=5)
    kept = wta_topk(w, 3)
    out = l2_normalize(kept)
    return out.select("doc_id", "term", F.round("w", 6).alias("w_r"))


def q_combined_rank(spark, sf_dir):
    """A5+K1: the reference's combined document score — phrase match +
    completeness + snippet overlap, +1 bonus when the snippet score is
    exactly 1 (`score_pages.py:101-113`), then best-50 with score > 0
    (`score_pages.py:117-135`)."""
    from .search.parity import completeness, phrase_match, snippet_overlap
    toks = _tokens(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    phr = phrase_match(toks, PHRASE).withColumn("p", F.lit(1.0))
    comp = completeness(toks, PHRASE)
    snip = snippet_overlap(docs, " ".join(PHRASE))
    combined = (docs.select("doc_id")
                .join(phr, "doc_id", "left")
                .join(comp, "doc_id", "left")
                .join(snip, "doc_id", "left")
                .select("doc_id",
                        (F.coalesce("p", F.lit(0.0))
                         + F.coalesce("completeness", F.lit(0.0))
                         + F.coalesce("overlap", F.lit(0.0))
                         + F.when(F.col("overlap") == 1.0, 1.0)
                         .otherwise(0.0)).alias("score")))
    return (combined.filter(F.col("score") > 0)
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(50))


def q_query_parse(spark, sf_dir):
    """P1: query parse/rewrite (`utils.py:260-281`) as column algebra
    over a table of query strings."""
    from .search.parity import parse_query_df
    qdf = spark.createDataFrame([(s,) for s in PARSE_QUERIES], "q string")
    return parse_query_df(qdf)


def q_url_overlap(spark, sf_dir):
    """C4 `score_url_overlap`: char-set dice of query vs last url
    segment (urls synthesized deterministically from source/doc_id
    since the test table carries no url column)."""
    from .search.parity import url_dice_overlap
    docs = _docs(spark, sf_dir).withColumn(
        "url", F.concat(F.lit("https://pears.example/"), F.col("source"),
                        F.lit("/"), F.col("source"), F.lit("-"),
                        F.col("doc_id").cast("string")))
    out = url_dice_overlap(docs, URL_QUERY)
    return out.select("doc_id", F.round("dice", 6).alias("dice_r"))


def q_expert_threshold(spark, sf_dir):
    """C8: cosine of one stored doc-vector (doc 1) vs all docs with
    threshold 0.05 (`score_pages.py:30-43`)."""
    from .search.parity import cosine_scores
    toks = _tokens(spark, sf_dir)
    qtokens = toks.filter(F.col("doc_id") == 1).collect()[0]["tokens"]
    out = cosine_scores(toks, list(qtokens))
    return (out.filter(F.col("cosine") >= 0.05)
            .select("doc_id", F.round("cosine", 6).alias("cosine_r")))


def q_pod_share_export(spark, sf_dir):
    """S15: shareable-pod export lines `id;pod;lang`
    (`mk_urls_file.py:16-27`) for the alphabetically-first pod."""
    from .sources import make_shareable_pod
    docs = _docs(spark, sf_dir)
    kwd = docs.agg(F.min("source")).collect()[0][0]
    return make_shareable_pod(docs, kwd)


def q_dedup_insert(spark, sf_dir):
    """P4: dedup-before-insert — incoming batch (odd doc_ids) anti-joined
    against the existing snapshot (even doc_ids) on a content key
    (`mk_page_vector.py:37,79`)."""
    docs = _docs(spark, sf_dir)
    key = F.substring("text", 1, 80).alias("k")
    existing = docs.filter(F.col("doc_id") % 2 == 0).select(key)
    incoming = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", key)
    return (incoming.join(existing, "k", "left_anti")
            .select("doc_id"))


def q_delete_rebuild(spark, sf_dir):
    """§2.10 deletes: index stats rebuilt minus a deleted doc set
    (doc_id % 10 == 0) via filter/anti-join — no row renumbering, the
    reference's rebuild loop (`api/controllers.py:62-106`) collapses to
    a predicate."""
    toks = _tokens(spark, sf_dir).filter(F.col("doc_id") % 10 != 0)
    tok = toks.select("doc_id", F.explode("tokens").alias("term"))
    return (tok.distinct().groupBy("term").agg(F.count("*").alias("df"))
            .orderBy(F.desc("df"), F.asc("term")).limit(50))


def _fixture_table(spark, sf_dir, name: str, do_delete=True,
                   do_compact=False, split="mod2") -> str:
    """Provision an Iceberg-style snapshot table (catalog.py) from the
    sf documents, split into two appends, optionally with a
    merge-on-read delete (doc_id % 10 = 0) and a compaction. Rebuilt
    from scratch on every call so the query is deterministic whichever
    order the driver runs things in."""
    import hashlib
    import os
    import shutil
    import tempfile
    from . import catalog
    # stable digest (NOT hash(): PYTHONHASHSEED-randomized per process)
    # so repeated driver runs reuse the same /tmp path instead of
    # leaking a fresh fixture directory each run
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"pears_tbl_{name}_{tag}")
    if os.path.exists(path):
        shutil.rmtree(path)
    docs = _docs(spark, sf_dir)
    if split == "range":  # disjoint doc_id ranges -> file bounds prune
        mid = docs.agg(F.max("doc_id")).collect()[0][0] // 2
        first = docs.filter(F.col("doc_id") <= mid)
        second = docs.filter(F.col("doc_id") > mid)
    else:  # interleaved halves (bounds overlap; pruning keeps both)
        first = docs.filter(F.col("doc_id") % 2 == 0)
        second = docs.filter(F.col("doc_id") % 2 != 0)
    catalog.create_table(first, path, key_col="doc_id")
    catalog.append(second, path)
    if do_delete:
        catalog.delete_where(spark, path, "doc_id % 10 = 0")
    if do_compact:
        catalog.compact(spark, path)
    return path


def q_table_scan_deletes(spark, sf_dir):
    """Iceberg-style snapshot table: create + append + merge-on-read
    equality delete, then scan — live rows only, no data-file rewrite
    (catalog.py; supersedes the reference's destructive delete loop,
    `api/controllers.py:62-106`)."""
    from . import catalog
    path = _fixture_table(spark, sf_dir, "scan")
    return catalog.scan(spark, path).select("doc_id", "lang", "n_chars")


def q_table_time_travel(spark, sf_dir):
    """Time travel: after the delete commit, version 2 (pre-delete)
    still reads the full append snapshot."""
    from . import catalog
    path = _fixture_table(spark, sf_dir, "tt")
    return catalog.scan(spark, path, version=2).select("doc_id",
                                                       "n_chars")


def q_table_compact_scan(spark, sf_dir):
    """Compaction (rewrite-data-files): applies standing deletes and
    drops delete files; the scan is value-identical to the pre-compact
    live set."""
    from . import catalog
    path = _fixture_table(spark, sf_dir, "cmp", do_compact=True)
    return catalog.scan(spark, path).select("doc_id", "lang", "n_chars")


def q_table_pruned_scan(spark, sf_dir):
    """Manifest-bounds file pruning composed with merge-on-read
    deletes: range-split snapshots, a doc_id range inside the lower
    file, equality deletes applied on top. The pruned file never
    reaches Spark's planner (pytest asserts inputFiles() shrinks); the
    oracle checks the values are exactly the range+delete filter."""
    from . import catalog
    path = _fixture_table(spark, sf_dir, "prn", split="range")
    mx = _docs(spark, sf_dir).agg(F.max("doc_id")).collect()[0][0]
    return catalog.scan(spark, path,
                        prune={"doc_id": (mx // 5, mx * 9 // 20)}) \
        .select("doc_id", "lang", "n_chars")


def q_table_ts_window(spark, sf_dir):
    """Time-window scan over a snapshot table of events: timestamp
    manifest bounds prune the file list (range-split snapshots), and
    the window filter pins the values against the SQL oracle — the
    warc_ts crawl-window query shape from the input hint."""
    import datetime as dt
    import hashlib
    import os
    import shutil
    import tempfile
    from . import catalog
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"pears_tbl_ts_{tag}")
    if os.path.exists(path):
        shutil.rmtree(path)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    mid = dt.datetime(2024, 1, 16)
    catalog.create_table(ev.filter(F.col("ts") < F.lit(mid)), path,
                         key_col="event_id")
    catalog.append(ev.filter(F.col("ts") >= F.lit(mid)), path)
    win = (dt.datetime(2024, 1, 5), dt.datetime(2024, 1, 10))
    return catalog.scan(spark, path, prune={"ts": win}) \
        .select("event_id", "user_id", "event_type")


def q_snippets(spark, sf_dir):
    """P8: snippet projection — first 300 chars, ',' -> '-'
    (`htmlparser.py:109`)."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.coalesce(F.translate(F.substring("text", 1, 300), ",", "-"),
                   F.lit("")).alias("snippet"))


def q_beautify(spark, sf_dir):
    """P9: title/snippet beautification (`app/utils.py:285-309`) —
    emoji doctype prefix on the title (beautify_title's five doctype
    cases, doctype derived deterministically from doc_id so every
    branch is exercised) and `<b>` query-word highlighting on the
    snippet (beautify_snippet's replace(w) + replace(w.title()) loop,
    same replacement order). Pure column algebra — two projections,
    zero shuffle, zero UDF."""
    docs = _docs(spark, sf_dir)
    kinds = ["stat", "doc", "url", "ind", "map"]
    prefixes = {"stat": "\U0001F4C8 STAT: ", "doc": "\U0001F4DD DOC: ",
                "url": "\U0001F30F URL: ", "ind": "☺️  IND: ",
                "map": "\U0001F4CD MAP: "}
    doctype = F.element_at(F.array(*[F.lit(k) for k in kinds]),
                           (F.col("doc_id") % 5 + 1).cast("int"))
    prefix = F.element_at(F.array(*[F.lit(prefixes[k]) for k in kinds]),
                          (F.col("doc_id") % 5 + 1).cast("int"))
    title = F.concat(prefix, F.substring("text", 1, 40))
    snip = F.substring("text", 1, 200)
    for w in "data table".split():
        snip = F.replace(snip, F.lit(w), F.lit(f"<b>{w}</b>"))
        snip = F.replace(snip, F.lit(w.title()),
                         F.lit(f"<b>{w.title()}</b>"))
    return docs.select("doc_id", doctype.alias("doctype"),
                       title.alias("title"), snip.alias("snippet"))


def q_robots_gate(spark, sf_dir):
    """S3: robots.txt gate over literal fixture texts."""
    from .sources import robots_gate
    df = spark.createDataFrame(ROBOTS_FIXTURES, "site string, robots string")
    return robots_gate(df)


def q_local_docs_scan(spark, sf_dir):
    """S9: pseudo-XML local-docs reader."""
    from .sources import read_local_docs
    return read_local_docs(spark, _fixture_docs_file())


def q_bookmarks_scan(spark, sf_dir):
    """S11: Netscape bookmarks scan."""
    from .sources import read_bookmarks
    return read_bookmarks(spark, _fixture_bookmarks_file())


def q_pod_subscribe(spark, sf_dir):
    """S16+P4: pod subscribe import — existing snapshot (doc_id%3!=0)
    wins over an imported pod (doc_id%2==0); fresh rows union in
    (`pod_finder/controllers.py:158-212`)."""
    from .sources import subscribe_pod
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    existing = docs.filter(F.col("doc_id") % 3 != 0)
    imported = docs.filter(F.col("doc_id") % 2 == 0)
    return subscribe_pod(existing, imported)


def q_query_vectors(spark, sf_dir):
    """T7 `compute_query_vectors`: the query-side vectorization path —
    tf * w^5 weighting then L2 normalize per query (WTA with
    top_words=len(query) is a no-op — `mk_page_vector.py:105-113`)."""
    from .search.parity import l2_normalize, logprob_weight
    qdf = (spark.createDataFrame([(s,) for s in PARSE_QUERIES], "q string")
           .select("q", F.explode(F.split("q", " ")).alias("term"))
           .filter(~F.col("term").startswith("!")
                   & ~F.col("term").startswith("?")
                   & ~F.col("term").startswith("-")))
    tf = (qdf.groupBy("q", "term").agg(F.count("*").alias("tf"))
          .withColumnRenamed("q", "doc_id"))
    weights = (tf.select("term").distinct()
               .withColumn("logprob", F.log(F.length("term") + 2.0)))
    w = logprob_weight(tf, weights, power=5)
    out = l2_normalize(w)
    return out.select(F.col("doc_id").alias("q"), "term",
                      F.round("w", 6).alias("w_r"))


# ------------------------------------------------------- rows-only queries

def q_spm_tokens(spark, sf_dir):
    """T1: SentencePiece-unigram tokenization over the synthetic html
    corpus; oracle = driver-side expected piece counts (exercises the
    mapInPandas kernel, Arrow marshalling and per-executor vocab load
    against an independent pure-Python run of the same tokenizer)."""
    from .corpus import gen_corpus
    from .index.build import tokenize_spm, with_doc_id
    pdf = gen_corpus(120)
    cdf = with_doc_id(spark.createDataFrame(pdf))
    out = tokenize_spm(cdf.select("doc_id", "url", "text"),
                       id_cols=("doc_id", "url"))
    return out.select("url",
                      F.size("tokens").cast("long").alias("n_pieces"))


def q_extract_parity(spark, sf_dir):
    """S7: HTML extraction over the synthetic corpus; `ok` flags
    byte-identity between engine extraction and stored expected text.
    Oracle = driver-side expected rows from the same extractor."""
    from .corpus import gen_corpus
    from .functions.extract import extract_df
    pdf = gen_corpus(120)
    cdf = spark.createDataFrame(pdf)
    ext = extract_df(cdf).withColumnRenamed("text", "etext")
    exp = cdf.select("url", F.col("text").alias("expected"))
    return (ext.join(exp, "url")
            .select("url", (F.col("etext") == F.col("expected")).alias("ok"),
                    F.length("etext").cast("long").alias("n_chars")))


def q_ann_lsh_top10(spark, sf_dir):
    """LSH-bucketed ANN. The probe set is deterministic (seeded
    hyperplanes), so the full pipeline — per-table sign buckets,
    Hamming<=1 probe, exact re-rank — has an exact SQL oracle with the
    same plane literals (recall vs brute is additionally pytest-held)."""
    from .ann import lsh_topk
    emb = _emb(spark, sf_dir)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    out = lsh_topk(emb, [float(x) for x in qvec], k=10)
    return out.select("vec_id", F.round("cosine", 5).alias("cos_r"))


def q_pdf_extract(spark, sf_dir):
    """S8: PDF text extraction — the built-in uncompressed-stream Tj
    parser must invert synth_pdf exactly, so the oracle is the known
    source text (a real roundtrip check, not rows-only)."""
    from .functions.pdf import extract_pdf_df, synth_pdf
    rows = [(i, bytearray(synth_pdf(f"synthetic pdf document {i} "
                                    f"with shared words")))
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = extract_pdf_df(df)
    return out.select("doc_id", "text",
                      F.col("n_chars").cast("long").alias("n_chars"))


def q_media_features(spark, sf_dir):
    """Multimodal plumbing: binary payload -> feature vectors (decode
    stubbed deterministically; Spark-side schema/batching real). The
    array<double> features column is serialized to a fixed-6-decimal
    string so the driver's pandas canonicalizer can sort/hash rows; the
    DuckDB oracle recomputes the sha256-derived fake features in SQL."""
    from .functions.multimodal import extract_features_df, synth_media
    out = extract_features_df(synth_media(spark, 48))
    return out.select(
        "doc_id", "kind", F.col("n_bytes").cast("long").alias("n_bytes"),
        F.concat_ws(",", F.transform("features",
                                     lambda x: F.format_number(x, 6)))
        .alias("features_s"))


def q_frame_plan(spark, sf_dir):
    """Video frame-sampling plan: one row per frame timestamp (pure
    column algebra — sequence + explode — so decode work fans out with
    no skew)."""
    from .functions.multimodal import frame_sample_plan, synth_media
    out = frame_sample_plan(synth_media(spark, 48), every_ms=1000)
    return out.select("doc_id",
                      F.col("frame_idx").cast("long").alias("frame_idx"),
                      F.col("ts_ms").cast("long").alias("ts_ms"))


def q_media_resize(spark, sf_dir):
    """Stub-gated image resize plumbing; payload bytes reproduced by
    the oracle via the sha256-over-hex trick."""
    from .functions.multimodal import resize_media_df, synth_media
    out = resize_media_df(synth_media(spark, 48), width=64, height=48)
    return out.select("doc_id", "kind",
                      F.lower(F.hex("payload")).alias("payload_hex"),
                      F.col("width").cast("long").alias("width"),
                      F.col("height").cast("long").alias("height"))


def _fixture_media_real_features_parquet() -> str:
    """Expected REAL media features, computed from the PRE-ENCODE
    arrays (never through the decoder): the Spark query must decode the
    PNG/BMP/WAV payloads back to pixels/samples to reproduce these
    histograms, so any codec bug (filter reconstruction, channel order,
    sample framing) breaks the match — a true round-trip differential,
    not self-comparison."""
    import os
    import tempfile
    path = os.path.join(tempfile.gettempdir(),
                        "pears_media_real_expected.parquet")
    if True:  # always rewrite (deterministic; fast)
        import pyarrow as pa
        import pyarrow.parquet as pq
        from .functions import codecs
        from .functions.multimodal import FEATURE_DIM, synth_media_real_items
        ids, kinds, nb, hs = [], [], [], []
        for i, kind, payload, raw in synth_media_real_items(48):
            if kind == "video":
                continue
            hist = (codecs.image_hist(raw, FEATURE_DIM) if kind == "image"
                    else codecs.audio_hist(raw, FEATURE_DIM))
            ids.append(i)
            kinds.append(kind)
            nb.append(len(payload))
            hs.append(",".join(str(int(x)) for x in hist))
        tmp = f"{path}.tmp-{os.getpid()}"
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                 "kind": kinds,
                                 "n_bytes": pa.array(nb, pa.int64()),
                                 "hist_s": hs}), tmp)
        os.replace(tmp, path)
    return path


def _fixture_media_resize_real_parquet() -> str:
    """Expected REAL resize outputs: nearest-resample of the PRE-ENCODE
    arrays, re-encoded to canonical PNG, stored as sha256 hex — the
    Spark side must decode its payload first, so the digest only
    matches if decode(encode(x)) == x held in the executor."""
    import hashlib as _hl
    import os
    import tempfile
    path = os.path.join(tempfile.gettempdir(),
                        "pears_media_resize_real_expected.parquet")
    if True:  # always rewrite (deterministic; fast)
        import pyarrow as pa
        import pyarrow.parquet as pq
        from .functions import codecs
        from .functions.multimodal import synth_media_real_items
        ids, hexes = [], []
        for i, kind, payload, raw in synth_media_real_items(48):
            if kind != "image":
                continue
            png = codecs.encode_png(codecs.resize_nearest(raw, 64, 48))
            ids.append(i)
            hexes.append(_hl.sha256(png).hexdigest())
        tmp = f"{path}.tmp-{os.getpid()}"
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                 "payload_hex": hexes}), tmp)
        os.replace(tmp, path)
    return path


def q_media_features_real(spark, sf_dir):
    """REAL media decode (strict path): PNG/BMP/WAV payloads decoded by
    the pure stdlib+numpy codecs inside the Arrow-batched kernel, luma/
    amplitude histograms out. The oracle answers from pre-encode arrays
    (see _fixture_media_real_features_parquet) — the query only matches
    if the executors' decoders reconstruct the exact pixels/samples."""
    from .functions.multimodal import extract_features_hist_df, \
        synth_media_real
    media = synth_media_real(spark, 48).filter(F.col("kind") != "video")
    out = extract_features_hist_df(media)
    return out.select("doc_id", "kind",
                      F.col("n_bytes").cast("long").alias("n_bytes"),
                      "hist_s")


def q_media_resize_real(spark, sf_dir):
    """REAL image resize (strict path): decode PNG/BMP -> nearest
    resample -> canonical PNG re-encode, compared by digest against
    resamples of the pre-encode arrays."""
    from .functions.multimodal import resize_media_df, synth_media_real
    out = resize_media_df(synth_media_real(spark, 48), width=64,
                          height=48, strict=True)
    return out.select("doc_id",
                      F.lower(F.sha2("payload", 256)).alias("payload_hex"))


STEGO_PODS = {
    "friends_pod.png": [
        "0;https://example.org/a;Alpha Page;A snippet;0.1 0.2;3 1;True",
        "1;https://example.org/b;Béta Pagé;Ünïcode snippet;0.3 0.4;2 2;False",
        # ɣ (U+0263) and ʣ (U+02A3) need 3- and 2-value pixel splits —
        # the scheme tops out at code point 765 (3 x 255)
        "2;https://example.net/c;Gamma ɣ;ipa ʣ page;0.5;1;True",
    ],
    "second_pod.png": [
        "0;https://pears.example/x;Xylo;shared by a friend;0.9 0.8;5;False",
    ],
}


def _fixture_stego_pod_dir() -> str:
    """S17 fixture: pod CSVs hidden in PNGs with the reference's pixel
    scheme (`index_pod_file.py:23-40`), written through our OWN encoder
    — the import query must PNG-decode + pixel-decode + parse to
    reproduce the expected rows (computed from the pre-encode lines, so
    a codec or scheme bug breaks the match)."""
    import os
    import tempfile
    from .sources import encode_stego_pod_png
    d = os.path.join(tempfile.gettempdir(), "pears_stego_pods")
    os.makedirs(d, exist_ok=True)
    for fname, lines in STEGO_PODS.items():
        tmp = os.path.join(d, f".{fname}.tmp-{os.getpid()}")
        with open(tmp, "wb") as fh:
            fh.write(encode_stego_pod_png("\n".join(lines)))
        os.replace(tmp, os.path.join(d, fname))
    return d


def _fixture_stego_expected_parquet() -> str:
    import os
    import tempfile
    path = os.path.join(tempfile.gettempdir(), "pears_stego_expected.parquet")
    if True:  # always rewrite (deterministic; fast)
        import pyarrow as pa
        import pyarrow.parquet as pq
        cols: dict = {k: [] for k in ("file", "line_no", "url", "title",
                                      "snippet", "vector", "freqs", "cc")}
        for fname, lines in STEGO_PODS.items():
            for i, line in enumerate(lines):
                f = line.split(";")
                cols["file"].append(fname)
                cols["line_no"].append(i)
                cols["url"].append(f[1])
                cols["title"].append(f[2])
                cols["snippet"].append(f[3])
                cols["vector"].append(f[4])
                cols["freqs"].append(f[5])
                cols["cc"].append(f[6] == "True")
        tmp = f"{path}.tmp-{os.getpid()}"
        pq.write_table(pa.table({
            "file": cols["file"],
            "line_no": pa.array(cols["line_no"], pa.int32()),
            "url": cols["url"], "title": cols["title"],
            "snippet": cols["snippet"], "vector": cols["vector"],
            "freqs": cols["freqs"], "cc": cols["cc"]}), tmp)
        os.replace(tmp, path)
    return path


def q_stego_pod_import(spark, sf_dir):
    """S17: PNG-steganography pod import — binaryFile scan over a
    directory of pod-share PNGs, per-file pixel decode in an Arrow
    kernel (chr((255-r)+(255-g)+(255-b)) per pixel, last pixel
    dropped — `index_pod_file.py:23-40`), `;`-split into the
    parse_line record layout."""
    from .sources import read_stego_pods
    out = read_stego_pods(spark, _fixture_stego_pod_dir())
    return out.select(
        F.element_at(F.split("src", "/"), -1).alias("file"),
        "line_no", "url", "title", "snippet", "vector", "freqs", "cc")


def q_url_list_scan(spark, sf_dir):
    """S1: url;keyword;lang list parse with defaults."""
    from .sources import read_url_list
    return read_url_list(spark, _fixture_urls_file())


def q_link_extract(spark, sf_dir):
    """S6: href extraction + absolutization over the synthetic html
    corpus; oracle mirrors the href regex + urljoin in DuckDB SQL over
    the same fixture parquet."""
    from .sources import extract_links_df
    cdf = spark.read.parquet(_fixture_links_corpus_parquet())
    return extract_links_df(cdf)


def q_phrase_c6_scores(spark, sf_dir):
    """C6: positional subword-adjacency phrase scoring straight from the
    block index's encoded positions. Oracle = driver-side expected
    scores from raw token positions (no index, no codec) — checks the
    whole build->prune->decode->score pipeline end to end."""
    from .corpus import PHRASES, gen_corpus
    from .index.build import build_postings, tokenize_spm, with_doc_id
    from .search.phrase import phrase_scores_from_index
    from .vocab import get_vocab
    pdf = gen_corpus(240)
    cdf = with_doc_id(spark.createDataFrame(pdf))
    toks = tokenize_spm(cdf.select("doc_id", "text")).select("doc_id",
                                                             "tokens")
    postings, stats = build_postings(toks)
    pieces = get_vocab().encode_as_pieces(PHRASES[0])
    out = phrase_scores_from_index(postings, pieces)
    return out.select("doc_id",
                      F.round("phrase_score", 6).alias("phrase_score_r"))


CANON_URLS = [
    "HTTP://Example.COM:80/A/b?x=1#frag",
    "https://EX.com:443/",
    "https://ex.com",
    "https://ex.com:8080/x#y",
    "ftp://HOST.x/P",
    "relative/no-scheme",
    "http://a.b:80",
    "https://A.example/path/?q=Z#z",
]


def q_canonical_urls(spark, sf_dir):
    """Crawl-dedup URL canonicalization over messy fixture urls."""
    from .sources import canonical_url
    df = spark.createDataFrame([(u,) for u in CANON_URLS], "url string")
    return df.select("url", canonical_url("url").alias("canonical"))


def q_web_fetch(spark, sf_dir):
    """S2: distributed politeness-aware fetch. The HTTP call is
    injected as a deterministic offline fake (fails for urls ending in
    '3' to exercise error rows); host partitioning, rate limiting and
    error-row plumbing are the real operator."""
    from .sources import fetch_urls_df

    def fake_fetch(url: str) -> bytes:
        if url.endswith("3"):
            raise ValueError("synthetic fetch failure")
        return f"<html><title>{url}</title></html>".encode()

    urls = spark.range(0, 40).select(
        F.concat(F.lit("https://site"), (F.col("id") % 7).cast("string"),
                 F.lit(".example/page"), F.col("id").cast("string"))
        .alias("url"))
    out = fetch_urls_df(urls, fetcher=fake_fetch, rate_limit_per_sec=1e6)
    return out.select(
        "url", "ok",
        F.coalesce(F.length("html").cast("long"), F.lit(-1)).alias("n_bytes"),
        F.coalesce("err", F.lit("")).alias("err"))


def q_access_check(spark, sf_dir):
    """S4: access check = robots gate composed onto a url list (urls on
    blocked-or-unknown hosts never reach the fetcher)."""
    from .sources import access_check
    robots = spark.createDataFrame(ROBOTS_FIXTURES,
                                   "site string, robots string")
    urls = spark.createDataFrame(
        [(f"https://{s}/p{j}",) for s, _ in ROBOTS_FIXTURES
         for j in range(3)], "url string")
    return access_check(urls, robots)


def q_simhash_near_dups(spark, sf_dir):
    """SimHash near-dup pairs via band rotation (bucket join per band,
    exact popcount verify) — the Hamming<=k companion of the exact
    `simhash` groups."""
    from .dedup import simhash_near_dup_pairs
    return simhash_near_dup_pairs(_docs(spark, sf_dir), max_hamming=3)


def q_sampled_corpus(spark, sf_dir):
    """Deterministic hash-threshold corpus sample (rate 0.25, seed 7):
    stable under re-runs/partitioning, md5-reproducible by the
    oracle."""
    from .functions.sampling import deterministic_sample
    out = deterministic_sample(_docs(spark, sf_dir), rate=0.25, seed=7)
    return out.select("doc_id", "source", "lang")


def q_token_budget(spark, sf_dir):
    """Per-source token budgeting (600 whitespace tokens per source —
    binds at sf0.01, cutting roughly half of each source's docs):
    keep docs starting before the budget line; window cumsum twin in
    SQL."""
    from .functions.sampling import token_budget_take
    out = token_budget_take(_docs(spark, sf_dir), budget=600)
    return out.select("doc_id", "source", "dl", "cum_tokens")


def q_min_window(spark, sf_dir):
    """Minimum proximity window over the AND-query terms: per doc
    containing all of them, the smallest token span covering every
    term. Spark side = one running last-position window per term
    (column algebra); oracle = O(occ^3) pair-join SQL — two different
    algorithms, one answer."""
    from .search.parity import min_window_spans
    out = min_window_spans(_tokens(spark, sf_dir), AND_QUERY)
    return out.select("doc_id",
                      F.col("min_window").cast("long").alias("min_window"))


def q_dedup_clusters(spark, sf_dir):
    """Transitive near-dup clustering: SimHash Hamming<=3 pairs ->
    min-label connected components -> (doc_id, cluster_id = min doc of
    the component). Oracle: recursive-CTE reachability over the same
    pair SQL."""
    from .dedup import dedup_clusters
    out = dedup_clusters(_docs(spark, sf_dir), max_hamming=3)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      F.col("cluster_id").cast("long").alias("cluster_id"))


def q_csv_docs(spark, sf_dir):
    """S10: csv rows -> pseudo-documents."""
    from .sources import csv_to_docs
    return csv_to_docs(spark, _fixture_csv_file(), "people.csv")


def q_embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-dup pairs, exact verify path (the LSH
    candidate-generation path is `method='lsh'`, recall-tested in
    pytest); threshold 0.35 sits just under the synthetic corpus's max
    pairwise cosine so the op returns matches at every sf."""
    from .dedup import embedding_near_dup_pairs
    out = embedding_near_dup_pairs(_emb(spark, sf_dir), threshold=0.35,
                                   method="exact")
    return out.select("id_a", "id_b", F.round("cosine", 5).alias("cos_r"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registration order is deliberate: the driver's correctness gate
    evaluates the first 50 entries in dict order, and the order ROTATES
    each round (COVERAGE.md): queries whose last driver-green row is
    oldest go first — round 5 leads with the 32 queries parked outside
    round 4's window plus the 5 never-driver-checked table_* entries —
    then NEW queries (beautify), then queries touched by this round's
    code changes (64-bit SimHash, ANN trainer sampling, the posting
    build's slot shuffle, catalog schema validation), then the headline
    BM25 pair; the parked set past position 50 is the r04-driver-green
    core (each re-verified in the committed full local run)."""
    return {
        # -- round-5 window head: the 32 queries whose last driver-green
        #    row is r03 (parked outside round 4's window; re-verified in
        #    the committed full local runs every round). Several are
        #    ALSO touched by round-5 changes: simhash (64-bit widening),
        #    ivf_top10 / embedding_top10 / knn_join (trainer orderBy+
        #    limit sampling), minhash_sigs / embedding_near_dups (dedup
        #    module siblings)
        "media_features": q_media_features,
        "frame_plan": q_frame_plan,
        "media_resize": q_media_resize,
        "min_window": q_min_window,
        "pdf_extract": q_pdf_extract,
        "link_extract": q_link_extract,
        "span_dedup": q_span_dedup,
        "sampled_corpus": q_sampled_corpus,
        "tf_top_terms": q_tf_top_terms,
        "term_df": q_term_df,
        "corpus_stats": q_corpus_stats,
        "doc_token_counts": q_doc_token_counts,
        "conjunctive_and": q_conjunctive_and,
        "completeness": q_completeness,
        "snippet_overlap": q_snippet_overlap,
        "phrase_match": q_phrase_match,
        "cosine_scores": q_cosine_scores,
        "exact_dedup64": q_exact_dedup64,
        "minhash_sigs": q_minhash_sigs,
        "jaccard_pairs": q_jaccard_pairs,
        "simhash": q_simhash,
        "lang_id": q_lang_id,
        "quality": q_quality,
        "repetition": q_repetition,
        "redact_pii": q_redact_pii,
        "fingerprints": q_fingerprints,
        "embedding_top10": q_embedding_top10,
        "ivf_top10": q_ivf_top10,
        "knn_join": q_knn_join,
        "embedding_near_dups": q_embedding_near_dups,
        "pod_top_terms": q_pod_top_terms,
        "events_hourly": q_events_hourly,
        # -- never driver-checked before round 5 (appended past the r04
        #    window): snapshot-catalog ops — also touched this round
        #    (append schema validation, stable fixture paths)
        "table_scan_deletes": q_table_scan_deletes,
        "table_time_travel": q_table_time_travel,
        "table_compact_scan": q_table_compact_scan,
        "table_pruned_scan": q_table_pruned_scan,
        "table_ts_window": q_table_ts_window,
        # -- NEW round-5 operator (P9 beautification, the last open
        #    SURVEY row) — never driver-checked, must sit in-window
        "beautify": q_beautify,
        # -- touched by round-5 changes: 64-bit SimHash (fingerprint,
        #    band rotation, clusters), ANN trainer sampling (IVF/PQ
        #    paths + materialized index builds), the posting build's
        #    slot shuffle (phrase_c6 + BM25 heads)
        "simhash_near_dups": q_simhash_near_dups,
        "dedup_clusters": q_dedup_clusters,
        "ivf_pq_top10": q_ivf_pq_top10,
        "ivf_pruned_top10": q_ivf_pruned_top10,
        "lsh_pruned_top10": q_lsh_pruned_top10,
        "phrase_c6_scores": q_phrase_c6_scores,
        # -- per-row invariant keepers (north-rule byte-identity: S7
        #    extraction, T1 tokenization) — kept fresh-green every round
        "extract_parity": q_extract_parity,
        "spm_tokens": q_spm_tokens,
        # -- streaming/catalog adjacents re-verified alongside the
        #    catalog changes
        "events_sessions": q_events_sessions,
        "delete_rebuild": q_delete_rebuild,
        # -- headline BM25 queries: always fresh-green
        "bm25_top10": q_bm25_top10,
        "bm25_wand_top10": q_bm25_wand_top10,
        # ---- driver window boundary (position 50) ----
        # parked set: the r04-driver-green core, untouched by round-5
        # code changes (media/stego codecs, gopher/normalize/domain/
        # decontam textstats, sampling, pagerank, sources/pods, parity
        # scoring); all re-verified in the committed full local run
        # (CORRECTNESS_LOCAL_r05.json)
        "bfs_reach": q_bfs_reach,
        "doc_neighbours": q_doc_neighbours,
        "pod_rank": q_pod_rank,
        "wta_l2": q_wta_l2,
        "combined_rank": q_combined_rank,
        "query_vectors": q_query_vectors,
        "dedup_insert": q_dedup_insert,
        "pod_counts": q_pod_counts,
        "top3_fallback": q_top3_fallback,
        "query_parse": q_query_parse,
        "url_overlap": q_url_overlap,
        "expert_threshold": q_expert_threshold,
        "pod_share_export": q_pod_share_export,
        "snippets": q_snippets,
        "robots_gate": q_robots_gate,
        "local_docs_scan": q_local_docs_scan,
        "bookmarks_scan": q_bookmarks_scan,
        "pod_subscribe": q_pod_subscribe,
        "url_list_scan": q_url_list_scan,
        "csv_docs": q_csv_docs,
        "canonical_urls": q_canonical_urls,
        "web_fetch": q_web_fetch,
        "access_check": q_access_check,
        "ann_lsh_top10": q_ann_lsh_top10,
        "gopher_rules": q_gopher_rules,
        "normalize_text": q_normalize_text,
        "domain_stats": q_domain_stats,
        "decontaminate": q_decontaminate,
        "line_dedup": q_line_dedup,
        "anchor_text": q_anchor_text,
        "classifier_score": q_classifier_score,
        "pack_sequences": q_pack_sequences,
        "media_features_real": q_media_features_real,
        "media_resize_real": q_media_resize_real,
        "stego_pod_import": q_stego_pod_import,
        "unigram_loglik": q_unigram_loglik,
        "pagerank": q_pagerank,
        "token_budget": q_token_budget,
    }


# ---------------------------------------------------------------- oracles

def _in_list(words) -> str:
    return ", ".join(f"'{w}'" for w in sorted(words))


def _sql_str(s: str) -> str:
    """SQL string literal (embedded newlines stay literal)."""
    return "'" + s.replace("'", "''") + "'"


def _oracle_sf_dir() -> str:
    """Scale dir the oracle SQL is generated against. The driver's gate
    runs at sf0.01 (the default); tools/check_contract.py exports
    PEARS_ORACLE_SF_DIR so the same oracles stay valid at any scale
    (sf0.001/sf0.01 embeddings differ, so a fixed path would silently
    diverge elsewhere)."""
    import os
    return os.environ.get("PEARS_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def _ivf_oracle() -> str:
    """SQL twin of q_ivf_top10 at the gate's scale: train the
    same quantizer with the same pure-numpy Lloyd code, inline the
    centroids as literals, mirror assignment (argmin of
    -2*v.c + ||c||^2, first-min tie-break), probe and re-rank."""
    import numpy as np
    import pyarrow.parquet as pq
    from .ann import lloyd_kmeans
    tbl = pq.read_table(_oracle_sf_dir() + "/embeddings.parquet",
                        columns=["vec_id", "embedding"])
    vid = np.asarray(tbl["vec_id"])
    order = np.argsort(vid, kind="stable")
    X = np.asarray(tbl["embedding"].to_pylist(), dtype=np.float64)[order]
    # lowest-2048-ids sample — the twin of ann.train_ivf_centroids'
    # orderBy+limit rule (identical to vid<2048 on these dense tables)
    sel = slice(0, 2048)
    C = lloyd_kmeans(X[sel], n_cells=16, iters=5)
    q = X[vid[order] == 0][0]
    d = -2.0 * (C @ q) + (C * C).sum(axis=1)
    probe = sorted(int(i) for i in np.argsort(d, kind="stable")[:4])

    def arr(c):
        return "[" + ", ".join(repr(float(x)) for x in c) + "]"

    dlist = "[" + ", ".join(
        f"-2.0 * list_dot_product(v, {arr(c)}) + {float((c * c).sum())!r}"
        for c in C) + "]"
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
a AS (SELECT vec_id, v,
        list_indexof({dlist}, list_aggregate({dlist}, 'min')) - 1 AS cell
      FROM e),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
cand AS (SELECT vec_id, v FROM a
         WHERE cell IN ({", ".join(map(str, probe))})),
s AS (SELECT cand.vec_id,
        list_dot_product(cand.v, q.qv)
        / (sqrt(list_dot_product(cand.v, cand.v))
           * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
      FROM cand, q)
SELECT vec_id, round(cosine, 5) AS cos_r FROM s
ORDER BY cosine DESC, vec_id LIMIT 10"""


def _ivf_pq_oracle(nprobe: int = 4, refine: int = 100) -> str:
    """Exact SQL twin of the FULL IVF-PQ serving chain
    (q_ivf_pq_top10): coarse-cell assignment on the raw vectors with
    the IDENTICAL numpy-trained centroids (same as _ivf_oracle), cell
    filter to the driver-computed nprobe probe set, L2-normalize (same
    IEEE op order via list_dot_product), per-subspace argmin codes
    against the IDENTICAL codebooks (literals), LUT-sum approximate
    cosine, top-`refine` by (approx DESC, vec_id), exact cosine
    re-rank."""
    import numpy as np
    import pyarrow.parquet as pq
    from .ann import lloyd_kmeans, pq_codebooks_from_sample
    tbl = pq.read_table(_oracle_sf_dir() + "/embeddings.parquet",
                        columns=["vec_id", "embedding"])
    vid = np.asarray(tbl["vec_id"])
    order = np.argsort(vid, kind="stable")
    X = np.asarray(tbl["embedding"].to_pylist(), dtype=np.float64)[order]
    sel = slice(0, 2048)  # lowest-2048-ids twin (see _ivf_oracle)
    C = lloyd_kmeans(X[sel], n_cells=16, iters=5)
    books = pq_codebooks_from_sample(X[sel], m=16, ks=16)
    m, ks, dsub = books.shape
    q = X[vid[order] == 0][0]
    dq = -2.0 * (C @ q) + (C * C).sum(axis=1)
    probe = sorted(int(i) for i in np.argsort(dq, kind="stable")[:nprobe])
    qn = q / np.sqrt((q * q).sum())
    lut = np.stack([books[j] @ qn[j * dsub:(j + 1) * dsub]
                    for j in range(m)])

    def arr(c):
        return "[" + ", ".join(repr(float(x)) for x in c) + "]"

    cell_dlist = "[" + ", ".join(
        f"-2.0 * list_dot_product(v, {arr(c)}) + {float((c*c).sum())!r}"
        for c in C) + "]"
    code_exprs = []
    for j in range(m):
        sub = f"list_slice(vn, {j * dsub + 1}, {j * dsub + dsub})"
        dlist = "[" + ", ".join(
            f"-2.0 * list_dot_product({sub}, {arr(c)}) + {float((c*c).sum())!r}"
            for c in books[j]) + "]"
        code_exprs.append(
            f"list_indexof({dlist}, list_aggregate({dlist}, 'min'))")
    # code exprs are 1-based (list_indexof) so they index the LUT direct
    approx = " + ".join(
        f"list_extract({arr(lut[j])}, c{j})" for j in range(m))
    codes_sel = ", ".join(f"{e} AS c{j}" for j, e in enumerate(code_exprs))
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
pc AS (SELECT vec_id, v,
         list_indexof({cell_dlist},
                      list_aggregate({cell_dlist}, 'min')) - 1 AS cell
       FROM e),
p AS (SELECT vec_id, v FROM pc
      WHERE cell IN ({", ".join(map(str, probe))})),
n AS (SELECT vec_id, v,
        list_transform(v, x -> x /
          coalesce(nullif(sqrt(list_dot_product(v, v)), 0.0), 1.0)) AS vn
      FROM p),
c AS (SELECT vec_id, v, {codes_sel} FROM n),
a AS (SELECT vec_id, v, {approx} AS approx FROM c),
cand AS (SELECT vec_id, v FROM a ORDER BY approx DESC, vec_id
         LIMIT {refine}),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
s AS (SELECT cand.vec_id,
        list_dot_product(cand.v, q.qv)
        / (sqrt(list_dot_product(cand.v, cand.v))
           * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
      FROM cand, q)
SELECT vec_id, round(cosine, 5) AS cos_r FROM s
ORDER BY cosine DESC, vec_id LIMIT 10"""


def _ann_lsh_oracle() -> str:
    """Exact SQL twin of ann.lsh_topk's default config (4 tables x 8
    seeded hyperplanes, Hamming<=1 probe, exact cosine re-rank) with the
    plane vectors inlined as literals — dot products run in the same
    sequential order in both engines, so sign bits agree bit-for-bit."""
    from .ann import LSH_SEED, hyperplanes

    def arr(p):
        return "ARRAY[" + ", ".join(repr(float(x)) for x in p) + "]"

    buckets = []
    for t in range(4):
        planes = hyperplanes(64, 8, seed=LSH_SEED + t)
        bits = " + ".join(
            f"(CASE WHEN list_dot_product(v, {arr(p)}) > 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes))
        buckets.append(f"({bits}) AS b{t}")
    probe = " OR ".join(
        f"bit_count(xor(b.b{t}, q.b{t})) <= 1" for t in range(4))
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, {", ".join(buckets)} FROM e),
q AS (SELECT * FROM b WHERE vec_id = 0),
cand AS (SELECT b.vec_id, b.v FROM b, q WHERE {probe}),
s AS (SELECT cand.vec_id,
        list_dot_product(cand.v, q.v)
        / (sqrt(list_dot_product(cand.v, cand.v))
           * sqrt(list_dot_product(q.v, q.v))) AS cosine
      FROM cand, q)
SELECT vec_id, round(cosine, 5) AS cos_r FROM s
ORDER BY cosine DESC, vec_id LIMIT 10"""


def oracle_sql() -> dict[str, str]:
    k1, b = 1.2, 0.75
    qn = len(set(BM25_QUERY))
    bm25 = f"""
WITH tok AS ({_TOK_SQL}),
dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY doc_id),
st AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
              (SELECT count(*) FROM tok)::DOUBLE
              / (SELECT count(*) FROM documents)::DOUBLE AS avgdl),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
       WHERE term IN ({_in_list(BM25_QUERY)}) GROUP BY doc_id, term),
dft AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
parts AS (SELECT tf.doc_id,
    ln((st.n_docs - dft.df + 0.5) / (dft.df + 0.5) + 1.0) * tf.tf
      / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.dl / st.avgdl)) AS part
  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id), st),
sc AS (SELECT doc_id, sum(part) AS score FROM parts GROUP BY doc_id)
SELECT doc_id, round(score, 5) AS score_r FROM sc
ORDER BY score DESC, doc_id LIMIT 10"""

    # 64-bit fingerprint from two 32-bit md5 words (hv_lo/hv_hi); bit 63
    # carries weight long-min (two's complement) and is added LAST so the
    # running sum peaks at 2^63-1 and never overflows DuckDB's checked
    # BIGINT addition (Spark's long wraps identically by construction)
    simhash_bits = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN "
        f"{(1 << i) if i < 63 else -(1 << 63)} ELSE 0 END)"
        for i in range(64))
    simhash_sums = ", ".join(
        f"sum(CASE WHEN ({'hv_lo' if i < 32 else 'hv_hi'} >> {i % 32})"
        f" & 1 = 1 THEN c ELSE -c END) AS s{i}"
        for i in range(64))

    lang_hits = ", ".join(
        f"sum(CASE WHEN term IN ({_in_list(LANG_STOPWORDS[lg])}) THEN 1 ELSE 0 END)"
        f"::BIGINT AS h_{lg}" for lg in ("en", "de", "fr", "es"))

    _tok_lower_sql = _TOK_SQL.replace(
        "string_split(text, ' ')",
        r"list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')")

    return {
        "tf_top_terms": f"""
WITH tok AS ({_TOK_SQL})
SELECT term, count(*)::BIGINT AS cnt FROM tok
GROUP BY term ORDER BY cnt DESC, term LIMIT 20""",

        "term_df": f"""
WITH tok AS ({_TOK_SQL})
SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tok
GROUP BY term ORDER BY df DESC, term LIMIT 50""",

        "corpus_stats": f"""
WITH tok AS ({_TOK_SQL})
SELECT count(DISTINCT doc_id)::BIGINT AS n_docs,
       count(*)::DOUBLE / count(DISTINCT doc_id)::DOUBLE AS avgdl,
       count(DISTINCT term)::BIGINT AS n_terms FROM tok""",

        "doc_token_counts": r"""
SELECT doc_id,
       len(list_filter(string_split(lower(text), ' '), x -> x <> ''))::BIGINT
         AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::BIGINT
         AS bpe_tokens
FROM documents""",

        "bm25_top10": bm25,
        "bm25_wand_top10": bm25,

        "conjunctive_and": f"""
WITH tok AS ({_TOK_SQL})
SELECT doc_id FROM tok WHERE term IN ({_in_list(AND_QUERY)})
GROUP BY doc_id HAVING count(DISTINCT term) = {len(set(AND_QUERY))}""",

        "completeness": f"""
WITH tok AS ({_TOK_SQL})
SELECT doc_id,
       count(DISTINCT term) / {float(len(set(AND_QUERY)))} AS completeness
FROM tok WHERE term IN ({_in_list(AND_QUERY)}) GROUP BY doc_id""",

        "snippet_overlap": f"""
WITH s AS (SELECT doc_id,
    unnest(list_filter(string_split_regex(
        regexp_replace(lower(substr(text, 1, 300)), '[^\\w\\s]', '', 'g'),
        '\\s+'), x -> x <> '')) AS w
  FROM documents)
SELECT doc_id,
       count(DISTINCT CASE WHEN w IN ({_in_list(SNIPPET_QUERY.split())})
                           THEN w END)
       / {float(len(set(SNIPPET_QUERY.lower().split())))} AS overlap
FROM s GROUP BY doc_id""",

        "phrase_match": f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
p AS (SELECT doc_id, unnest(toks) AS term,
             generate_subscripts(toks, 1) AS i FROM t)
SELECT DISTINCT a.doc_id FROM p a JOIN p b
  ON a.doc_id = b.doc_id AND b.i = a.i + 1
WHERE a.term = '{PHRASE[0]}' AND b.term = '{PHRASE[1]}'""",

        "cosine_scores": f"""
WITH tok AS ({_TOK_SQL}),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS c FROM tok GROUP BY 1, 2),
dn AS (SELECT doc_id, sqrt(sum(c * c)) AS dn FROM tf GROUP BY doc_id),
dot AS (SELECT doc_id, sum(c * (1.0 / sqrt({float(len(set(COSINE_QUERY)))})))
          AS dot
        FROM tf WHERE term IN ({_in_list(COSINE_QUERY)}) GROUP BY doc_id)
SELECT doc_id, round(dot / dn, 6) AS cosine_r FROM dot JOIN dn USING (doc_id)""",

        "exact_dedup64": """
SELECT min(doc_id)::BIGINT AS doc_id FROM documents
GROUP BY substr(text, 1, 64)""",

        "minhash_sigs": """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (SELECT DISTINCT doc_id,
        unnest(list_transform(range(1, len(toks) - 1),
                              i -> array_to_string(toks[i:i+2], ' ')))
          AS shingle
      FROM t WHERE len(toks) >= 3),
h AS (SELECT doc_id, k.hash_id,
             md5(k.hash_id::VARCHAR || ':' || shingle) AS h
      FROM s, (SELECT unnest(range(0, 4)) AS hash_id) k)
SELECT doc_id, hash_id::BIGINT AS hash_id, min(h) AS minhash
FROM h GROUP BY doc_id, hash_id""",

        "jaccard_pairs": """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (SELECT DISTINCT doc_id,
        unnest(list_transform(range(1, len(toks)),
                              i -> array_to_string(toks[i:i+1], ' ')))
          AS shingle
      FROM t WHERE len(toks) >= 2),
c AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM s GROUP BY doc_id),
i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS inter
      FROM s a JOIN s b USING (shingle) WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2)
SELECT doc_a, doc_b,
       inter / (ca.n_sh + cb.n_sh - inter) AS jaccard
FROM i JOIN c ca ON ca.doc_id = doc_a JOIN c cb ON cb.doc_id = doc_b
WHERE inter / (ca.n_sh + cb.n_sh - inter) >= 0.3""",

        "simhash": f"""
WITH tok AS ({_TOK_SQL}),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS c FROM tok GROUP BY 1, 2),
h AS (SELECT doc_id, c,
             ('0x' || substr(md5(term), 1, 8))::BIGINT AS hv_lo,
             ('0x' || substr(md5(term), 9, 8))::BIGINT AS hv_hi FROM tf),
bits AS (SELECT doc_id, {simhash_sums} FROM h GROUP BY doc_id)
SELECT doc_id, ({simhash_bits})::BIGINT AS simhash FROM bits""",

        "lang_id": f"""
WITH tok AS ({_tok_lower_sql}),
a AS (SELECT doc_id, {lang_hits} FROM tok GROUP BY doc_id)
SELECT d.doc_id,
  CASE WHEN a.doc_id IS NULL
         OR greatest(h_en, h_de, h_fr, h_es) <= 0 THEN 'xx'
       WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
       WHEN h_de = greatest(h_en, h_de, h_fr, h_es) THEN 'de'
       WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
       ELSE 'es' END AS pred_lang
FROM documents d LEFT JOIN a USING (doc_id)""",

        "quality": f"""
WITH base AS (SELECT doc_id, text,
    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents),
m AS (SELECT doc_id,
    length(text)::BIGINT AS n_chars,
    len(w)::BIGINT AS n_tokens,
    CASE WHEN len(w) > 0 THEN
      length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE / len(w)
      ELSE 0.0 END AS mean_token_len,
    CASE WHEN len(w) > 0 THEN
      len(list_filter(w, x -> x IN ({_in_list(LANG_STOPWORDS['en'])})))::DOUBLE
        / len(w) ELSE 0.0 END AS stopword_ratio,
    CASE WHEN length(text) > 0 THEN
      (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
        / length(text) ELSE 0.0 END AS punct_ratio
  FROM base)
SELECT doc_id, n_chars, n_tokens,
  round(mean_token_len, 6) AS mean_token_len_r,
  round(stopword_ratio, 6) AS stopword_ratio_r,
  round(punct_ratio, 6) AS punct_ratio_r,
  round(CASE WHEN n_tokens < 5 THEN 0.0 ELSE
    0.4 * least(stopword_ratio * 4, 1.0)
    + 0.3 * (1.0 - least(punct_ratio * 5, 1.0))
    + 0.3 * least(n_tokens / 100.0, 1.0) END, 6) AS quality_r
FROM m""",

        "repetition": """
WITH base AS (SELECT doc_id,
    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents),
m AS (SELECT doc_id, len(w)::BIGINT AS n_tokens,
        CASE WHEN len(w) > 0
             THEN len(list_distinct(w))::DOUBLE / len(w)
             ELSE 0.0 END AS dfrac, w FROM base),
bg AS (SELECT doc_id,
         unnest(list_transform(range(1, len(w)),
                               i -> w[i] || ' ' || w[i+1])) AS bg
       FROM m WHERE len(w) >= 2),
c AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
t AS (SELECT doc_id, max(c) AS top_bg FROM c GROUP BY doc_id)
SELECT m.doc_id, n_tokens, round(dfrac, 6) AS distinct_frac_r,
  round(CASE WHEN n_tokens > 0
             THEN coalesce(top_bg * 2.0, 0.0) / n_tokens
             ELSE 0.0 END, 6) AS top_bigram_frac_r
FROM m LEFT JOIN t USING (doc_id)""",

        "gopher_rules": """
WITH base AS (SELECT doc_id, coalesce(text, '') AS t,
    list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'),
                x -> x <> '') AS w
  FROM documents),
m AS (SELECT doc_id, len(w)::BIGINT AS n,
    CASE WHEN len(w) > 0 THEN
      length(regexp_replace(t, '\\s+', '', 'g'))::DOUBLE / len(w)
      ELSE 0.0 END AS mwl,
    len(regexp_extract_all(t, '#'))
      + len(regexp_extract_all(t, '\\.\\.\\.|…')) AS nsym,
    CASE WHEN len(w) > 0 THEN
      len(list_filter(w, x -> regexp_matches(x, '[a-z]')))::DOUBLE / len(w)
      ELSE 0.0 END AS af,
    len(list_filter(['the','be','to','of','and','that','have','with'],
                    s -> list_contains(w, s)))::BIGINT AS nstop
  FROM base),
r AS (SELECT doc_id, n, mwl, af, nstop,
    CASE WHEN n > 0 THEN nsym::DOUBLE / n ELSE 0.0 END AS sym FROM m)
SELECT doc_id, n AS n_words,
  round(mwl, 6) AS mean_word_len_r,
  round(sym, 6) AS symbol_ratio_r,
  round(af, 6) AS alpha_frac_r,
  nstop AS n_stop_kinds,
  (n >= 20 AND n <= 100000) AS rule_word_count,
  (mwl >= 3.0 AND mwl <= 10.0) AS rule_word_len,
  (sym <= 0.1) AS rule_symbol_ratio,
  (af >= 0.8) AS rule_alpha,
  (nstop >= 2) AS rule_stopwords,
  (n >= 20 AND n <= 100000 AND mwl >= 3.0 AND mwl <= 10.0
   AND sym <= 0.1 AND af >= 0.8 AND nstop >= 2) AS pass_gopher
FROM r""",

        "normalize_text": """
WITH aug AS (SELECT doc_id,
    chr(9) || 'lead ' || coalesce(text, '')
    || CASE WHEN doc_id % 3 = 0 THEN '  tail' || chr(1) || 'x  '
            ELSE '' END AS t
  FROM documents),
c AS (SELECT doc_id, t,
    trim(regexp_replace(regexp_replace(t, '[\\x00-\\x1f\\x7f]', ' ', 'g'),
                        '\\s+', ' ', 'g')) AS clean
  FROM aug)
SELECT doc_id, length(t)::BIGINT AS n_chars_raw,
  length(clean)::BIGINT AS n_chars_clean, md5(clean) AS clean_md5
FROM c""",

        "domain_stats": """
WITH u AS (SELECT doc_id, lang, length(text) AS nch,
    'h' || (doc_id % 23) || '.' || source || '.example' AS host
  FROM documents)
SELECT host, regexp_extract(host, '[^.]+\\.[^.]+$', 0) AS reg_domain,
  count(*)::BIGINT AS n_docs, sum(nch)::BIGINT AS sum_chars,
  count(DISTINCT lang)::BIGINT AS n_langs
FROM u GROUP BY 1, 2""",

        "decontaminate": """
WITH t AS (SELECT doc_id,
    list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'),
                x -> x <> '') AS w
  FROM documents),
b AS (SELECT w[6:25] AS bw FROM t WHERE doc_id % 41 = 3),
bh AS (SELECT DISTINCT h FROM (
    SELECT unnest(list_transform(range(1, len(bw) - 6),
        i -> md5(array_to_string(bw[i:i+7], ' ')))) AS h
    FROM b WHERE len(bw) >= 8) x),
ch AS (SELECT doc_id, len(w) AS nw, w FROM t),
ex AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 6),
        i -> md5(array_to_string(w[i:i+7], ' ')))) AS h
    FROM ch WHERE nw >= 8),
hits AS (SELECT doc_id, count(DISTINCT h) AS n_hit
    FROM ex JOIN bh USING (h) GROUP BY doc_id)
SELECT c.doc_id,
  (CASE WHEN nw >= 8 THEN nw - 7 ELSE 0 END)::BIGINT AS n_ngrams,
  coalesce(n_hit, 0)::BIGINT AS n_hit,
  coalesce(n_hit, 0) > 0 AS contaminated
FROM ch c LEFT JOIN hits USING (doc_id)""",

        "line_dedup": """
WITH t AS (SELECT doc_id,
    list_filter(string_split_regex(coalesce(text, ''), '\\s+'),
                x -> x <> '') AS w
  FROM documents),
lx AS (SELECT doc_id,
    (CASE WHEN len(w) > 0 THEN
       list_transform(range(0, CAST(ceil(len(w) / 10.0) AS INT)),
                      i -> array_to_string(w[i*10+1:i*10+10], ' '))
     ELSE [] END)
    || (CASE WHEN doc_id % 2 = 0
             THEN ['all rights reserved legal notice example']
             ELSE [] END)
    || (CASE WHEN doc_id % 200 = 0
             THEN ['rare line token alpha beta'] ELSE [] END) AS lines
  FROM t),
ex AS (SELECT doc_id, unnest(range(len(lines))) AS pos,
              unnest(lines) AS line
  FROM lx),
ne AS (SELECT doc_id, pos, line, trim(line) AS tl
  FROM ex WHERE trim(line) <> ''),
flagged AS (SELECT tl FROM (
    SELECT tl, count(DISTINCT doc_id) AS df FROM ne GROUP BY tl) x
  WHERE df >= 5),
kept AS (SELECT doc_id, pos, line FROM ne
  WHERE tl NOT IN (SELECT tl FROM flagged)),
agg AS (SELECT doc_id, count(*) AS n_kept,
    string_agg(line, chr(10) ORDER BY pos) AS text_clean
  FROM kept GROUP BY doc_id),
base AS (SELECT doc_id, count(*) AS n_lines FROM ne GROUP BY doc_id)
SELECT b.doc_id, b.n_lines::BIGINT AS n_lines,
  coalesce(a.n_kept, 0)::BIGINT AS n_kept,
  md5(coalesce(a.text_clean, '')) AS clean_md5
FROM base b LEFT JOIN agg a USING (doc_id)""",

        "anchor_text": r"""
WITH c AS (SELECT url, html FROM read_parquet('{path}')),
e AS (SELECT url, unnest(regexp_extract_all(html,
    '(?is)<a\b[^>]*?href\s*=\s*["'']([^"''#]+)["''][^>]*>.*?</a>')) AS el
  FROM c),
p AS (SELECT url,
    regexp_extract(el, '(?i)href\s*=\s*["'']([^"''#]+)["'']', 1) AS href,
    trim(regexp_replace(regexp_replace(
        regexp_extract(el, '(?is)>(.*)</a>$', 1),
        '<[^>]+>', ' ', 'g'), '\s+', ' ', 'g')) AS anchor
  FROM e),
l AS (SELECT
  CASE WHEN regexp_matches(href, '^[a-zA-Z][a-zA-Z0-9+.-]*://') THEN href
       WHEN href LIKE '//%' THEN
         regexp_extract(url, '^([a-zA-Z]+:)', 1) || href
       WHEN href LIKE '/%' THEN
         regexp_extract(url, '^([a-zA-Z]+://[^/]+)', 1) || href
       ELSE regexp_replace(url, '[^/]*$', '') || href END AS link,
  anchor FROM p),
pair AS (SELECT link, anchor, count(*) AS cnt FROM l GROUP BY 1, 2),
rk AS (SELECT link, anchor, cnt,
    row_number() OVER (PARTITION BY link
                       ORDER BY cnt DESC, anchor) AS r
  FROM pair)
SELECT link, sum(cnt)::BIGINT AS n_anchors,
  count(*)::BIGINT AS n_distinct_anchors,
  string_agg(CASE WHEN r <= 3 THEN anchor END, '|' ORDER BY r)
    AS top_anchors
FROM rk GROUP BY link""".replace("{path}", _fixture_links_corpus_parquet()),

        "classifier_score": """
WITH t AS (SELECT doc_id,
    list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'),
                x -> x <> '') AS w
  FROM documents),
s AS (SELECT doc_id, len(w)::BIGINT AS n,
    coalesce(list_sum(list_transform(w, x ->
      ((('0x' || substr(md5('0:' || x), 1, 8))::BIGINT % 4096)
       * 1103515245 + 12345) % 2000001 - 1000000)), 0)::BIGINT AS logit
  FROM t),
m AS (SELECT doc_id, n, logit,
    CASE WHEN n > 0 THEN logit / n / 1e6 ELSE 0.0 END AS mean
  FROM s)
SELECT doc_id, n AS n_tokens, logit AS logit_micro,
  round(mean, 6) AS mean_logit_r,
  round(1.0 / (1.0 + exp(-mean)), 6) AS score_r
FROM m""",

        "pack_sequences": """
WITH t AS (SELECT doc_id,
    len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS dl
  FROM documents),
c AS (SELECT doc_id, dl,
    sum(dl) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)::BIGINT
      AS cum
  FROM t WHERE dl > 0)
SELECT doc_id, dl AS n_tokens, (cum - dl) AS start_tok,
  ((cum - dl) // 256)::BIGINT AS first_seq,
  ((cum - 1) // 256)::BIGINT AS last_seq,
  ((cum - 1) // 256 - (cum - dl) // 256 + 1)::BIGINT AS n_seqs
FROM c""",

        "redact_pii": """
WITH aug AS (SELECT doc_id,
    coalesce(text, '')
    || CASE WHEN doc_id % 5 = 0 THEN ' mail u' || doc_id || '@ex.org'
            ELSE '' END
    || CASE WHEN doc_id % 7 = 0 THEN ' ip 10.0.' || (doc_id % 200) || '.7 end'
            ELSE '' END AS t
  FROM documents),
e AS (SELECT doc_id,
        len(regexp_extract_all(t,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::BIGINT
          AS n_emails,
        regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '[EMAIL]', 'g') AS c1
      FROM aug)
SELECT doc_id, n_emails,
  len(regexp_extract_all(c1,
      '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b'))::BIGINT AS n_ips,
  md5(regexp_replace(c1, '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '[IP]', 'g'))
    AS clean_md5
FROM e""",

        "fingerprints": """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
hs AS (SELECT doc_id,
         list_transform(range(1, len(toks) - 3),
                        i -> md5(array_to_string(toks[i:i+4], ' '))) AS hl
       FROM t WHERE len(toks) >= 5),
s AS (SELECT doc_id, unnest(hl) AS h,
             generate_subscripts(hl, 1) AS ord FROM hs),
w AS (SELECT doc_id,
        min(h) OVER (PARTITION BY doc_id ORDER BY ord
                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      FROM s)
SELECT DISTINCT doc_id, fp AS fingerprint FROM w""",

        "embedding_top10": """
WITH q AS (SELECT unnest(embedding)::DOUBLE AS qv,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings WHERE vec_id = 0),
e AS (SELECT vec_id, unnest(embedding)::DOUBLE AS ev,
             generate_subscripts(embedding, 1) AS i FROM embeddings),
d AS (SELECT vec_id, sum(ev * qv) AS dot, sum(ev * ev) AS ne
      FROM e JOIN q USING (i) GROUP BY vec_id),
nq AS (SELECT sum(qv * qv) AS s FROM q)
SELECT vec_id, round(dot / (sqrt(ne) * sqrt(nq.s)), 5) AS cos_r
FROM d, nq ORDER BY dot / (sqrt(ne) * sqrt(nq.s)) DESC, vec_id LIMIT 10""",

        "knn_join": """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
s AS (SELECT q.qid, e.vec_id,
        list_dot_product(e.v, q.qv)
        / (sqrt(list_dot_product(e.v, e.v))
           * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
      FROM e, q),
r AS (SELECT qid, vec_id, cosine,
        row_number() OVER (PARTITION BY qid
                           ORDER BY cosine DESC, vec_id) AS rank
      FROM s)
SELECT qid, vec_id, round(cosine, 5) AS cos_r, rank::BIGINT AS rank
FROM r WHERE rank <= 3""",

        "pod_counts": """
SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY source""",

        "pod_top_terms": f"""
WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS term
             FROM documents WHERE text IS NOT NULL),
c AS (SELECT source, term, count(*)::BIGINT AS cnt FROM tok GROUP BY 1, 2),
r AS (SELECT source, term, cnt,
        row_number() OVER (PARTITION BY source
                           ORDER BY cnt DESC, term) AS rnk
      FROM c)
SELECT source, term, cnt, rnk::BIGINT AS rnk FROM r WHERE rnk <= 3""",

        "events_hourly": """
SELECT event_type, date_trunc('hour', ts) AS hour,
       count(*)::BIGINT AS n, round(sum(value), 4) AS sum_value_r
FROM events GROUP BY 1, 2""",

        "events_sessions": """
WITH o AS (SELECT event_type, ts, value,
             lag(ts) OVER (PARTITION BY event_type ORDER BY ts) AS pts
           FROM events),
m AS (SELECT *, CASE WHEN pts IS NULL
                       OR epoch_us(ts) - epoch_us(pts) >= 600000000
                     THEN 1 ELSE 0 END AS brk FROM o),
g AS (SELECT *, sum(brk) OVER (PARTITION BY event_type ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid FROM m)
SELECT event_type, min(ts) AS session_start, count(*)::BIGINT AS n,
       round(sum(value), 4) AS sum_value_r
FROM g GROUP BY event_type, sid""",

        "bfs_reach": """
WITH RECURSIVE e AS (
  SELECT o_custkey * 3 AS src, o_orderkey * 3 + 1 AS dst FROM orders
  UNION ALL
  SELECT l_orderkey * 3 + 1, l_partkey * 3 + 2 FROM lineitem),
r AS (
  SELECT DISTINCT o_custkey * 3 AS node, 0 AS depth FROM orders
  WHERE o_custkey < 5
  UNION ALL
  SELECT e.dst, r.depth + 1 FROM r JOIN e ON e.src = r.node
  WHERE r.depth < 3)
SELECT node::BIGINT AS node, min(depth)::BIGINT AS depth
FROM r GROUP BY node""",

        "doc_neighbours": f"""
WITH tok AS ({_TOK_SQL}),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS c FROM tok GROUP BY 1, 2),
q AS (SELECT term, c AS qc FROM tf WHERE doc_id = 0),
qn AS (SELECT sqrt(sum(qc * qc)) AS qn FROM q),
dn AS (SELECT doc_id, sqrt(sum(c * c)) AS dn FROM tf GROUP BY doc_id),
dot AS (SELECT tf.doc_id, sum(tf.c * q.qc) AS dot
        FROM tf JOIN q USING (term) GROUP BY tf.doc_id)
SELECT doc_id, round(dot / (dn * qn.qn), 6) AS cosine_r
FROM dot JOIN dn USING (doc_id), qn
ORDER BY dot / (dn * qn.qn) DESC, doc_id LIMIT 50""",

        "pod_rank": f"""
WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS term
             FROM documents WHERE text IS NOT NULL),
ptf AS (SELECT source, term, count(*)::DOUBLE AS c FROM tok GROUP BY 1, 2),
q AS (SELECT unnest(ARRAY[{", ".join(repr(t) for t in sorted(set(COSINE_QUERY)))}]) AS term,
             1.0 AS qtf),
qn AS (SELECT sqrt(sum(qtf * qtf)) AS qn FROM q),
pn AS (SELECT source, sqrt(sum(c * c)) AS pn FROM ptf GROUP BY source),
dot AS (SELECT ptf.source, sum(ptf.c * q.qtf / (SELECT qn FROM qn)) AS dot
        FROM ptf JOIN q USING (term) GROUP BY ptf.source)
SELECT source, round(dot / pn, 6) AS cos_r
FROM dot JOIN pn USING (source)
ORDER BY dot / pn DESC, source LIMIT 10""",

        "wta_l2": f"""
WITH tok AS ({_TOK_SQL}),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
w AS (SELECT doc_id, term,
             tf * power(ln(length(term) + 2.0), 5) AS w FROM tf),
kept AS (SELECT doc_id, term, w,
                row_number() OVER (PARTITION BY doc_id
                                   ORDER BY w DESC, term) AS rn
         FROM w),
k3 AS (SELECT doc_id, term, w FROM kept WHERE rn <= 3),
nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM k3 GROUP BY doc_id)
SELECT k3.doc_id, k3.term, round(k3.w / nrm.nrm, 6) AS w_r
FROM k3 JOIN nrm USING (doc_id)""",

        "combined_rank": f"""
WITH tok AS ({_TOK_SQL}),
t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
p AS (SELECT doc_id, unnest(toks) AS term,
             generate_subscripts(toks, 1) AS i FROM t),
phr AS (SELECT DISTINCT a.doc_id, 1.0 AS p FROM p a JOIN p b
          ON a.doc_id = b.doc_id AND b.i = a.i + 1
        WHERE a.term = '{PHRASE[0]}' AND b.term = '{PHRASE[1]}'),
comp AS (SELECT doc_id,
           count(DISTINCT term) / {float(len(set(PHRASE)))} AS completeness
         FROM tok WHERE term IN ({_in_list(PHRASE)}) GROUP BY doc_id),
sw AS (SELECT doc_id,
         unnest(list_filter(string_split_regex(
             regexp_replace(lower(substr(text, 1, 300)), '[^\\w\\s]', '', 'g'),
             '\\s+'), x -> x <> '')) AS w
       FROM documents),
snip AS (SELECT doc_id,
           count(DISTINCT CASE WHEN w IN ({_in_list(PHRASE)}) THEN w END)
           / {float(len(set(PHRASE)))} AS overlap
         FROM sw GROUP BY doc_id),
sc AS (SELECT d.doc_id,
         coalesce(phr.p, 0.0) + coalesce(comp.completeness, 0.0)
         + coalesce(snip.overlap, 0.0)
         + (CASE WHEN snip.overlap = 1.0 THEN 1.0 ELSE 0.0 END) AS score
       FROM documents d
       LEFT JOIN phr USING (doc_id)
       LEFT JOIN comp USING (doc_id)
       LEFT JOIN snip USING (doc_id))
SELECT doc_id, score FROM sc WHERE score > 0
ORDER BY score DESC, doc_id LIMIT 50""",

        "top3_fallback": """
WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS term
             FROM documents WHERE text IS NOT NULL),
ptf AS (SELECT source, term, count(*)::DOUBLE AS c FROM tok GROUP BY 1, 2),
q AS (SELECT unnest(ARRAY[{qterms}]) AS term, 1.0 AS qtf),
qn AS (SELECT sqrt(sum(qtf * qtf)) AS qn FROM q),
pn AS (SELECT source, sqrt(sum(c * c)) AS pn FROM ptf GROUP BY source),
dot AS (SELECT ptf.source, sum(ptf.c * q.qtf / (SELECT qn FROM qn)) AS dot
        FROM ptf JOIN q USING (term) GROUP BY ptf.source),
sc AS (SELECT source AS pod, dot / pn AS score
       FROM dot JOIN pn USING (source)),
r AS (SELECT pod, score,
        row_number() OVER (ORDER BY score DESC, pod) AS rn,
        max(score) OVER () AS mx
      FROM sc)
SELECT pod, round(score, 6) AS score_r FROM r
WHERE mx < 0.01 OR rn <= 3""".format(
            qterms=", ".join(repr(t) for t in sorted(set(COSINE_QUERY)))),

        "query_parse": """
WITH raw AS (SELECT unnest(ARRAY[{qlist}]) AS q),
p AS (SELECT q,
  CASE WHEN regexp_matches(q, '\\s-\\w+\\s*$')
       THEN regexp_extract(q, '\\s-(\\w+)\\s*$', 1) ELSE '' END AS lang,
  CASE WHEN regexp_matches(q, '\\s-\\w+\\s*$')
       THEN regexp_extract(q, '(.*)\\s-\\w+\\s*$', 1) ELSE q END AS body
  FROM raw),
w AS (SELECT q, lang, body,
  list_filter(string_split_regex(body, '\\s+'), x -> x <> '') AS words
  FROM p),
m AS (SELECT q, lang, body, words,
  list_filter(words, x -> x LIKE '?%' OR x LIKE '!%') AS markers FROM w)
SELECT q,
  coalesce(array_to_string(list_transform(
     list_filter(words, x -> x NOT LIKE '!%'),
     x -> CASE WHEN x LIKE '?%' THEN substr(x, 2) ELSE x END), ' '), '')
    AS clean,
  CASE WHEN body LIKE '%/%' THEN 'doc'
       WHEN len(markers) = 0 THEN ''
       WHEN markers[-1] LIKE '?%' THEN 'ind'
       ELSE substr(markers[-1], 2) END AS doctype,
  lang
FROM m""".format(qlist=", ".join(repr(s) for s in PARSE_QUERIES)),

        "url_overlap": """
WITH d AS (SELECT doc_id,
             lower(source || '-' || doc_id::VARCHAR) AS seg
           FROM documents),
c AS (SELECT doc_id,
        list_distinct(regexp_extract_all(seg, '(.)', 1)) AS sc FROM d)
SELECT doc_id,
  round(2.0 * len(list_intersect(sc, ARRAY[{qchars}]))
        / (len(sc) + {nq}), 6) AS dice_r
FROM c""".format(
            qchars=", ".join(repr(ch) for ch in sorted(set(URL_QUERY.lower()))),
            nq=len(set(URL_QUERY.lower()))),

        "expert_threshold": f"""
WITH tok AS ({_TOK_SQL}),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS c FROM tok GROUP BY 1, 2),
q AS (SELECT term, c AS qc FROM tf WHERE doc_id = 1),
qn AS (SELECT sqrt(sum(qc * qc)) AS qn FROM q),
dn AS (SELECT doc_id, sqrt(sum(c * c)) AS dn FROM tf GROUP BY doc_id),
dot AS (SELECT tf.doc_id, sum(tf.c * q.qc) AS dot
        FROM tf JOIN q USING (term) GROUP BY tf.doc_id)
SELECT doc_id, round(dot / (dn * qn.qn), 6) AS cosine_r
FROM dot JOIN dn USING (doc_id), qn
WHERE dot / (dn * qn.qn) >= 0.05""",

        "pod_share_export": """
SELECT doc_id::VARCHAR || ';' || source || ';' || lang AS line
FROM documents
WHERE source = (SELECT min(source) FROM documents)""",

        "dedup_insert": """
SELECT i.doc_id FROM documents i
WHERE i.doc_id % 2 = 1 AND NOT EXISTS (
  SELECT 1 FROM documents e
  WHERE e.doc_id % 2 = 0
    AND substr(e.text, 1, 80) = substr(i.text, 1, 80))""",

        "delete_rebuild": f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             FROM documents WHERE text IS NOT NULL AND doc_id % 10 <> 0)
SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tok
GROUP BY term ORDER BY df DESC, term LIMIT 50""",

        "snippets": """
SELECT doc_id,
       coalesce(replace(substr(text, 1, 300), ',', '-'), '') AS snippet
FROM documents""",

        "beautify": """
SELECT doc_id,
  ['stat','doc','url','ind','map'][(doc_id % 5 + 1)::INT] AS doctype,
  ['\U0001F4C8 STAT: ','\U0001F4DD DOC: ','\U0001F30F URL: ',
   '☺️  IND: ','\U0001F4CD MAP: '][(doc_id % 5 + 1)::INT]
    || substr(text, 1, 40) AS title,
  replace(replace(replace(replace(substr(text, 1, 200),
    'data', '<b>data</b>'), 'Data', '<b>Data</b>'),
    'table', '<b>table</b>'), 'Table', '<b>Table</b>') AS snippet
FROM documents""",

        "robots_gate": """
WITH t(site, robots) AS (VALUES {vals}),
l AS (SELECT site, unnest(string_split(robots, chr(10))) AS ln,
             generate_subscripts(string_split(robots, chr(10)), 1) AS i
      FROM t),
s AS (SELECT site, ln,
        last_value(CASE WHEN ln LIKE '%User-agent%' THEN ln END IGNORE NULLS)
          OVER (PARTITION BY site ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sec
      FROM l),
d AS (SELECT site, count(*)::BIGINT AS n_disallow FROM s
      WHERE ln LIKE '%Disallow:%' AND sec LIKE '%User-agent: *%'
      GROUP BY site)
SELECT t.site, coalesce(d.n_disallow, 0)::BIGINT AS n_disallow,
       coalesce(d.n_disallow, 0) = 0 AS allowed
FROM t LEFT JOIN d USING (site)""".format(
            vals=", ".join(f"({_sql_str(s)}, {_sql_str(r)})"
                           for s, r in ROBOTS_FIXTURES)),

        "local_docs_scan": """
WITH b AS (SELECT unnest(regexp_extract_all(content,
             '(?s)<doc url="([^"]*)" title="([^"]*)">(.*?)</doc>', 0)) AS blk
           FROM read_text('{path}'))
SELECT regexp_extract(blk, '(?s)<doc url="([^"]*)"', 1) AS url,
       regexp_extract(blk, '(?s)title="([^"]*)">', 1) AS title,
       trim(regexp_replace(
         regexp_extract(blk, '(?s)>(.*?)</doc>', 1), '\\s+', ' ', 'g'))
         AS text
FROM b""".format(path=_fixture_docs_file()),

        "bookmarks_scan": """
WITH b AS (SELECT unnest(regexp_extract_all(content,
             '(?s)<A HREF="([^"]*)"[^>]*>([^<]*)</A>', 0)) AS blk
           FROM read_text('{path}'))
SELECT regexp_extract(blk, '<A HREF="([^"]*)"', 1) AS url,
       trim(regexp_extract(blk, '>([^<]*)</A>', 1)) AS title
FROM b""".format(path=_fixture_bookmarks_file()),

        "pod_subscribe": """
SELECT doc_id, source FROM documents WHERE doc_id % 3 <> 0
UNION ALL
SELECT doc_id, source FROM documents
WHERE doc_id % 2 = 0 AND doc_id % 3 = 0""",

        "query_vectors": """
WITH raw AS (SELECT unnest(ARRAY[{qlist}]) AS q),
tok AS (SELECT q, unnest(string_split(q, ' ')) AS term FROM raw),
kept AS (SELECT q, term FROM tok
         WHERE term NOT LIKE '!%' AND term NOT LIKE '?%'
           AND term NOT LIKE '-%'),
tf AS (SELECT q, term, count(*)::DOUBLE AS tf FROM kept GROUP BY 1, 2),
w AS (SELECT q, term, tf * power(ln(length(term) + 2.0), 5) AS w FROM tf),
nrm AS (SELECT q, sqrt(sum(w * w)) AS nrm FROM w GROUP BY q)
SELECT w.q, w.term, round(w.w / nrm.nrm, 6) AS w_r
FROM w JOIN nrm USING (q)""".format(
            qlist=", ".join(repr(s) for s in PARSE_QUERIES)),

        "embedding_near_dups": """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v))) AS cosine
      FROM v a JOIN v b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, round(cosine, 5) AS cos_r FROM p
WHERE cosine >= 0.35""",

        "canonical_urls": """
WITH u AS (SELECT unnest(ARRAY[{urls}]) AS url),
nf AS (SELECT url, regexp_replace(url, '#.*$', '') AS b FROM u),
p AS (SELECT url, b,
        lower(regexp_extract(b, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
        lower(regexp_extract(b, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1))
          AS h,
        regexp_extract(b, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(.*)$', 1)
          AS rest
      FROM nf)
SELECT url,
  CASE WHEN sch = '' THEN url
       ELSE sch || '://' ||
            (CASE WHEN sch = 'http' THEN regexp_replace(h, ':80$', '')
                  WHEN sch = 'https' THEN regexp_replace(h, ':443$', '')
                  ELSE h END) ||
            (CASE WHEN rest = '' THEN '/' ELSE rest END)
  END AS canonical
FROM p""".format(urls=", ".join(repr(u) for u in CANON_URLS)),

        "web_fetch": """
WITH u AS (SELECT 'https://site' || (i % 7) || '.example/page' || i AS url
           FROM (SELECT unnest(range(0, 40)) AS i))
SELECT url,
       NOT (url LIKE '%3') AS ok,
       CASE WHEN url LIKE '%3' THEN -1
            ELSE length('<html><title>' || url || '</title></html>')
       END::BIGINT AS n_bytes,
       CASE WHEN url LIKE '%3' THEN 'synthetic fetch failure'
            ELSE '' END AS err
FROM u""",

        "access_check": """
WITH t(site, robots) AS (VALUES {vals}),
l AS (SELECT site, unnest(string_split(robots, chr(10))) AS ln,
             generate_subscripts(string_split(robots, chr(10)), 1) AS i
      FROM t),
s AS (SELECT site, ln,
        last_value(CASE WHEN ln LIKE '%User-agent%' THEN ln END IGNORE NULLS)
          OVER (PARTITION BY site ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sec
      FROM l),
d AS (SELECT site, count(*)::BIGINT AS n_disallow FROM s
      WHERE ln LIKE '%Disallow:%' AND sec LIKE '%User-agent: *%'
      GROUP BY site),
allowed AS (SELECT t.site FROM t LEFT JOIN d USING (site)
            WHERE coalesce(d.n_disallow, 0) = 0),
u AS (SELECT 'https://' || site || '/p' || j AS url, site
      FROM t, (SELECT unnest(range(0, 3)) AS j))
SELECT u.url FROM u JOIN allowed USING (site)""".format(
            vals=", ".join(f"({_sql_str(s)}, {_sql_str(r)})"
                           for s, r in ROBOTS_FIXTURES)),

        "simhash_near_dups": f"""
WITH tok AS ({_TOK_SQL}),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS c FROM tok GROUP BY 1, 2),
h AS (SELECT doc_id, c,
             ('0x' || substr(md5(term), 1, 8))::BIGINT AS hv_lo,
             ('0x' || substr(md5(term), 9, 8))::BIGINT AS hv_hi FROM tf),
bits AS (SELECT doc_id, {simhash_sums} FROM h GROUP BY doc_id),
f AS (SELECT doc_id, ({simhash_bits})::BIGINT AS simhash FROM bits),
p AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM f a JOIN f b ON a.doc_id < b.doc_id AND (
           ((a.simhash >> 0) & 65535) = ((b.simhash >> 0) & 65535)
        OR ((a.simhash >> 16) & 65535) = ((b.simhash >> 16) & 65535)
        OR ((a.simhash >> 32) & 65535) = ((b.simhash >> 32) & 65535)
        OR ((a.simhash >> 48) & 65535) = ((b.simhash >> 48) & 65535)))
SELECT doc_a, doc_b,
       bit_count(xor(fa.simhash, fb.simhash))::BIGINT AS hamming
FROM p JOIN f fa ON fa.doc_id = doc_a JOIN f fb ON fb.doc_id = doc_b
WHERE bit_count(xor(fa.simhash, fb.simhash)) <= 3""",

        "dedup_clusters": f"""
WITH RECURSIVE tok AS ({_TOK_SQL}),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS c FROM tok GROUP BY 1, 2),
h AS (SELECT doc_id, c,
             ('0x' || substr(md5(term), 1, 8))::BIGINT AS hv_lo,
             ('0x' || substr(md5(term), 9, 8))::BIGINT AS hv_hi FROM tf),
bits AS (SELECT doc_id, {simhash_sums} FROM h GROUP BY doc_id),
f AS (SELECT doc_id, ({simhash_bits})::BIGINT AS simhash FROM bits),
p AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM f a JOIN f b ON a.doc_id < b.doc_id AND (
           ((a.simhash >> 0) & 65535) = ((b.simhash >> 0) & 65535)
        OR ((a.simhash >> 16) & 65535) = ((b.simhash >> 16) & 65535)
        OR ((a.simhash >> 32) & 65535) = ((b.simhash >> 32) & 65535)
        OR ((a.simhash >> 48) & 65535) = ((b.simhash >> 48) & 65535))),
np AS (SELECT doc_a, doc_b FROM p
       JOIN f fa ON fa.doc_id = doc_a JOIN f fb ON fb.doc_id = doc_b
       WHERE bit_count(xor(fa.simhash, fb.simhash)) <= 3),
und AS (SELECT doc_a AS a, doc_b AS b FROM np
        UNION ALL SELECT doc_b, doc_a FROM np),
reach(node, root) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT u.b, r.root FROM reach r JOIN und u ON u.a = r.node)
SELECT node::BIGINT AS doc_id, min(root)::BIGINT AS cluster_id
FROM reach GROUP BY node""",

        "url_list_scan": """
SELECT trim(c0) AS url,
       coalesce(nullif(trim(c1), ''), 'home') AS keyword,
       coalesce(nullif(trim(c2), ''), 'en') AS lang
FROM read_csv('{path}', delim=';', header=false,
              columns={{'c0': 'VARCHAR', 'c1': 'VARCHAR', 'c2': 'VARCHAR'}},
              null_padding=true, auto_detect=false)
WHERE c0 IS NOT NULL AND trim(c0) <> ''""".format(path=_fixture_urls_file()),

        "link_extract": r"""
WITH c AS (SELECT url, html FROM read_parquet('{path}')),
l AS (SELECT url,
        unnest(regexp_extract_all(html,
          '(?i)<a\b[^>]*?href\s*=\s*["'']([^"''#]+)["'']', 1)) AS href
      FROM c)
SELECT url,
  CASE WHEN regexp_matches(href, '^[a-zA-Z][a-zA-Z0-9+.-]*://') THEN href
       WHEN href LIKE '//%' THEN
         regexp_extract(url, '^([a-zA-Z]+:)', 1) || href
       WHEN href LIKE '/%' THEN
         regexp_extract(url, '^([a-zA-Z]+://[^/]+)', 1) || href
       ELSE regexp_replace(url, '[^/]*$', '') || href END AS link
FROM l""".format(path=_fixture_links_corpus_parquet()),

        "spm_tokens": """
SELECT url, n_pieces::BIGINT AS n_pieces FROM read_parquet('{path}')""".format(
            path=_fixture_spm_expected_parquet()),

        "extract_parity": """
SELECT url, ok, n_chars::BIGINT AS n_chars FROM read_parquet('{path}')""".format(
            path=_fixture_extract_expected_parquet()),

        "ann_lsh_top10": _ann_lsh_oracle(),

        "ivf_top10": _ivf_oracle(),

        # the pruned probes read the materialized partition-keyed index
        # but are result-identical to the per-query variants by
        # construction (same centroids / plane seeds / nprobe), so they
        # share the same SQL twins
        "ivf_pruned_top10": _ivf_oracle(),

        "lsh_pruned_top10": _ann_lsh_oracle(),

        "ivf_pq_top10": _ivf_pq_oracle(),

        "pagerank": _pagerank_oracle(),

        "sampled_corpus": f"""
SELECT doc_id, source, lang FROM documents
WHERE ('0x' || substr(md5('7:' || doc_id::VARCHAR), 1, 8))::BIGINT
      < {int(0.25 * (1 << 32))}""",

        "min_window": f"""
WITH occ AS (
  SELECT doc_id, term, ord AS pos FROM (
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS term,
           generate_subscripts(string_split(text, ' '), 1) AS ord
    FROM documents WHERE text IS NOT NULL)
  WHERE term IN ({_in_list(AND_QUERY)})),
full_docs AS (SELECT doc_id FROM occ
              GROUP BY doc_id
              HAVING count(DISTINCT term) = {len(set(AND_QUERY))}),
p AS (SELECT a.doc_id, a.pos AS s, b.pos AS e
      FROM occ a JOIN occ b
        ON a.doc_id = b.doc_id AND b.pos >= a.pos
      WHERE a.doc_id IN (SELECT doc_id FROM full_docs)),
cov AS (SELECT p.doc_id, p.s, p.e, count(DISTINCT o.term) AS nt
        FROM p JOIN occ o
          ON o.doc_id = p.doc_id AND o.pos BETWEEN p.s AND p.e
        GROUP BY 1, 2, 3)
SELECT doc_id, min(e - s + 1)::BIGINT AS min_window
FROM cov WHERE nt = {len(set(AND_QUERY))} GROUP BY doc_id""",

        "token_budget": """
WITH t AS (SELECT doc_id, source,
             len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT
               AS dl
           FROM documents),
c AS (SELECT doc_id, source, dl,
        sum(dl) OVER (PARTITION BY source ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens
      FROM t)
SELECT doc_id, source, dl, cum_tokens FROM c
WHERE cum_tokens - dl < 600""",

        "phrase_c6_scores": """
SELECT doc_id, phrase_score_r FROM read_parquet('{path}')""".format(
            path=_fixture_phrase_expected_parquet()),

        "pdf_extract": """
WITH t AS (SELECT i::BIGINT AS doc_id,
             'synthetic pdf document ' || i || ' with shared words' AS text
           FROM (SELECT unnest(range(0, 40)) AS i))
SELECT doc_id, text, length(text)::BIGINT AS n_chars FROM t""",

        "frame_plan": """
WITH m AS (SELECT i::BIGINT AS doc_id, 1000 * (1 + i % 30) AS dur
           FROM (SELECT unnest(range(0, 48)) AS i) WHERE i % 3 = 2),
f AS (SELECT doc_id,
        unnest(range(0, greatest(dur // 1000, 1))) AS frame_idx
      FROM m)
SELECT doc_id, frame_idx::BIGINT AS frame_idx,
       (frame_idx * 1000)::BIGINT AS ts_ms
FROM f""",

        "media_resize": """
WITH m AS (
  SELECT i::BIGINT AS doc_id,
         repeat(unhex(sha256('media' || i)), 1 + i % 7) AS payload
  FROM (SELECT unnest(range(0, 48)) AS i) WHERE i % 3 = 0)
SELECT doc_id, 'image' AS kind,
       sha256('resize:64x48:' || lower(hex(payload))) AS payload_hex,
       64::BIGINT AS width, 48::BIGINT AS height
FROM m""",

        "media_features": """
WITH m AS (
  SELECT i::BIGINT AS doc_id,
         CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END
           AS kind,
         repeat(unhex(sha256('media' || i)), 1 + i % 7) AS payload
  FROM (SELECT unnest(range(0, 48)) AS i)),
h AS (
  SELECT doc_id, kind, octet_length(payload)::BIGINT AS n_bytes,
         sha256(kind || lower(hex(payload))) AS hx
  FROM m)
SELECT doc_id, kind, n_bytes,
  array_to_string(list_transform(range(0, 16), j ->
    printf('%.6f', (('0x' || substr(hx, 4*j+3, 2) || substr(hx, 4*j+1, 2))::INT)
           / 65535.0)), ',') AS features_s
FROM h""",

        "media_features_real": """
SELECT doc_id, kind, n_bytes, hist_s FROM read_parquet('{path}')""".format(
            path=_fixture_media_real_features_parquet()),

        "media_resize_real": """
SELECT doc_id, payload_hex FROM read_parquet('{path}')""".format(
            path=_fixture_media_resize_real_parquet()),

        "stego_pod_import": """
SELECT file, line_no, url, title, snippet, vector, freqs, cc
FROM read_parquet('{path}')""".format(
            path=_fixture_stego_expected_parquet()),

        "span_dedup": """
WITH t AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS tk
           FROM documents),
d AS (SELECT doc_id, tk, cast(ceil(len(tk) / 12.0) AS INT) AS nsp
      FROM t WHERE len(tk) > 0),
s AS (SELECT doc_id, i AS pos,
        array_to_string(list_slice(tk, i*12 + 1, i*12 + 12), ' ') AS span
      FROM d, unnest(range(0, nsp)) AS u(i)),
r AS (SELECT doc_id, pos, span,
        row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rnk
      FROM s),
kept AS (SELECT doc_id, pos, span FROM r WHERE rnk = 1),
agg AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
          string_agg(span, ' ' ORDER BY pos) AS text_clean
        FROM kept GROUP BY doc_id)
SELECT d.doc_id, d.nsp::BIGINT AS n_spans,
       coalesce(agg.n_kept, 0)::BIGINT AS n_kept,
       coalesce(agg.text_clean, '') AS text_clean
FROM d LEFT JOIN agg USING (doc_id)""",

        "unigram_loglik": """
SELECT doc_id, n_pieces, sum_lp_e6, avg_logprob
FROM read_parquet('{path}')""".format(
            path=_fixture_unigram_loglik_parquet()),

        "csv_docs": """
SELECT 'people.csv#row [' || (row_number() OVER (
         ORDER BY name ASC NULLS FIRST, city ASC NULLS FIRST,
                  notes ASC NULLS FIRST) - 1)::VARCHAR
         || ']' AS url,
       concat_ws(' ', 'name: ' || coalesce(name, '') || '.',
                      'city: ' || coalesce(city, '') || '.',
                      'notes: ' || coalesce(notes, '') || '.') AS text
FROM read_csv('{path}', delim=';', header=true)""".format(
            path=_fixture_csv_file()),

        # snapshot-catalog queries: the table is provisioned FROM the
        # documents table, so the oracle is plain relational algebra
        # over it — deletes are doc_id % 10 = 0, time travel reads the
        # pre-delete snapshot, compaction is value-identical to the
        # live scan
        "table_scan_deletes": """
SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 10 <> 0""",

        "table_time_travel": """
SELECT doc_id, n_chars FROM documents""",

        "table_compact_scan": """
SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 10 <> 0""",

        "table_pruned_scan": """
SELECT doc_id, lang, n_chars FROM documents
WHERE doc_id % 10 <> 0
  AND doc_id BETWEEN (SELECT max(doc_id) // 5 FROM documents)
                 AND (SELECT (max(doc_id) * 9) // 20 FROM documents)""",

        "table_ts_window": """
SELECT event_id, user_id, event_type FROM events
WHERE ts BETWEEN TIMESTAMP '2024-01-05 00:00:00'
             AND TIMESTAMP '2024-01-10 00:00:00'""",
    }
