"""Reference-parity operators, re-expressed as DataFrame algebra.

Each operator freezes the semantics of a PeARS-lite code path (SURVEY.md
§2 inventory, citations inline) but is implemented Spark-first: joins +
aggregates + window functions instead of dict/matrix loops. All are
SQL-expressible (DuckDB-oracle-checked by the driver) except the
positional phrase scorer, which matches the reference's subword
adjacency algorithm and is covered by pytest.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window, functions as F

# --------------------------------------------------------------- P1: parse

_LANG_RE = re.compile(r"(.*)\s-(\w+)\s*$")


def parse_query(q: str) -> tuple[str, str | None, str | None]:
    """(clean_query, doctype, lang) — semantics of
    `/root/reference/app/utils.py:260-281`: trailing '-xx' selects a
    language; a '?word' token sets doctype='ind'; '!word' filters by
    doctype word; any '/' in the query sets doctype='doc'."""
    doctype = None
    lang = None
    m = _LANG_RE.match(q)
    if m:
        q, lang = m.group(1), m.group(2)
    words = []
    for w in q.split():
        if w.startswith("?"):
            doctype = "ind"
            words.append(w[1:])
        elif w.startswith("!"):
            doctype = w[1:]
        else:
            words.append(w)
    if "/" in q:
        doctype = "doc"
    return " ".join(words), doctype, lang


def parse_query_df(queries_df: DataFrame,
                   q_col: str = "q") -> DataFrame:
    """P1 as column algebra (same semantics as `parse_query`, so the
    operator also runs distributed over a table of queries and is
    SQL-expressible for the oracle). Missing doctype/lang -> ''."""
    q = F.col(q_col)
    has_lang = q.rlike(r"\s-\w+\s*$")
    lang = F.when(has_lang, F.regexp_extract(q, r"\s-(\w+)\s*$", 1)) \
            .otherwise(F.lit(""))
    body = F.when(has_lang, F.regexp_extract(q, r"(.*)\s-\w+\s*$", 1)) \
            .otherwise(q)
    words = F.filter(F.split(body, r"\s+"), lambda x: x != "")
    kept = F.transform(
        F.filter(words, lambda x: ~x.startswith("!")),
        lambda x: F.when(x.startswith("?"), F.substring(x, 2, 1 << 20))
                   .otherwise(x))
    markers = F.filter(words,
                       lambda x: x.startswith("?") | x.startswith("!"))
    last = F.try_element_at(markers, F.lit(-1))
    doctype = (F.when(body.contains("/"), F.lit("doc"))
               .when(F.size(markers) == 0, F.lit(""))
               .when(last.startswith("?"), F.lit("ind"))
               .otherwise(F.substring(last, 2, 1 << 20)))
    return queries_df.select(
        q.alias("q"),
        F.array_join(kept, " ").alias("clean"),
        doctype.alias("doctype"),
        lang.alias("lang"))


# --------------------------------------------------- J1: conjunctive AND

def conjunctive_and(tokens_df: DataFrame, query_terms: list[str]) -> DataFrame:
    """doc_ids containing ALL query terms — the posting-intersection of
    `/root/reference/app/search/overlap_calculation.py:133-137`,
    expressed as one aggregate with a distinct-term count instead of a
    multi-way set intersection."""
    qterms = sorted(set(query_terms))
    tok = tokens_df.select("doc_id", F.explode("tokens").alias("term"))
    return (tok.filter(F.col("term").isin(qterms))
            .groupBy("doc_id")
            .agg(F.countDistinct("term").alias("n_matched"))
            .filter(F.col("n_matched") == len(qterms))
            .select("doc_id"))


# ----------------------------------------------------- C2: completeness

def completeness(tokens_df: DataFrame, query_terms: list[str]) -> DataFrame:
    """Fraction of (distinct) query terms present in each doc —
    `overlap_calculation.py:50-63` (1 - hamming over binarized dims).
    Returns (doc_id, completeness) for docs matching >= 1 term."""
    qterms = sorted(set(query_terms))
    tok = tokens_df.select("doc_id", F.explode("tokens").alias("term"))
    return (tok.filter(F.col("term").isin(qterms))
            .groupBy("doc_id")
            .agg((F.countDistinct("term") / F.lit(float(len(qterms))))
                 .alias("completeness")))


# -------------------------------------------------- C3: snippet overlap

def snippet_overlap(docs_df: DataFrame, query: str,
                    snippet_col: str = "text",
                    snippet_len: int = 300) -> DataFrame:
    """`generic_overlap` (`overlap_calculation.py:31-40`): lowercase,
    strip punctuation, |q ∩ s| / |q| over word SETS; snippet = first
    `snippet_len` chars of the doc (htmlparser.py:109 rule)."""
    qwords = sorted({w for w in re.sub(r"[^\w\s]", "", query.lower()).split()})
    snip = F.substring(F.col(snippet_col), 1, snippet_len)
    swords = F.array_distinct(F.filter(
        F.split(F.regexp_replace(F.lower(snip), r"[^\w\s]", ""), r"\s+"),
        lambda x: x != ""))
    qarr = F.array(*[F.lit(w) for w in qwords]) if qwords else F.array().cast("array<string>")
    return docs_df.select(
        "doc_id",
        (F.size(F.array_intersect(swords, qarr)) / F.lit(float(max(len(qwords), 1))))
        .alias("overlap"))


# ------------------------------------------- C5: jaccard / dice set ops

def jaccard_dice(tokens_a: DataFrame, tokens_b: DataFrame,
                 max_side: int = 10_000) -> DataFrame:
    """Pairwise jaccard & dice of token SETS between two doc collections
    (`overlap_calculation.py:12-20`). Expects (doc_id, tokens).

    PARITY SCOPE ONLY — this is an unguarded crossJoin matching the
    reference's single-vector comparison; it must never serve
    corpus-scale pair generation (use `dedup.jaccard_pairs`, the
    df-capped shingle-join twin). Guarded: raises if either side
    exceeds `max_side` rows so a misuse fails loudly instead of
    launching an O(n*m) join."""
    for name, side in (("tokens_a", tokens_a), ("tokens_b", tokens_b)):
        n = side.limit(max_side + 1).count()
        if n > max_side:
            raise ValueError(
                f"jaccard_dice: {name} has > {max_side} rows — this "
                "crossJoin parity helper is not the corpus-scale path; "
                "use dedup.jaccard_pairs instead")
    a = tokens_a.select(F.col("doc_id").alias("doc_a"),
                        F.array_distinct("tokens").alias("set_a"))
    b = tokens_b.select(F.col("doc_id").alias("doc_b"),
                        F.array_distinct("tokens").alias("set_b"))
    inter = F.size(F.array_intersect("set_a", "set_b")).cast("double")
    return (a.crossJoin(b)
            .select("doc_a", "doc_b",
                    (inter / F.size(F.array_union("set_a", "set_b"))).alias("jaccard"),
                    (2 * inter / (F.size("set_a") + F.size("set_b"))).alias("dice")))


def url_dice_overlap(docs_df: DataFrame, query: str,
                     url_col: str = "url") -> DataFrame:
    """C4 `score_url_overlap` (`overlap_calculation.py:22-29`): dice
    coefficient of CHARACTER sets — lowercased query vs the last path
    segment of the url (trailing '/' stripped). Pure column algebra."""
    qchars = sorted(set(query.lower()))
    qarr = F.array(*[F.lit(c) for c in qchars])
    seg = F.lower(F.substring_index(
        F.regexp_replace(F.col(url_col), r"/+$", ""), "/", -1))
    schars = F.array_distinct(F.regexp_extract_all(seg, F.lit("(.)"), 1))
    inter = F.size(F.array_intersect(schars, qarr)).cast("double")
    return docs_df.select(
        "doc_id",
        (2 * inter / (F.size(schars) + F.lit(len(qchars)))).alias("dice"))


# ------------------------------------------------- C6: phrase adjacency

def group_subwords(pieces: list[str]) -> list[list[str]]:
    """Group SentencePiece pieces into words: a piece starting with '▁'
    begins a new word (`overlap_calculation.py:144-148`)."""
    words: list[list[str]] = []
    for p in pieces:
        if p.startswith("▁") or not words:
            words.append([p])
        else:
            words[-1].append(p)
    return words


def phrase_adjacency_score(query_words: list[list[str]],
                           positions: dict[str, list[int]]) -> float:
    """Reference `posix_score_seq` semantics
    (`overlap_calculation.py:65-122`, adjacency test at 92-101): for each
    query word (list of subword pieces), the word matches a doc iff all
    its pieces occur at CONSECUTIVE positions (distance 1); score = mean
    over query words of matched(1.0)/not(0.0)."""
    if not query_words:
        return 0.0
    matched = 0
    for pieces in query_words:
        pls = [positions.get(p) for p in pieces]
        if any(pl is None or len(pl) == 0 for pl in pls):
            continue
        starts = set(pls[0])
        ok = True
        for nxt in pls[1:]:
            starts = {s + 1 for s in starts} & set(nxt)
            if not starts:
                ok = False
                break
        if ok:
            matched += 1
    return matched / len(query_words)


def phrase_match(tokens_df: DataFrame, phrase_terms: list[str]) -> DataFrame:
    """doc_ids where `phrase_terms` occur at consecutive positions —
    the whole-word adjacency core of C6 as a positional self-join
    (posexplode + (doc, pos+i) equi-joins), fully SQL-expressible."""
    tok = tokens_df.select("doc_id",
                           F.posexplode("tokens").alias("pos", "term"))
    out = None
    for i, t in enumerate(phrase_terms):
        cur = (tok.filter(F.col("term") == t)
               .select("doc_id", (F.col("pos") - i).alias("start")))
        out = cur if out is None else out.join(cur, ["doc_id", "start"])
    return out.select("doc_id").distinct()


# ------------------------------------- T3/T4/T5: weight / WTA / L2-norm

def logprob_weight(tf_df: DataFrame, weights_df: DataFrame,
                   power: int = 5) -> DataFrame:
    """counts * logprob**power (power=5 hardcoded at the reference call
    sites — `mk_page_vector.py:30,111`); weights joined by broadcast."""
    return (tf_df.join(F.broadcast(weights_df), "term")
            .withColumn("w", F.col("tf") * F.pow(F.col("logprob"), power)))


def wta_topk(weighted_df: DataFrame, k: int,
              weight_col: str = "w") -> DataFrame:
    """Winner-take-all: keep each doc's top-k weighted terms
    (`vectorizer.py:29-43`) as a rank window instead of argpartition."""
    w = Window.partitionBy("doc_id").orderBy(F.desc(weight_col), F.asc("term"))
    return (weighted_df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k).drop("rn"))


def l2_normalize(weighted_df: DataFrame, weight_col: str = "w") -> DataFrame:
    """Per-doc L2 normalization (`vectorizer.py:73-76`) via a window
    sum-of-squares — no matrix materialization."""
    w = Window.partitionBy("doc_id")
    norm = F.sqrt(F.sum(F.col(weight_col) ** 2).over(w))
    return weighted_df.withColumn(weight_col, F.col(weight_col) / norm)


# ------------------------------------------------ C1: cosine query x docs

def cosine_scores(tokens_df: DataFrame, query_terms: list[str]) -> DataFrame:
    """Cosine of query tf-vector vs doc tf-vectors over the shared term
    space — the reference's dense `1 - cdist(..., 'cosine')`
    (`score_pages.py:53`) as a sparse join-aggregate: for L2-normalized
    sides, cosine == dot product (SURVEY §2.6 C1)."""
    from collections import Counter
    qc = Counter(query_terms)
    qn = sum(v * v for v in qc.values()) ** 0.5
    spark = tokens_df.sparkSession
    qdf = spark.createDataFrame(
        [(t, c / qn) for t, c in sorted(qc.items())], "term string, qw double")
    tok = tokens_df.select("doc_id", F.explode("tokens").alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dnorm = (tf.groupBy("doc_id")
             .agg(F.sqrt(F.sum(F.col("tf") ** 2)).alias("dn")))
    return (tf.join(F.broadcast(qdf), "term")
            .groupBy("doc_id").agg(F.sum(F.col("tf") * F.col("qw")).alias("dot"))
            .join(dnorm, "doc_id")
            .select("doc_id", (F.col("dot") / F.col("dn")).alias("cosine")))


# ------------------------------------------------- K2: pod pruning

def pod_prune(pod_scores: DataFrame, max_pods: int = 3,
              min_score: float = 0.01) -> DataFrame:
    """Top-3-pods-or-all rule (`score_pages.py:81-93`): if the best pod
    score < min_score, keep ALL pods, else the top `max_pods`.

    Pod cardinality is a user's subscription list (bounded small), so
    the rank is a DELIBERATE single-task sort; the constant partition
    key states that in the plan instead of looking like a forgotten
    partitionBy."""
    w = Window.partitionBy(F.lit(0)).orderBy(F.desc("score"), F.asc("pod"))
    ranked = pod_scores.withColumn("rn", F.row_number().over(w))
    best = ranked.agg(F.max("score").alias("mx"))
    return (ranked.crossJoin(F.broadcast(best))
            .filter((F.col("mx") < min_score) | (F.col("rn") <= max_pods))
            .drop("rn", "mx"))


def min_window_spans(tokens_df: DataFrame,
                     query_terms: list[str]) -> DataFrame:
    """Minimum proximity window (Clarke et al.'s cover semantics): per
    doc containing ALL query terms, the length of the smallest token
    span covering every distinct term. The classic proximity ranking
    feature the reference's adjacency score (C6) is a special case of.

    Shape: filter-early posexplode (only query-term occurrences
    shuffle), then, per occurrence, each term's last position at or
    before it (one running window per term over the doc's occurrences
    in position order). The smallest cover ending at an occurrence
    starts at the least of those; a doc's answer is the minimum over
    its occurrences where every term has been seen. Column algebra
    only, no Python; the driver's oracle instead uses an O(occ^3)
    pair-join SQL formulation, a structurally different algorithm
    arriving at the same answer."""
    need = sorted(set(query_terms))
    occ = (tokens_df.select("doc_id",
                            F.posexplode("tokens").alias("pos", "term"))
           .filter(F.col("term").isin(need)))
    w = (Window.partitionBy("doc_id").orderBy("pos")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    seen = [f"last_{i}" for i in range(len(need))]
    last = [F.last(F.when(F.col("term") == t, F.col("pos")), True).over(w)
            .alias(c) for t, c in zip(need, seen)]
    return (occ.select("doc_id", "pos", *last).dropna(subset=seen)
            .groupBy("doc_id")
            .agg(F.min(F.col("pos") - F.array_min(F.array(*seen)) + 1)
                 .alias("min_window")))
