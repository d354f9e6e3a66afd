"""Physical-plan audit: verifies the plans we claim (predicate/projection
pushdown to parquet, term_id filter pushdown on the index, broadcast joins,
whole-stage codegen) and prints the evidence. Output is committed as
PLANS.md.

    python tools/explain_audit.py [sf_dir] > PLANS.md
"""
import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def grab(text: str, *needles: str) -> list[str]:
    out = []
    for line in text.splitlines():
        if any(n in line for n in needles):
            out.append(line.rstrip())
    return out


def jobs_launched(spark, fn, name: str) -> int:
    """Spark jobs `fn()` launches: it runs in job group `name`, then one
    job in a later group is the barrier (job events reach the status
    tracker in order), awaited for up to 30 s."""
    import time
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        fn()
        sc.setJobGroup(name + "-barrier", name + "-barrier")
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(name + "-barrier"):
        if time.time() > deadline:
            raise RuntimeError(f"no barrier job seen for {name}")
        time.sleep(0.1)
    return len(tracker.getJobIdsForGroup(name))


def main(sf_dir: str):
    from pyspark.sql import functions as F
    from pears_lite_spark.index.build import (build_postings, read_index,
                                              tokenize_whitespace,
                                              write_index, write_plan)
    from pears_lite_spark.search.bm25 import bm25_topk, search_blocks
    from pears_lite_spark.session import get_spark
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    print("# PLANS — physical-plan audit (tools/explain_audit.py)\n")
    print("Checks that the optimizer actually gets what the code is "
          "shaped to give it.\n")

    # 1. scan pushdown: filter + 2-col projection must reach parquet
    q = docs.filter(F.col("lang") == "en").select("doc_id", "n_chars")
    t = explain(q)
    print("## 1. Parquet scan: predicate + projection pushdown\n")
    print("`documents.filter(lang=='en').select(doc_id, n_chars)`\n")
    print("```")
    print("\n".join(grab(t, "PushedFilters", "ReadSchema")))
    print("```")
    ok = "IsNotNull(lang)" in t and "doc_id" in t and "html" not in t
    print(f"\npushdown+pruning: {'OK' if ok else 'CHECK MANUALLY'}\n")

    # 2. BM25 exhaustive: broadcasts + codegen spans (AQE hides codegen
    # subtrees before execution, so probe with AQE off)
    toks = tokenize_whitespace(docs).select("doc_id", "tokens")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    q2 = bm25_topk(toks, ["spark", "join"], 10)
    t = explain(q2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q2.explain("codegen")
    n_wsc = buf.getvalue().count("WholeStageCodegen subtree")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    print("## 2. Exhaustive BM25: broadcast joins + whole-stage codegen\n")
    n_bcast = len(set(grab(t, "BroadcastExchange")))
    print(f"```\nBroadcastExchange nodes: {n_bcast // 2 or n_bcast} "
          f"(term df stats + corpus stats)\n"
          f"WholeStageCodegen subtrees: {n_wsc}\n"
          f"TakeOrderedAndProject: {'yes' if 'TakeOrderedAndProject' in t else 'no'}\n```\n")

    # 3. block-index scan: the term_id IN filter reaches parquet (every
    # index file is term-ordered, so row-group statistics prune on it),
    # and the plan runs the one top-k kernel (a single MapInArrow).
    # Always rebuilt: an index left by older code would audit its layout
    idx_path = "/tmp/pears_plan_idx"
    postings, stats = build_postings(toks)
    write_index(postings, idx_path, stats=stats)
    postings, stats = read_index(spark, idx_path)
    hits = search_blocks(postings, stats, [["spark", "join"]], k=10)
    t = explain(hits)
    print("## 3. Query-time index scan: term_id pushdown to parquet\n")
    scan_lines = grab(t, "PartitionFilters", "PushedFilters")
    print("```")
    print("\n".join(scan_lines[:4]))
    print("```")
    pushed = any("In(term_id," in ln for ln in grab(t, "PushedFilters"))
    no_parts = not any("PartitionFilters: [" in ln and "[]" not in ln
                       for ln in scan_lines)
    print(f"\nIn(term_id, ...) pushed, no partition filters: "
          f"{'OK' if pushed and no_parts else 'NO'}\n")
    import re
    n_arrow = len(re.findall(r"^\(\d+\) MapInArrow", t, re.M))
    n_groups = len(re.findall(r"^\(\d+\) FlatMapGroupsInPandas", t, re.M))
    print(f"```\nMapInArrow count: {n_arrow}, "
          f"FlatMapGroupsInPandas count: {n_groups}\n```\n")
    ok3 = n_arrow == 1 and n_groups == 0
    print(f"one top-k kernel (the Searcher's mapInArrow), no grouped "
          f"pandas UDF: {'OK' if ok3 else 'CHECK'}\n")

    # 4. index build, both entry points: shuffle count, what moves
    # through it, the one phase-A kernel (a single MapInPandas) and the
    # one phase-B kernel (a single MapInArrow); the fused build caches
    # nothing, since its stats ride the shuffle to phase B
    from pears_lite_spark.corpus import gen_corpus
    from pears_lite_spark.index.build import build_from_corpus
    postings_df, _ = build_postings(toks)
    corpus = spark.createDataFrame(gen_corpus(200)).select("url", "html")
    fused_df, _ = build_from_corpus(corpus)
    print("## 4. Index build: one non-broadcast exchange, bytes not rows\n")
    print("```")
    ok4 = True
    for name, df in (("build_postings", postings_df),
                     ("build_from_corpus", fused_df)):
        t = explain(df)
        n_exch = len(re.findall(r"^\(\d+\) Exchange", t, re.M))
        n_map = len(re.findall(r"^\(\d+\) MapInPandas", t, re.M))
        n_arrow = len(re.findall(r"^\(\d+\) MapInArrow", t, re.M))
        n_cache = len(re.findall(r"InMemory(Relation|TableScan)", t))
        print(f"{name}: non-broadcast Exchange count: {n_exch}, "
              f"MapInPandas count: {n_map}, MapInArrow count: {n_arrow}, "
              f"InMemoryRelation/InMemoryTableScan count: {n_cache}")
        ok4 = (ok4 and n_exch == 1 and n_map == 1 and n_arrow == 1
               and n_cache == 0)
    print("exchange payload: partial-run binary blobs and per-flush "
          "stats rows (schema p/terms/docs/tfs/dls/poss)\n```\n")
    print("The occurrence stream (35M rows / 99k docs at bench scale) "
          "never appears in the plan as rows: phase A emits partial "
          "blobs inside the tokenizing mapInPandas, so the only wide "
          "exchange moves packed bytes (see index/build.py docstring "
          "and BASELINE.md for the measured bridge economics). Both "
          "entry points run the same phase-A kernel; the fused build "
          "reads html, the tokens build reads token arrays. Each "
          "phase-A flush also sends its (n_docs, sum_dl) to every slot, "
          "so the fused build's phase-B tasks sum the corpus stats "
          "themselves: no persisted partials, no stats pass.\n")
    print(f"one exchange, one phase-A MapInPandas, one phase-B MapInArrow "
          f"and no cache per build: {'OK' if ok4 else 'CHECK'}\n")

    # 5. replica serving: a 60-query call scores on the driver replica
    # and launches no Spark job
    from pears_lite_spark.search.bm25 import Searcher
    s = Searcher(postings, stats)
    words = ["spark", "join", "index", "query", "plan", "data", "search",
             "table", "stream", "engine"]
    queries = [[a, b] for a in words for b in words[:6]]
    n_jobs = jobs_launched(spark, lambda: s.search(queries, k=10),
                           "audit-replica")
    r = s.flat
    per_posting = (r.ords.nbytes + r.contrib.nbytes) / max(1, r.ords.size)
    print("## 5. Replica serving: no Spark job for any query count\n")
    print("```")
    print(f"driver replica: {r.ords.size} postings, "
          f"{sum(a.nbytes for a in r) / 2**20:.2f} MB, "
          f"{per_posting:.1f} B/posting (+ per-term offsets, "
          f"ordinal -> doc_id)")
    print(f"Spark jobs for one {len(queries)}-query call: {n_jobs}")
    print("```")
    ok5 = n_jobs == 0 and per_posting <= 12
    print(f"\nevery query scores on the driver replica, zero jobs per "
          f"call, at most 12 B per posting: {'OK' if ok5 else 'NO'}\n")
    s.close()

    # 6. write_index: no exchange above phase B, so phase B and the
    # write share one stage and each phase-B task writes one file, and
    # every column chunk it writes is zstd-compressed
    t = write_plan(postings_df)._jdf.queryExecution().executedPlan() \
        .toString()
    above_b = t.split("MapInArrow")[0]
    print("## 6. Index write: no exchange above the phase-B MapInArrow\n")
    print("```")
    print("\n".join(ln.rstrip()[:110] for ln in above_b.splitlines()))
    w_path = "/tmp/pears_plan_write"
    write_index(postings_df, w_path)
    n_tasks = postings_df.rdd.getNumPartitions()
    import pyarrow.parquet as pq
    mds = [pq.read_metadata(os.path.join(w_path, f))
           for f in os.listdir(w_path) if f.endswith(".parquet")]
    codecs = sorted({md.row_group(g).column(c).compression for md in mds
                     for g in range(md.num_row_groups)
                     for c in range(md.num_columns)})
    print(f"phase-B tasks: {n_tasks}, index files: {len(mds)}")
    print(f"column-chunk codecs: {', '.join(codecs)}")
    print("```")
    okw = ("MapInArrow" in t and "Exchange" not in above_b
           and 0 < len(mds) <= n_tasks and codecs == ["ZSTD"])
    print(f"\nphase B and the write share one stage, one file per "
          f"phase-B task, every column chunk ZSTD: "
          f"{'OK' if okw else 'CHECK'}\n")

    # 7. lang_id: zero exchanges (per-row column algebra)
    from pears_lite_spark.functions.textstats import lang_id
    t = lang_id(docs)._jdf.queryExecution().executedPlan().toString()
    print("## 7. lang_id: zero exchanges\n")
    print("```")
    print(f"Exchange nodes: {t.count('Exchange')}")
    print("```\n")

    # 8. materialized ANN probe: partition pruning on ivf_cell
    from pears_lite_spark.ann import ivf_topk_indexed, write_ann_index
    ann_path = "/tmp/pears_plan_ann2"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # always rebuild: a stale cached index (old format / regenerated
    # testdata) would audit the wrong artifact
    write_ann_index(emb, ann_path)
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    t = (ivf_topk_indexed(spark, ann_path, qv, k=10, nprobe=4)
         ._jdf.queryExecution().executedPlan().toString())
    print("## 8. Materialized ANN probe: partition pruning on ivf_cell\n")
    import re as _re
    pf = _re.search(r"PartitionFilters: \[[^\]]*\]", t)
    print("```")
    print(pf.group(0) if pf else "(no PartitionFilters found)")
    print("```")
    ok8 = "ivf_cell" in t and "PartitionFilters" in t
    print(f"\nprobe scan prunes to nprobe cells (reads nprobe/n_cells "
          f"of the table, not all of it): {'OK' if ok8 else 'NO'}\n")

    # 9. minhash signatures: aggregate over shingle rows, no 16x explode
    from pears_lite_spark.dedup import minhash_signatures
    t = (minhash_signatures(docs.limit(500))
         ._jdf.queryExecution().executedPlan().toString())
    n_gen = sum(1 for ln in t.splitlines() if "Generate explode" in ln)
    print("## 9. MinHash signatures: map-side partial aggregate, "
          "no num_hashes x row explode\n")
    print("```")
    print(f"Generate(explode) nodes: {n_gen} "
          f"(1 = the shingle explode only; the 16 hash slots are "
          f"min() aggregate expressions)")
    print(f"Exchange nodes: {t.count('Exchange')}")
    print("```\n")

    # 10. IVF-PQ probe: LUT scoring entirely JVM-side (no Python eval)
    from pears_lite_spark.ann import ivf_pq_topk_indexed
    t = (ivf_pq_topk_indexed(spark, ann_path, qv, k=10, nprobe=4,
                             refine=100)
         ._jdf.queryExecution().executedPlan().toString())
    pf = _re.search(r"PartitionFilters: \[[^\]]*\]", t)
    print("## 10. IVF-PQ probe: stored codes, JVM-only LUT scoring\n")
    print("```")
    print(pf.group(0) if pf else "(no PartitionFilters found)")
    n_py = t.count("EvalPython")  # Batch/ArrowEvalPython nodes
    print(f"Python-eval nodes in the probe plan: {n_py}")
    print("```")
    print(f"\nLUT-sum over stored pq_codes runs in column algebra "
          f"(no Python worker): {'OK' if n_py == 0 else 'NO'}\n")

    # 11. token_budget: two-phase cumsum — the only full-data exchange
    # keys (source, id-range bucket); offsets arrive by broadcast
    from pears_lite_spark.functions.sampling import token_budget_take
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    t = (token_budget_take(docs, budget=600)
         ._jdf.queryExecution().executedPlan().toString())
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    exch = [ln.strip() for ln in t.splitlines()
            if "Exchange hashpartitioning" in ln]
    data_exch = [ln for ln in exch if "_tb_bucket" in ln]
    print("## 11. token_budget: per-source cumsum split across "
          "id-range buckets\n")
    print("```")
    for ln in exch:
        print(ln[:110])
    print(f"BroadcastHashJoin for per-bucket offsets: "
          f"{'yes' if 'BroadcastHashJoin' in t else 'no'}")
    print("```\n")
    ok11 = len(data_exch) >= 1 and "BroadcastHashJoin" in t
    print(f"Full corpus rows shuffle ONCE on (source, _tb_bucket) — "
          f"per-source work splits across buckets instead of one task "
          f"per source; the remaining exchanges carry only the "
          f"~buckets x sources offset rows (then broadcast back): "
          f"{'OK' if ok11 else 'NO'}\n")

    # 12. CC/PageRank hot-key guard: star-graph join key includes _salt
    from pears_lite_spark.dedup import (prepare_salted_edges,
                                        replicate_salted)
    star = spark.range(1, 50_001).selectExpr("0L as src", "id as dst")
    und = star.unionByName(star.selectExpr("dst as src", "src as dst"))
    salted, hot, n_hot = prepare_salted_edges(und, num_salts=8,
                                              hot_threshold=1_000)
    n_salts = salted.filter("src = 0").select("_salt").distinct().count()
    labels = und.select(F.col("src").alias("node")).distinct() \
        .withColumn("label", F.col("node"))
    lab_s = replicate_salted(labels, "node", hot, n_hot, 8)
    j = salted.join(lab_s, (salted["src"] == lab_s["node"])
                    & (salted["_salt"] == lab_s["_salt"]))
    t = j._jdf.queryExecution().optimizedPlan().toString()
    keyline = [ln.strip() for ln in t.splitlines() if "Join" in ln][:1]
    print("## 12. Iterative graph ops: celebrity-node salting\n")
    print("```")
    print(f"hot nodes detected (star hub, 100k edges): {n_hot}")
    print(f"distinct salts on the hub's edge rows: {n_salts}")
    for ln in keyline:
        print(ln[:110])
    print("```\n")
    ok12 = n_hot == 1 and n_salts == 8
    print(f"Hub adjacency splits {n_salts} ways in the per-iteration "
          f"join (salt in the join key; label rows replicated per "
          f"salt): {'OK' if ok12 else 'NO'}\n")
    print("## 13. line_dedup: md5-keyed exchanges, map-side distinct, "
          "no line text in the df shuffle\n")
    from pears_lite_spark.dedup import line_dedup
    lined = docs.withColumn(
        "text", F.regexp_replace("text", r"((\S+\s+){9}\S+)\s", "$1\n"))
    t = explain(line_dedup(lined, min_doc_freq=5))
    exch = [ln.strip()[:110] for ln in t.splitlines()
            if "Exchange" in ln and "Reused" not in ln]
    partial_distinct = "partial_count(distinct" in t
    reused = t.count("ReusedExchange")
    print("```")
    for ln in exch:
        print(ln)
    print(f"map-side partial distinct df aggregate: {partial_distinct}")
    print(f"ReusedExchange nodes: {reused}")
    print("```\n")
    ok13 = partial_distinct and all("hashpartitioning" in e or
                                    "SinglePartition" not in e for e in exch)
    print(f"df aggregate combines map-side; every wide exchange is "
          f"hash-keyed (md5 line key / doc_id), none single-partition: "
          f"{'OK' if ok13 else 'NO'}\n")

    print("## 14. anchor_text_rollup: celebrity targets collapse "
          "map-side before the top-k window\n")
    from pears_lite_spark.sources import anchor_text_rollup
    anchors = spark.createDataFrame(
        [(f"https://p{i}.example/", "https://hub.example/",
          f"anchor {i % 40}") for i in range(2000)],
        "url string, link string, anchor string")
    t = explain(anchor_text_rollup(anchors))
    pre = [ln.strip()[:110] for ln in t.splitlines()
           if ln.strip().startswith("Functions") and "partial_" in ln]
    exch14 = [ln.strip()[:110] for ln in t.splitlines()
              if "hashpartitioning" in ln]
    n_exch = sum(1 for ln in t.splitlines()
                 if ln.strip().startswith("(") and ") Exchange" in ln)
    print("```")
    for ln in pre + exch14:
        print(ln)
    print(f"Exchange nodes: {n_exch} "
          f"(the final link rollup reuses the window's partitioning)")
    print("```\n")
    ok14 = "partial_count(1)" in t and n_exch == 2
    print(f"(link, anchor) pre-aggregate is partial before any "
          f"exchange — a hub target linked from every page reduces to "
          f"its distinct anchor strings per map task — and the top-k "
          f"window + final rollup share one link-keyed exchange: "
          f"{'OK' if ok14 else 'NO'}\n")
    print("## 15. pack_sequences: global cumsum splits across id-range "
          "buckets\n")
    from pears_lite_spark.functions.sampling import pack_sequences
    t = explain(pack_sequences(docs, seq_len=2048))
    parts = [ln.strip()[:110] for ln in t.splitlines()
             if "hashpartitioning(_tb_bucket" in ln]
    single = [ln.strip()[:110] for ln in t.splitlines()
              if "SinglePartition" in ln]
    print("```")
    for ln in parts[:2]:
        print(ln)
    print(f"SinglePartition exchanges: {len(single)} "
          f"(only the <= num_buckets offset rows, never data rows)")
    print("```\n")
    ok15 = bool(parts)
    print(f"Full corpus rows shuffle on the id-range bucket — the "
          f"global token cumsum parallelizes O(num_buckets) instead of "
          f"one task, and the offsets branch touches only per-bucket "
          f"totals: {'OK' if ok15 else 'NO'}\n")

    # 19. the build shuffle: each partial row's merge slot is its
    # partition id, so slot k's rows are phase-B partition k's
    from pears_lite_spark.index import build as build_mod, checkpoint
    from pears_lite_spark.index.checkpoint import compact_index
    phase_b, seen = build_mod._phase_b, []

    def capture(partials, *args, **kw):
        seen.append(partials)
        return phase_b(partials, *args, **kw)

    build_mod._phase_b = checkpoint._phase_b = capture
    try:
        builds = {"build_postings": build_postings(toks)[0],
                  "build_from_corpus": build_from_corpus(corpus)[0],
                  "compact_index": compact_index(*read_index(spark,
                                                             idx_path))}
    finally:
        build_mod._phase_b = checkpoint._phase_b = phase_b
    print("## 19. Build shuffle: the merge slot is the partition id\n")
    print("```")
    ok19 = True
    for (name, df), partials in zip(builds.items(), seen):
        plan = df._jdf.queryExecution().executedPlan().toString()
        exch = [re.sub(r"#\d+|, \[plan_id=\d+\]", "", ln.split("+- ")[-1])
                for ln in plan.splitlines()
                if re.search(r"(^|\+- )Exchange ", ln.strip())]
        m = re.search(r"direct_shuffle_partition_id\(p\), (\d+)\)",
                      "".join(exch))
        n = int(m.group(1)) if m else 0
        rows = (partials.repartitionById(max(n, 1), "p")
                .groupBy((F.spark_partition_id() == F.col("p")).alias("at_p"))
                .agg(F.count("*").alias("rows"),
                     F.countDistinct("p").alias("slots")).collect())
        at_p = {r["at_p"]: (r["rows"], r["slots"]) for r in rows}
        (home, slots), (away, _) = at_p.get(True, (0, 0)), at_p.get(False,
                                                                  (0, 0))
        print(f"{name}: {'; '.join(exch)}")
        print(f"  partial rows in partition p: {home} over {slots} slots, "
              f"elsewhere: {away}")
        ok19 = (ok19 and len(exch) == 1 and n > 0 and home > 0 and away == 0
                and "shufflepartitionidpassthrough" in exch[0])
    print("```\n")
    print(f"each build's one non-broadcast exchange is a "
          f"`repartitionById` on the slot (shufflepartitionidpassthrough), "
          f"and every partial row of slot k sits in partition k: "
          f"{'OK' if ok19 else 'NO'}\n")

    # 21. resumable build + compaction: one commit per part whose
    # manifest comes from the part's files, stats refreshed from the
    # manifests with no job, and blocks that decode into runs the
    # build's phase B merges (one exchange, no grouped pandas UDF)
    import shutil
    from pears_lite_spark.index.checkpoint import (build_resumable,
                                                   compact_index, manifests,
                                                   read_resumable,
                                                   refresh_stats)
    res_path = "/tmp/pears_plan_resumable"
    shutil.rmtree(res_path, ignore_errors=True)
    build_resumable(toks, res_path, n_parts=2)
    ms = manifests(res_path)
    n_refresh = jobs_launched(spark, lambda: refresh_stats(res_path),
                              "audit-refresh")
    t = explain(compact_index(*read_resumable(spark, res_path)))
    n_exch = len(re.findall(r"^\(\d+\) Exchange", t, re.M))
    n_arrow = len(re.findall(r"^\(\d+\) MapInArrow", t, re.M))
    n_groups = len(re.findall(r"^\(\d+\) FlatMapGroupsInPandas", t, re.M))
    print("## 21. Resumable build and compaction: manifests from the "
          "part files, the build's phase B, one exchange\n")
    print("```")
    print(f"manifest keys: {', '.join(sorted(ms[0]))}")
    for m in ms:
        print(f"part {m['partition']}: {m['n_docs']} docs, "
              f"{m['n_blocks']} blocks, {m['n_postings']} postings, "
              f"{m['payload_bytes']} payload bytes, {len(m['files'])} files")
    print(f"Spark jobs for refresh_stats: {n_refresh}")
    print(f"non-broadcast Exchange count: {n_exch}, MapInArrow count: "
          f"{n_arrow}, FlatMapGroupsInPandas count: {n_groups}\n```\n")
    ok21 = n_exch == 1 and n_groups == 0 and n_refresh == 0
    print(f"each part's manifest counts come from its committed Parquet "
          f"files, refresh_stats sums the manifests with no Spark job, "
          f"and compact_index decodes blocks into posting runs (one "
          f"mapInArrow) and merges them in the build's phase B, with no "
          f"grouped pandas UDF: {'OK' if ok21 else 'CHECK'}\n")

    # 22. phrase scoring: the shape of search_blocks (§3) over the same
    # index, its term_id IN filter pushed and one mapInArrow kernel
    from pears_lite_spark.search.phrase import phrase_scores_from_index
    t = explain(phrase_scores_from_index(read_index(spark, idx_path)[0],
                                         ["spark", "join"]))
    pushed = [ln for ln in grab(t, "PushedFilters") if "In(term_id," in ln]
    n_arrow = len(re.findall(r"^\(\d+\) MapInArrow", t, re.M))
    n_groups = len(re.findall(r"^\(\d+\) FlatMapGroupsInPandas", t, re.M))
    print("## 22. Phrase scoring: pruned index scan, one mapInArrow "
          "kernel\n")
    print("```")
    print("\n".join(pushed[:1]))
    print(f"MapInArrow count: {n_arrow}, FlatMapGroupsInPandas count: "
          f"{n_groups}\n```\n")
    ok22 = bool(pushed) and n_arrow == 1 and n_groups == 0
    print(f"`phrase_scores_from_index` reads the index as `search_blocks` "
          f"does: In(term_id, ...) reaches Parquet, and one mapInArrow "
          f"kernel decodes each batch with `codec.decode_blocks` and "
          f"scores every candidate doc at once, with no grouped pandas "
          f"UDF: {'OK' if ok22 else 'CHECK'}\n")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01")
