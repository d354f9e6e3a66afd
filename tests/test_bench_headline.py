"""bench.py's headline line: parseable from the tail of stdout and under
1 KB however long the legs' per-build and per-query arrays grow (no
Spark, no JVM: `headline` is a pure function of the two leg dicts)."""

import json
import statistics

import bench


def _leg(cores, walls, **serve):
    return {"cores": cores, "n_docs": 99_000, "build_s": walls,
            "failures": [], **serve}


def test_headline_is_short_parseable_and_uses_medians():
    lo_walls = [76.6 + 0.37 * i for i in range(501)]
    hi_walls = [25.7 - 0.011 * i for i in range(500)]
    single = [0.0026 + 1e-6 * (i % 97) for i in range(5000)]
    lo = _leg(1, lo_walls)
    hi = _leg(4, hi_walls, batch_s=0.11, single_s=single, closed_qps=663.0,
              closed_latency_s=single * 3,
              failures=[f"query {i}: rank 3" for i in range(300)])
    line = bench.headline(lo, hi)
    out = json.loads(line[-2000:])
    assert len(line.encode()) < 1000
    for key in ("metric", "unit", "value", "queries", "correct",
                "bench_corpus_docs", "index_docs_per_sec", "bm25_p50_ms",
                "bm25_concurrent_qps", "scaling", "sidecar"):
        assert key in out
    assert set(out["queries"]) == {"index_build", "index_build_1core",
                                   "index_build_4core", "bm25_batch_60q",
                                   "bm25_single_p50"}
    assert out["value"] == round(sum(out["queries"].values()), 3)
    assert out["correct"] is False

    thr_lo = 99_000 / statistics.median(lo_walls)
    thr_hi = 99_000 / statistics.median(hi_walls)
    sc = out["scaling"]
    assert (sc["cores_low"], sc["cores_high"]) == (1, 4)
    assert sc["throughput_low"] == round(thr_lo, 1)
    assert sc["throughput_high"] == out["index_docs_per_sec"] == round(thr_hi, 1)
    assert sc["efficiency"] == round(thr_hi / (4 * thr_lo), 3)
    assert out["bm25_p50_ms"] == round(statistics.median(single) * 1000, 2)

    hi["failures"] = []
    assert json.loads(bench.headline(lo, hi))["correct"] is True
