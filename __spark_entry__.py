"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship pipeline (whitespace tokenize ->
block-compressed inverted index -> block-index BM25 top-10 -> doc
metadata join) on sf0.001. `queries()` / `oracle_sql()` expose the
operator inventory (SURVEY.md §2 + training-data ops) with DuckDB
oracles; implementations live in pears_lite_spark.contract.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from pears_lite_spark.contract import BM25_QUERY, _docs, _index_for
    from pears_lite_spark.search.bm25 import search_blocks

    sf_dir = "/root/testdata/sf0.001"
    postings, stats = _index_for(spark, sf_dir)
    hits = search_blocks(postings, stats, [BM25_QUERY], k=10)
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "source")
    return (hits.join(F.broadcast(docs), "doc_id")
            .select("doc_id", "score", "rank", "lang", "source")
            .orderBy("rank"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from pears_lite_spark import contract
    return contract.queries()


def oracle_sql() -> dict[str, str]:
    from pears_lite_spark import contract
    return contract.oracle_sql()
