"""pears_lite_spark — a PySpark-native full-text index + BM25 search engine.

A from-scratch, Spark-first engine with the query/data-processing
capabilities of PeARSearch/PeARS-lite (reference surveyed in SURVEY.md):
crawl-corpus ingest -> HTML text extraction -> tokenization -> inverted
index (delta+varint block-compressed posting lists with block-max
metadata) -> BM25 top-k with block-max pruning, plus the reference's
parity operators (conjunctive AND, completeness, snippet overlap,
positional phrase scoring) and large-scale training-data pipeline ops
(dedup, similarity search, text analysis, multimodal plumbing).

Everything is DataFrame-declarative + Arrow-vectorized UDFs; no per-row
Python in any hot path.
"""

__version__ = "0.1.0"

# a Python worker imports the package when it unpickles an engine
# kernel, so its later tasks skip the per-task zip rescans
from .session import skip_unchanged_zip_rescans

skip_unchanged_zip_rescans()
