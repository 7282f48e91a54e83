"""curator_spark — a from-scratch PySpark-native web-text quality-filter engine.

Re-expresses the computational semantics of zaidalyafeai/curator (studied
read-only at /root/reference; see SURVEY.md) as a declarative Spark DataFrame
pipeline: deterministic per-row map -> score -> verdict, exact resume,
lineage/metrics, fingerprinted caching. No code is ported from the reference;
citations in docstrings are behavioral parity pointers only.

Layout
------
- ``session``    : SparkSession factory (Arrow + AQE on).
- ``rules``      : pure per-row functions (extract / scrub / langid / census)
                   shared by the Spark UDF stages and the single-node oracle
                   so golden-fixture agreement is structural.
- ``lm``         : deterministic char-trigram language model (perplexity).
- ``datagen``    : seeded Common-Crawl-style ``pages`` table generator.
- ``oracle``     : single-node pandas oracle producing golden labels.
- ``operators/`` : Spark stages — ``udf_stages`` (fused Arrow-batched
                   extract/langid/perplexity/scrub), ``heuristics`` +
                   ``verdict`` (native codegen), ``dedup`` (exact /
                   MinHash-LSH / SimHash / Jaccard / embedding),
                   ``similarity`` (brute + sign-LSH ANN), ``textanalysis``,
                   ``classifier`` (train/apply), ``multimodal`` (binary
                   media plumbing, stubbed decode).
- ``plans/``     : pipeline assembly + lifecycle runner (fingerprint, cache
                   probe, single-pass chunked staged commits, resume,
                   incremental runs via ``prior=``, metrics).
- ``streaming/`` : Structured Streaming ingest (watermark windows, stream
                   dedup, foreachBatch filter) + stateful sessionization.
- ``sources/``   : parquet table loaders and the JSONL line-record reader.
- ``queries``    : the named query registry with DuckDB oracle twins
                   (exposed to the verification driver via
                   ``__spark_entry__``).
- ``zipgate``    : stat-gated ``zipimporter.invalidate_caches``, installed
                   here because this is the first module every UDF imports
                   in a Python worker.
"""

from curator_spark import zipgate as _zipgate

__version__ = "0.1.0"

_zipgate.install()
