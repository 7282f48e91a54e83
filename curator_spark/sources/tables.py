"""Table loaders for the driver testdata and the derived pages table.

Reference analog: dataset ingest S1/S2/S3 (SURVEY.md §2.1) — iterable/HF/
FineWeb loads collapse to ``spark.read.parquet`` with Catalyst handling
column pruning and predicate pushdown at the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import datagen


def load_pages(
    spark: SparkSession, sf_dir: str, replication: int = 1, cache_root: str | None = None
) -> DataFrame:
    """Deterministic pages table derived from documents.parquet (datagen)."""
    path = datagen.pages_path_for(sf_dir, cache_root=cache_root, replication=replication)
    return spark.read.parquet(path)
