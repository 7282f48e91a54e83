"""JSONL line-record source with per-row error capture (S4, SURVEY.md §2.1).

Reference analog: curator re-reads its request/response JSONL stage files
line by line, pydantic-validating each and capturing bad lines as per-row
errors instead of failing the scan
(/root/reference/src/bespokelabs/curator/request_processor/online/
base_online_request_processor.py:346-352, base_request_processor.py:406-410).

Spark restatement: ``spark.read.json`` in PERMISSIVE mode with an explicit
schema + ``_corrupt_record``: well-formed lines parse into typed columns,
malformed lines land whole in the corrupt column with nulls elsewhere — the
scan never fails, bad rows stay inspectable/re-drivable (same contract as
the runner's ``failed_rows`` view). An explicit schema is mandatory at
scale: schema inference is a second full pass over the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CORRUPT_COL = "_corrupt_record"


def read_jsonl_with_errors(spark: SparkSession, path: str, schema_ddl: str) -> DataFrame:
    """JSONL scan that captures malformed lines per row.

    Returns the typed columns plus ``ok`` (boolean) and ``raw_error`` (the
    offending line, null when ok). Spark requires the corrupt column to be
    part of the user schema in PERMISSIVE mode.
    """
    full_schema = f"{schema_ddl}, {CORRUPT_COL} string"
    df = (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )
    return df.withColumn("ok", F.col(CORRUPT_COL).isNull()).withColumnRenamed(
        CORRUPT_COL, "raw_error"
    )


def split_valid_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid rows without error columns, quarantine rows with the raw line)
    — the keep-good / re-queue-bad split of the reference's response-file
    rewrite (base_request_processor.py:534-558).

    The parsed frame is cached first: Spark refuses queries that project
    ONLY the corrupt-record column from a raw JSON scan (the parser would
    skip parsing entirely and report nothing corrupt) — caching the parsed
    rows is the documented contract for consuming the quarantine side.

    CACHE LIFETIME IS CALLER-OWNED: Spark keys the cache on the logical
    plan, so after materializing both sides call ``df.unpersist()`` on the
    SAME frame you passed in to release the cached partitions — otherwise
    repeated calls in a long-lived session accumulate cached blocks."""
    df = df.cache()
    valid = df.filter(F.col("ok")).drop("ok", "raw_error")
    corrupt = df.filter(~F.col("ok")).select("raw_error")
    return valid, corrupt
