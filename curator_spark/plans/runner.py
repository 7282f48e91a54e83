"""Lifecycle runner — the curator-semantics layer (SURVEY.md §7 M4).

Re-expresses the reference's driver-side lifecycle on Spark:

- **Run fingerprint** (whole-run memoization): content hash of input path +
  config + the source of every semantics-bearing module. Analog of
  xxh64(dataset fingerprint, prompt-func pickle hash, model, params)
  (/root/reference/src/bespokelabs/curator/llm/llm.py:140-165, :271-302).
- **Cache probe**: committed output for the same fingerprint -> return it
  without launching a job (base_request_processor.py:127-130,315-336).
- **Chunked execution + staged commit**: the input is split into
  deterministic url-hash chunks (analog of ceil(n/batch_size) request files,
  base_request_processor.py:252-270); each chunk's output is written to a
  staging dir then atomically renamed with a manifest — the parquet stand-in
  for an Iceberg snapshot commit (SURVEY.md §7 "Resume atomicity without
  Iceberg"). After the write, ONE Spark action aggregates the metrics of
  every chunk the attempt wrote; each chunk's slice is then a driver write
  inside the chunk's own staging dir, so the rename is the ONE commit
  point for its rows and its counters.
- **Resume**: on rerun, committed chunks are skipped entirely; a partially
  written chunk is invisible (staging never renamed) and recomputed. ALL
  missing chunks run as ONE job (never a scan per chunk), and with
  ``chunk_input=True`` the input is staged partitioned-by-chunk so a resume
  reads only the missing chunks' files — true scan pruning, the parquet
  analog of Iceberg partition predicates on url-hash bucket. That layout
  pass also does the ``repartition_to`` salted spread, so fresh runs and
  resumes over staged chunks score with the fused shuffle-free plan; raw
  input keeps the split plan. Row-level parity with the completed-ids
  anti-join (base_online_request_processor.py:332-336,354) comes free:
  chunk membership is a pure function of url.
- **Incremental runs**: ``run_quality_filter(..., prior=result)`` scores
  only the input pages absent from a prior run's output (the same
  anti-join) and unions the prior rows into the same chunked commit, so an
  incremental run crashes, resumes and records metrics exactly like a
  fresh one.
- **Failed rows**: rows with a per-row extract error commit with the rest
  of their chunk, tagged in ``error``; ``failed_rows`` is the (url,
  warc_ts, error) view over them — the failed-requests sink analog
  (base_request_processor.py:459-488).
- **Metrics + lineage**: per (run, chunk, spark partition) counter rows —
  docs seen/kept/dropped/failed, per-rule drops and scrubs — in each
  committed chunk's ``_metrics`` dir, read back by ``metrics_table``
  (analog of the status trackers, online_status_tracker.py:44-93).
- **Run catalog**: one row per run in a ``runs`` table (analog of the SQLite
  metadata DB, db.py:61-137).
- **Bounded retries**: failed chunks retried up to ``max_attempts`` on top of
  Spark's own task retries (config.py:28 semantics).
"""

from __future__ import annotations

import glob
import hashlib
import inspect
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from .. import lm as _lm_mod
from .. import rules as _rules_mod
from ..functions.partitioning import DEFAULT_SALT, salted_repartition
from ..operators import heuristics as _heuristics_mod
from ..operators import udf_stages as _udf_stages_mod
from ..operators import verdict as _verdict_mod
from . import pipeline as _pipeline_mod


@dataclass
class RunConfig:
    input_path: str
    output_root: str
    num_chunks: int = 4
    repartition_to: int | None = None
    salt: str = DEFAULT_SALT
    max_attempts: int = 3
    # Stage the input partitioned by chunk before processing (one extra
    # full-input write). Resume then READS ONLY the missing chunks' input
    # files — true scan pruning, the parquet analog of Iceberg partition
    # predicates on (url-hash bucket). With ``repartition_to`` the salted
    # spread happens in this layout pass (each chunk dir gets
    # ``repartition_to`` near-equal files), so every run and resume scores
    # the staged chunks with the fused shuffle-free plan. With ``prior=``
    # only the pages new since the prior run are staged. Worth it when
    # resumes are expected; pure overhead for fire-and-forget runs.
    chunk_input: bool = False

    def to_json(self) -> str:
        return json.dumps(
            {
                "input_path": self.input_path,
                "num_chunks": self.num_chunks,
                "repartition_to": self.repartition_to,
                "salt": self.salt,
                "chunk_input": self.chunk_input,
            },
            sort_keys=True,
        )


def run_fingerprint(config: RunConfig, prior: RunResult | None = None) -> str:
    """Deterministic run id: config + prior run id + semantics-module sources.

    Editing any module that decides output rows (rules, lm, pipeline and
    the udf_stages / heuristics / verdict operators it composes)
    invalidates the cache exactly like the reference's dill function-hash
    invalidates on closure edits (tests/unittests/test_caching.py:99-184
    semantics). An incremental run stages and scores only the pages its
    prior lacks, so it must never share a run dir with a fresh run of the
    same config."""
    h = hashlib.sha256()
    h.update(config.to_json().encode())
    if prior is not None:
        h.update(b"prior:" + prior.run_id.encode())
    mods = (_rules_mod, _lm_mod, _pipeline_mod, _udf_stages_mod, _heuristics_mod, _verdict_mod)
    for mod in mods:
        h.update(inspect.getsource(mod).encode())
    return h.hexdigest()[:16]


# ---------------------------------------------------------------------------
# Staged-commit primitives (Iceberg-snapshot stand-in on plain parquet)
# ---------------------------------------------------------------------------


def _chunk_dir(run_dir: str, chunk: int) -> str:
    return os.path.join(run_dir, f"chunk={chunk}")


def _is_committed(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _chunk_bucket(config: RunConfig) -> Column:
    """Chunk membership: a pure function of url, so it is stable across
    reruns and retries."""
    return F.pmod(F.xxhash64(F.col("url"), F.lit(config.salt)), F.lit(config.num_chunks))


def _input_layout(config: RunConfig, pages: DataFrame) -> DataFrame:
    """The rows of the ``input_chunked`` layout pass. With
    ``repartition_to`` the salted url-hash spread happens HERE, in the one
    pass that rewrites every input row anyway: each chunk dir then holds
    ``repartition_to`` near-equal files however host-clustered the input
    files are, so the filter over staged chunks runs the fused shuffle-free
    plan on every fresh run and every resume."""
    staged = pages.withColumn("chunk", _chunk_bucket(config))
    if config.repartition_to:
        staged = salted_repartition(staged, "url", config.repartition_to, config.salt)
    return staged


def _ensure_chunked_input(
    spark: SparkSession, config: RunConfig, run_dir: str, pages: DataFrame
) -> str:
    """Stage the input partitioned by chunk (write-once, atomically
    committed). Chunk membership is a computed column, so the raw input
    offers NO scan-level pruning on resume; this one-time layout pass is the
    parquet stand-in for an Iceberg table partitioned by url-hash bucket
    (reference lifecycle analog: persisted request files reloaded per batch,
    base_batch_request_processor.py:285-309)."""
    root = os.path.join(run_dir, "input_chunked")
    if not _is_committed(root):
        staging = root + f".staging-{uuid.uuid4().hex[:8]}"
        try:
            _input_layout(config, pages).write.mode("overwrite").partitionBy(
                "chunk"
            ).parquet(staging)
            for c in range(config.num_chunks):  # empty chunks still need a dir
                os.makedirs(os.path.join(staging, f"chunk={c}"), exist_ok=True)
            open(os.path.join(staging, "_SUCCESS"), "a").close()
            if os.path.exists(root):
                shutil.rmtree(root)
            os.rename(staging, root)
        except Exception:
            shutil.rmtree(staging, ignore_errors=True)  # no full-input orphan
            raise
    return root


def _append_table(root: str, name: str, pdf: pd.DataFrame) -> None:
    """Append-only driver-side table (a chunk's metrics / runs catalog): one
    parquet file per append, read back as a directory dataset."""
    d = os.path.join(root, name)
    os.makedirs(d, exist_ok=True)
    pdf = pdf.copy()
    for col in pdf.columns:  # Spark's parquet reader rejects TIMESTAMP(NANOS)
        if str(pdf[col].dtype).startswith("datetime64[ns"):
            pdf[col] = pdf[col].astype("datetime64[us, UTC]")
    pdf.to_parquet(os.path.join(d, f"part-{uuid.uuid4().hex}.parquet"), index=False)


def read_table(spark: SparkSession, root: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(root, name))


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------

_SCRUB_RULES = ("email", "phone", "ip", "ssn", "toxicity")


def _catalog_event(config: "RunConfig", run_id: str, status: str) -> None:
    """One lifecycle row in the runs catalog (STARTED | COMPLETED | FAILED |
    CANCELLED — the batch state machine analog, batch_status_tracker.py:62-66)."""
    _append_table(
        config.output_root,
        "runs_catalog",
        pd.DataFrame(
            [
                {
                    "run_id": run_id,
                    "input_snapshot": config.input_path,
                    "config_json": config.to_json(),
                    "status": status,
                    "event_time": datetime.now(timezone.utc),
                }
            ]
        ),
    )


def _counters() -> dict[str, Column]:
    """The per-run counters, each a long aggregate over output rows."""
    counters = {
        "docs_seen": F.count("*"),
        "docs_kept": F.sum(F.col("keep").cast("long")),
        "docs_dropped": F.sum((~F.col("keep")).cast("long")),
        "docs_flagged": F.sum((F.size("drop_rules") > 0).cast("long")),
        "docs_failed": F.sum(F.col("error").isNotNull().cast("long")),
    }
    for r in _rules_mod.RULE_NAMES:
        counters[f"drops_{r}"] = F.sum(F.array_contains("drop_rules", r).cast("long"))
    for s in _SCRUB_RULES:
        counters[f"scrubs_{s}"] = F.sum(F.col(f"scrub_{s}"))
    return counters


def _attempt_metrics(
    spark: SparkSession, staging: str, schema: StructType, run_id: str
) -> pd.DataFrame:
    """Per-(chunk, spark partition) counters over one attempt's partitioned
    staging write: every chunk it wrote, in one aggregate. The read takes
    the held schema plus the partition column (no inference job), as a new
    StructType, since ``StructType.add`` would mutate the held schema."""
    staged = (
        spark.read.schema(StructType(schema.fields + [StructField("chunk", IntegerType())]))
        .option("basePath", staging)
        .parquet(staging)
    )
    pdf = (
        staged.groupBy(
            F.col("chunk").cast("long").alias("chunk"),
            F.spark_partition_id().alias("partition_id"),
        )
        .agg(*[agg.alias(name) for name, agg in _counters().items()])
        .toPandas()
    )
    # string dtype: as object, a chunk's empty slice went to parquet as type
    # null and the metrics table read run_id back as an integer
    pdf.insert(0, "run_id", pd.Series(run_id, index=pdf.index, dtype="string"))
    return pdf


# ---------------------------------------------------------------------------
# The runner
# ---------------------------------------------------------------------------


@dataclass
class RunResult:
    run_id: str
    run_dir: str
    cache_hit: bool
    chunks_run: int
    chunks_skipped: int


def run_quality_filter(
    spark: SparkSession, config: RunConfig, prior: RunResult | None = None
) -> RunResult:
    """Execute (or resume, or cache-hit) a full quality-filter run.

    ``prior``: a committed run over an earlier snapshot of the input (the
    daily-crawl-dump case). Only pages absent from its output are scored;
    its rows are carried into this run's chunks, re-bucketed by this
    config's (salt, num_chunks), so the output equals a fresh full run's."""
    run_id = run_fingerprint(config, prior)
    run_dir = os.path.join(config.output_root, "runs", run_id)
    os.makedirs(run_dir, exist_ok=True)
    manifest_path = os.path.join(run_dir, "manifest.json")

    if os.path.exists(manifest_path):  # cache probe: whole-run memoization
        return RunResult(run_id, run_dir, cache_hit=True, chunks_run=0, chunks_skipped=config.num_chunks)

    _catalog_event(config, run_id, "STARTED")

    pages = spark.read.parquet(config.input_path)
    if prior is not None:
        pages = resume_remainder(spark, pages, prior)
    bucket = _chunk_bucket(config)

    missing = [c for c in range(config.num_chunks) if not _is_committed(_chunk_dir(run_dir, c))]
    chunks_skipped = config.num_chunks - len(missing)
    chunks_run = 0

    # ONE job per attempt covering EVERY missing chunk (fresh run = all of
    # them): output partitioned by chunk, then per-chunk atomic promotion.
    # Per-chunk jobs would scan the input once per chunk — at 100 TB that is
    # num_chunks full scans. The missing list is recomputed from committed
    # state at the top of every attempt, so a retry after a partial
    # promotion never re-runs, re-promotes, or double-counts a chunk that
    # already committed (its metrics committed with it).
    attempt = 0
    while True:
        missing = [
            c for c in range(config.num_chunks) if not _is_committed(_chunk_dir(run_dir, c))
        ]
        if not missing:
            break
        attempt += 1
        staging = None
        try:
            t0 = time.monotonic()
            fresh = len(missing) == config.num_chunks
            in_missing = bucket.isin([int(c) for c in missing])
            if config.chunk_input:
                # scan pruning: read ONLY the missing chunks' input files
                in_root = _ensure_chunked_input(spark, config, run_dir, pages)
                dirs = [
                    d
                    for c in missing
                    for d in [os.path.join(in_root, f"chunk={c}")]
                    if any(f.endswith(".parquet") for f in os.listdir(d))
                ]
                src = (
                    spark.read.schema(pages.schema)
                    .option("basePath", in_root)
                    .parquet(*dirs)
                    .drop("chunk")
                    if dirs
                    else spark.createDataFrame([], pages.schema)
                )
            elif fresh:
                src = pages  # fresh run: exactly one full scan, no predicate
            else:
                src = pages.filter(in_missing)
            # staged chunks were spread by the layout pass: fused plan, no
            # shuffle, one Arrow boundary; raw input keeps the split plan
            out = _pipeline_mod.quality_filter(
                src,
                repartition_to=None if config.chunk_input else config.repartition_to,
                salt=config.salt,
            )
            if prior is not None:  # carry the prior rows into the same commit
                done = load_output(spark, prior)
                out = out.unionByName(done if fresh else done.filter(in_missing))
            schema = out.schema
            staging = os.path.join(run_dir, f"all.staging-{uuid.uuid4().hex[:8]}")
            out.withColumn("chunk", bucket).write.mode("overwrite").partitionBy(
                "chunk"
            ).parquet(staging)
            wall_ms = int((time.monotonic() - t0) * 1000)
            metrics = _attempt_metrics(spark, staging, schema, run_id)
            for chunk in missing:
                src_dir = os.path.join(staging, f"chunk={chunk}")
                cdir = _chunk_dir(run_dir, chunk)
                if not os.path.isdir(src_dir):  # empty chunk: commit empty dir
                    # write an empty parquet so readers see the schema
                    spark.createDataFrame([], schema).write.mode("overwrite").parquet(src_dir)
                # the chunk's metrics slice goes INSIDE its staging dir
                # (readers of the rows skip ``_``-prefixed dirs), so the
                # rename below commits rows and counters together and a
                # chunk that never commits leaves no counters behind
                _append_table(
                    src_dir,
                    "_metrics",
                    metrics[metrics["chunk"] == chunk].assign(
                        wall_ms=wall_ms // len(missing), committed_at=datetime.now(timezone.utc)
                    ),
                )
                open(os.path.join(src_dir, "_SUCCESS"), "a").close()
                if os.path.exists(cdir):
                    shutil.rmtree(cdir)
                os.rename(src_dir, cdir)
                chunks_run += 1
        except Exception:
            if attempt >= config.max_attempts:
                _catalog_event(config, run_id, "FAILED")
                raise
        finally:
            # promoted chunks were renamed OUT of staging; whatever remains
            # (full output copies on a failed attempt) must not accumulate
            # across retries — at 100 TB that is terabytes per failed attempt
            if staging is not None:
                shutil.rmtree(staging, ignore_errors=True)

    # require_all check (config.py:30 semantics): every chunk committed
    missing = [c for c in range(config.num_chunks) if not _is_committed(_chunk_dir(run_dir, c))]
    if missing:
        raise RuntimeError(f"run {run_id} incomplete, missing chunks {missing}")

    manifest = {
        "run_id": run_id,
        "config": json.loads(config.to_json()),
        "num_chunks": config.num_chunks,
        "committed_at": datetime.now(timezone.utc).isoformat(),
    }
    if prior is not None:
        manifest["incremental_from"] = prior.run_id
    with open(manifest_path + ".tmp", "w") as f:
        json.dump(manifest, f)
    os.rename(manifest_path + ".tmp", manifest_path)

    _catalog_event(config, run_id, "COMPLETED")
    return RunResult(run_id, run_dir, cache_hit=False, chunks_run=chunks_run, chunks_skipped=chunks_skipped)


def load_output(spark: SparkSession, result: RunResult) -> DataFrame:
    return spark.read.parquet(os.path.join(result.run_dir, "chunk=*"))


def failed_rows(spark: SparkSession, result: RunResult) -> DataFrame:
    """The committed rows whose per-row extract failed, with their error tag
    (``null_html`` | ``decode_error`` | ``no_marker``) — the failed-requests
    sink (base_request_processor.py:459-488) as a view over the output, so
    it follows exactly the chunks that committed."""
    return load_output(spark, result).filter(F.col("error").isNotNull()).select(
        "url", "warc_ts", "error"
    )


def cancel_run(config: RunConfig, prior: RunResult | None = None) -> str:
    """Mark an in-flight run CANCELLED in the catalog (batch-cancel analog,
    llm.py:236-244 / base_batch_request_processor.py:739-754). Committed
    chunks stay on disk — a later run of the same fingerprint resumes from
    them; the catalog records that this attempt was aborted deliberately.
    ``prior``: the prior run of an incremental run, as passed to
    ``run_quality_filter``, so the event lands under that run's id."""
    run_id = run_fingerprint(config, prior)
    _catalog_event(config, run_id, "CANCELLED")
    return run_id


def metrics_table(spark: SparkSession, output_root: str, run_id: str | None = None) -> DataFrame:
    """The per-(run, chunk, spark partition) metrics rows of every committed
    chunk of ``run_id`` (all runs when None). A run with no committed chunk
    reads as an empty frame of the counter columns."""
    path = os.path.join(output_root, "runs", run_id or "*", "chunk=*", "_metrics")
    if not glob.glob(path):
        cols = ["run_id string", "chunk long", "partition_id int"]
        cols += [f"{c} long" for c in _counters()] + ["wall_ms long", "committed_at timestamp"]
        return spark.createDataFrame([], ", ".join(cols))
    return spark.read.parquet(path)


def metrics_summary(spark: SparkSession, output_root: str, run_id: str | None = None) -> DataFrame:
    """A2/A3 roll-up over the per-partition metrics rows: totals per run —
    docs seen/kept/dropped and per-rule drop/scrub counters (the analog of
    curator's end-of-run status report, online_status_tracker.py:504-519)."""
    m = metrics_table(spark, output_root, run_id)
    sums = [
        F.sum(c).alias(c)
        for c in m.columns
        if c.startswith(("docs_", "drops_", "scrubs_"))
    ]
    return m.groupBy("run_id").agg(*sums)


def resume_remainder(spark: SparkSession, pages: DataFrame, result: RunResult) -> DataFrame:
    """Row-level anti-join view: input rows not yet in committed output
    (J2/F1, SURVEY.md §2.5) — the input of an incremental run."""
    done = load_output(spark, result).select("url")
    return pages.join(done, "url", "left_anti")
