"""Lifecycle semantics: fingerprint memoization, crash-resume, metrics.

Ports the reference's cache/resume test strategy (SURVEY.md §5 items 2-3;
/root/reference/tests/unittests/test_caching.py:12-96, conftest.py:31-35
cached_working_dir resume fixtures) onto the staged-commit runner."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from curator_spark.datagen import pages_path_for
from curator_spark.plans import runner as R


@pytest.fixture(scope="module")
def pages_path(tmp_path_factory):
    return pages_path_for(
        "/root/testdata/sf0.001", cache_root=str(tmp_path_factory.mktemp("pg"))
    )


def _config(pages_path, out_root, **kw):
    return R.RunConfig(input_path=pages_path, output_root=str(out_root), num_chunks=4, **kw)


def test_run_resume_and_cache(spark, pages_path, tmp_path, golden):
    cfg = _config(pages_path, tmp_path / "out")

    # simulate a crash after 2 chunks: pre-commit chunks 0,1 then run
    res1 = R.run_quality_filter(spark, cfg)
    assert not res1.cache_hit and res1.chunks_run == 4

    # rerun -> whole-run cache hit, no job
    res2 = R.run_quality_filter(spark, cfg)
    assert res2.cache_hit

    out = R.load_output(spark, res1).toPandas()
    assert len(out) == len(golden)
    assert out["url"].is_unique  # no duplicates across chunk commits

    # output matches golden labels regardless of chunking
    merged = out.merge(
        golden[["url", "keep", "scrubbed_text"]], on="url", suffixes=("", "_g")
    )
    assert (merged["keep"] == merged["keep_g"]).all()
    assert merged["scrubbed_text"].equals(merged["scrubbed_text_g"])

    # remainder anti-join is empty once complete
    pages = spark.read.parquet(pages_path)
    assert R.resume_remainder(spark, pages, res1).count() == 0


def test_crash_resume_skips_committed(spark, pages_path, tmp_path, golden):
    cfg = _config(pages_path, tmp_path / "out2")
    run_id = R.run_fingerprint(cfg)
    run_dir = os.path.join(cfg.output_root, "runs", run_id)

    # run only chunks 0-1 by faking a crash: run fully, then delete 2,3 + manifest
    res = R.run_quality_filter(spark, cfg)
    os.remove(os.path.join(run_dir, "manifest.json"))
    import shutil

    shutil.rmtree(os.path.join(run_dir, "chunk=2"))
    shutil.rmtree(os.path.join(run_dir, "chunk=3"))

    res2 = R.run_quality_filter(spark, cfg)
    assert not res2.cache_hit
    assert res2.chunks_skipped == 2 and res2.chunks_run == 2

    out = R.load_output(spark, res2).toPandas()
    assert len(out) == len(golden) and out["url"].is_unique


def test_quarantine_and_failed_metric(spark, tmp_path, golden):
    """K3/F2: rows whose extract fails commit with error tags, read back
    through ``failed_rows`` (and count into docs_failed), without failing
    the job; a clean run's ``failed_rows`` is empty with the same schema."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from curator_spark.datagen import PAGES_SCHEMA, build_pages_pdf

    pdf = build_pages_pdf("/root/testdata/sf0.001").iloc[:100].copy()
    bad = pd.DataFrame(
        [
            {"url": "https://bad.example/undecodable", "warc_ts": pdf["warc_ts"].iloc[0],
             "html": b"\xff\xfe\xfa broken", "text": "", "lang": "en"},
            {"url": "https://bad.example/markerless", "warc_ts": pdf["warc_ts"].iloc[1],
             "html": b"<html><body>no paragraph marker</body></html>", "text": "", "lang": "en"},
            {"url": "https://bad.example/nullhtml", "warc_ts": pdf["warc_ts"].iloc[2],
             "html": None, "text": "", "lang": "en"},
        ]
    )
    src, clean_src = tmp_path / "in_bad", tmp_path / "in_clean"
    for d, part in ((src, pd.concat([pdf, bad], ignore_index=True)), (clean_src, pdf)):
        d.mkdir()
        pq.write_table(pa.Table.from_pandas(part, schema=PAGES_SCHEMA, preserve_index=False),
                       str(d / "a.parquet"))
    cfg = R.RunConfig(input_path=str(src), output_root=str(tmp_path / "outq"), num_chunks=2)
    res = R.run_quality_filter(spark, cfg)
    failed = R.failed_rows(spark, res)
    tags = {r.url: r.error for r in failed.collect()}
    assert tags == {
        "https://bad.example/undecodable": "decode_error",
        "https://bad.example/markerless": "no_marker",
        "https://bad.example/nullhtml": "null_html",
    }
    metrics = R.metrics_table(spark, cfg.output_root, res.run_id).toPandas()
    assert metrics["docs_failed"].sum() == 3
    clean = R.failed_rows(
        spark, R.run_quality_filter(spark, R.RunConfig(str(clean_src), cfg.output_root, num_chunks=2))
    )
    assert clean.count() == 0 and clean.schema == failed.schema
    # failed rows are still verdict rows (dropped by the len rule), not lost
    out = R.load_output(spark, res).toPandas()
    assert len(out) == 103
    assert not out[out["url"].str.startswith("https://bad.example/")]["keep"].any()


def test_resume_prunes_input_scan(spark, pages_path, tmp_path, monkeypatch):
    """With chunk_input staging, a resume must read ONLY the missing chunks'
    input files (scan pruning — the Iceberg-partition analog), and exactly
    one pipeline job must cover all missing chunks."""
    import shutil

    cfg = _config(pages_path, tmp_path / "outp", chunk_input=True)
    run_id = R.run_fingerprint(cfg)
    run_dir = os.path.join(cfg.output_root, "runs", run_id)
    R.run_quality_filter(spark, cfg)
    os.remove(os.path.join(run_dir, "manifest.json"))
    shutil.rmtree(os.path.join(run_dir, "chunk=2"))
    shutil.rmtree(os.path.join(run_dir, "chunk=3"))

    seen = []
    real_qf = R._pipeline_mod.quality_filter

    def spy_qf(src, **kw):
        seen.append(sorted(src.inputFiles()))
        return real_qf(src, **kw)

    monkeypatch.setattr(R._pipeline_mod, "quality_filter", spy_qf)
    res = R.run_quality_filter(spark, cfg)
    assert res.chunks_skipped == 2 and res.chunks_run == 2
    assert len(seen) == 1  # ONE job covered both missing chunks
    assert seen[0], "resume scan read no files"
    for f in seen[0]:
        assert "/input_chunked/chunk=2/" in f or "/input_chunked/chunk=3/" in f, f
    out = R.load_output(spark, res).toPandas()
    assert out["url"].is_unique and len(out) == 500


def test_retry_commits_metrics_exactly_once(spark, pages_path, tmp_path, monkeypatch):
    """A retry after partial promotion must not re-promote or double-count
    committed chunks: exactly one metrics row per chunk, exact totals."""
    calls = {"n": 0}
    real = R._append_table

    def flaky(root, name, pdf):
        if name == "_metrics":
            calls["n"] += 1
            if calls["n"] == 2:  # fail while committing the 2nd chunk
                raise RuntimeError("injected metrics failure")
        return real(root, name, pdf)

    monkeypatch.setattr(R, "_append_table", flaky)
    cfg = _config(pages_path, tmp_path / "outr")
    res = R.run_quality_filter(spark, cfg)
    assert res.chunks_run == 4
    metrics = R.metrics_table(spark, cfg.output_root, res.run_id).toPandas()
    assert len(metrics) == 4
    assert sorted(metrics["chunk"]) == [0, 1, 2, 3]
    assert metrics["docs_seen"].sum() == 500


def test_failed_run_leaves_no_phantom_metrics(spark, pages_path, tmp_path, monkeypatch):
    """Metrics commit inside the chunk rename; when a run fails terminally
    no chunk committed, so the run has no metrics, a FAILED event, and no
    staging left behind."""
    import pytest as _pytest

    real_rename = os.rename

    def deny_chunk_promotion(src, dst):
        if "/chunk=" in dst.replace("\\", "/"):
            raise OSError("injected promotion failure")
        return real_rename(src, dst)

    monkeypatch.setattr(R.os, "rename", deny_chunk_promotion)
    cfg = _config(pages_path, tmp_path / "outf", max_attempts=1)
    with _pytest.raises(OSError):
        R.run_quality_filter(spark, cfg)
    assert R.metrics_table(spark, cfg.output_root, R.run_fingerprint(cfg)).count() == 0
    cat = R.read_table(spark, cfg.output_root, "runs_catalog").toPandas()
    assert "FAILED" in set(cat["status"])
    # no staging garbage accumulates either
    run_dir = os.path.join(cfg.output_root, "runs", R.run_fingerprint(cfg))
    assert not [d for d in os.listdir(run_dir) if ".staging-" in d]


@pytest.mark.parametrize("with_failed_row", [False, True])
def test_lost_chunk_takes_its_counters_with_it(spark, pages_pdf, tmp_path, with_failed_row):
    """A committed chunk that is lost (the run's kill-and-resume shape:
    chunk dir and manifest removed) takes its metrics and its failed rows
    with it; the resume brings each back exactly once."""
    import shutil

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from curator_spark.datagen import PAGES_SCHEMA

    null_url = "https://bad.example/nullhtml"
    pdf = pages_pdf
    if with_failed_row:
        pdf = pd.concat([pdf, pdf.iloc[:1].assign(url=null_url, html=None)], ignore_index=True)
    cfg = R.RunConfig(str(tmp_path / "in"), str(tmp_path / "out"), num_chunks=2)
    os.makedirs(cfg.input_path)
    pq.write_table(pa.Table.from_pandas(pdf, schema=PAGES_SCHEMA, preserve_index=False),
                   os.path.join(cfg.input_path, "a.parquet"))
    res = R.run_quality_filter(spark, cfg)
    # lose the chunk holding the failed row (chunk 0 when there is none)
    lost = 0
    if with_failed_row:
        bucket = spark.createDataFrame([(null_url,)], "url string").select(R._chunk_bucket(cfg))
        lost = bucket.collect()[0][0]
    shutil.rmtree(R._chunk_dir(res.run_dir, lost))
    os.remove(os.path.join(res.run_dir, "manifest.json"))

    kept = spark.read.parquet(R._chunk_dir(res.run_dir, 1 - lost)).count()
    summary = R.metrics_summary(spark, cfg.output_root, res.run_id).collect()[0]
    assert (summary.docs_seen, summary.docs_failed) == (kept, 0) and kept < len(pdf)
    assert R.failed_rows(spark, res).count() == 0

    res = R.run_quality_filter(spark, cfg)
    assert res.chunks_run == 1 and res.chunks_skipped == 1
    failed = [null_url] if with_failed_row else []
    summary = R.metrics_summary(spark, cfg.output_root, res.run_id).collect()[0]
    assert (summary.docs_seen, summary.docs_failed) == (len(pdf), len(failed))
    assert [r.url for r in R.failed_rows(spark, res).collect()] == failed


def test_cancel_run_records_catalog(spark, pages_path, tmp_path):
    cfg = _config(pages_path, tmp_path / "outc")
    run_id = R.cancel_run(cfg)
    cat = R.read_table(spark, cfg.output_root, "runs_catalog").toPandas()
    assert list(cat[cat["run_id"] == run_id]["status"]) == ["CANCELLED"]


def test_cancel_incremental_run_records_its_id(spark, pages_path, tmp_path):
    """Cancelling an incremental run marks the incremental run's id, not the
    id of a fresh run of the same config."""
    cfg1 = _config(pages_path, tmp_path / "outci")
    res1 = R.RunResult(R.run_fingerprint(cfg1), "", cache_hit=False, chunks_run=4, chunks_skipped=0)
    cfg2 = _config(pages_path, tmp_path / "outci", salt="next")
    run_id = R.cancel_run(cfg2, prior=res1)
    assert run_id == R.run_fingerprint(cfg2, res1) != R.run_fingerprint(cfg2)
    cat = R.read_table(spark, cfg2.output_root, "runs_catalog").toPandas()
    assert list(cat[cat["run_id"] == R.run_fingerprint(cfg2, res1)]["status"]) == ["CANCELLED"]
    assert R.run_fingerprint(cfg2) not in set(cat["run_id"])


def test_incremental_catalog_lifecycle(spark, tmp_path):
    """An incremental run records STARTED/COMPLETED like a fresh run."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from curator_spark.datagen import PAGES_SCHEMA, build_pages_pdf

    pdf = build_pages_pdf("/root/testdata/sf0.001")
    src1, src2 = tmp_path / "i1", tmp_path / "i2"
    src1.mkdir(), src2.mkdir()
    pq.write_table(pa.Table.from_pandas(pdf.iloc[:200], schema=PAGES_SCHEMA,
                                        preserve_index=False), str(src1 / "a.parquet"))
    pq.write_table(pa.Table.from_pandas(pdf, schema=PAGES_SCHEMA,
                                        preserve_index=False), str(src2 / "a.parquet"))
    out_root = str(tmp_path / "out")
    res1 = R.run_quality_filter(spark, R.RunConfig(str(src1), out_root, num_chunks=2))
    cfg2 = R.RunConfig(str(src2), out_root, num_chunks=2)
    res2 = R.run_quality_filter(spark, cfg2, prior=res1)
    cat = R.read_table(spark, out_root, "runs_catalog").toPandas()
    inc = cat[cat["run_id"] == res2.run_id].sort_values("event_time")
    assert list(inc["status"]) == ["STARTED", "COMPLETED"]


def test_fingerprint_sensitivity(pages_path, tmp_path):
    a = R.run_fingerprint(_config(pages_path, tmp_path, salt="s1"))
    b = R.run_fingerprint(_config(pages_path, tmp_path, salt="s2"))
    c = R.run_fingerprint(_config(pages_path, tmp_path, salt="s1"))
    assert a != b and a == c


@pytest.mark.parametrize("module", ["udf_stages", "heuristics", "verdict"])
def test_fingerprint_tracks_operator_sources(pages_path, tmp_path, monkeypatch, module):
    """An edit to an operator module that decides output rows must miss the
    cache, like an edit to rules/lm/pipeline."""
    import importlib
    import inspect

    target = importlib.import_module(f"curator_spark.operators.{module}")
    cfg = _config(pages_path, tmp_path)
    before = R.run_fingerprint(cfg)
    real = inspect.getsource
    monkeypatch.setattr(
        inspect, "getsource", lambda m: real(m) + ("# edited\n" if m is target else "")
    )
    assert R.run_fingerprint(cfg) != before


def test_metrics_and_catalog(spark, pages_path, tmp_path, golden):
    cfg = _config(pages_path, tmp_path / "out3")
    res = R.run_quality_filter(spark, cfg)
    # the rename is the one commit point: nothing lands beside the run dirs
    assert sorted(os.listdir(cfg.output_root)) == ["runs", "runs_catalog"]
    metrics = R.metrics_table(spark, cfg.output_root, res.run_id).toPandas()
    assert metrics["docs_seen"].sum() == len(golden)
    assert metrics["docs_kept"].sum() == int(golden["keep"].sum())
    # per-rule drop counters match the oracle
    fired_tox = sum(1 for lst in golden["drop_rules"] if "toxicity" in lst)
    assert metrics["drops_toxicity"].sum() == fired_tox
    cat = R.read_table(spark, cfg.output_root, "runs_catalog").toPandas()
    assert set(cat["status"]) == {"STARTED", "COMPLETED"}


def test_chunk_metrics_count_committed_rows(spark, pages_path, tmp_path):
    """Each chunk's metrics rows count exactly that chunk's committed rows,
    after a fresh run and after a resume of two chunks, and the table reads
    back as one table with an int64 chunk."""
    import shutil

    from pyspark.sql.types import LongType

    cfg = _config(pages_path, tmp_path / "outm", repartition_to=4, chunk_input=True)
    run_dir = os.path.join(cfg.output_root, "runs", R.run_fingerprint(cfg))

    def check():
        metrics = R.metrics_table(spark, cfg.output_root)
        assert metrics.schema["chunk"].dataType == LongType()
        seen = metrics.toPandas().groupby("chunk")["docs_seen"].sum().to_dict()
        committed = {
            c: spark.read.parquet(R._chunk_dir(run_dir, c)).count() for c in range(4)
        }
        assert seen == committed and sum(committed.values()) == 500

    R.run_quality_filter(spark, cfg)
    check()
    os.remove(os.path.join(run_dir, "manifest.json"))
    shutil.rmtree(R._chunk_dir(run_dir, 1))
    shutil.rmtree(R._chunk_dir(run_dir, 3))
    res = R.run_quality_filter(spark, cfg)
    assert res.chunks_run == 2 and res.chunks_skipped == 2
    check()


@pytest.mark.parametrize("prior_chunks", [3, 5])
def test_incremental_run(spark, tmp_path, golden, monkeypatch, prior_chunks):
    """Grow the input, run incrementally: only new urls are scored; output
    equals a full fresh run over the grown input. A prior run with a
    different chunk count is re-bucketed into the new layout."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from curator_spark.datagen import PAGES_SCHEMA, build_pages_pdf
    from curator_spark.plans.runner import load_output, metrics_summary

    pdf = build_pages_pdf("/root/testdata/sf0.001")
    half = pdf.iloc[:250]
    src1 = tmp_path / "in1"
    src1.mkdir()
    pq.write_table(
        pa.Table.from_pandas(half, schema=PAGES_SCHEMA, preserve_index=False),
        str(src1 / "a.parquet"),
    )
    src2 = tmp_path / "in2"
    src2.mkdir()
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=PAGES_SCHEMA, preserve_index=False),
        str(src2 / "a.parquet"),
    )

    out_root = str(tmp_path / "out")
    cfg1 = R.RunConfig(input_path=str(src1), output_root=out_root, num_chunks=prior_chunks)
    res1 = R.run_quality_filter(spark, cfg1)
    assert load_output(spark, res1).count() == 250

    scored = []
    real_qf = R._pipeline_mod.quality_filter

    def spy_qf(src, **kw):
        scored.append(src.count())
        return real_qf(src, **kw)

    monkeypatch.setattr(R._pipeline_mod, "quality_filter", spy_qf)
    cfg2 = R.RunConfig(input_path=str(src2), output_root=out_root, num_chunks=3)
    res2 = R.run_quality_filter(spark, cfg2, prior=res1)
    assert not res2.cache_hit and res2.run_id != res1.run_id
    assert scored == [len(golden) - 250]  # only the new urls were scored

    out = load_output(spark, res2).toPandas()
    assert len(out) == len(golden) and out["url"].is_unique
    merged = out.merge(golden[["url", "keep", "scrubbed_text"]], on="url", suffixes=("", "_g"))
    assert (merged["keep"] == merged["keep_g"]).all()
    assert merged["scrubbed_text"].equals(merged["scrubbed_text_g"])

    # rerun of the incremental = cache hit
    assert R.run_quality_filter(spark, cfg2, prior=res1).cache_hit

    summary = metrics_summary(spark, out_root, res2.run_id).collect()[0]
    assert summary.docs_seen == len(golden)
    assert summary.docs_kept == int(golden["keep"].sum())
    # committed chunks follow the new layout, whatever the prior's was
    assert sorted(d for d in os.listdir(res2.run_dir) if d.startswith("chunk=")) == [
        "chunk=0", "chunk=1", "chunk=2"
    ]
    with open(os.path.join(res2.run_dir, "manifest.json")) as f:
        assert json.load(f)["incremental_from"] == res1.run_id


def test_incremental_crash_resume_quarantine(spark, tmp_path, monkeypatch):
    """An incremental run that dies mid-promotion resumes like a fresh run:
    committed chunks are skipped, each url is output and counted once, the
    new null-html page is a failed row, and no staging dir is left behind."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from curator_spark.datagen import PAGES_SCHEMA, build_pages_pdf

    pdf = build_pages_pdf("/root/testdata/sf0.001")
    null_url = "https://bad.example/nullhtml"
    grown = pd.concat(
        [pdf, pd.DataFrame([{"url": null_url, "warc_ts": pdf["warc_ts"].iloc[0],
                             "html": None, "text": "", "lang": "en"}])],
        ignore_index=True,
    )
    src1, src2 = tmp_path / "i1", tmp_path / "i2"
    src1.mkdir(), src2.mkdir()
    pq.write_table(pa.Table.from_pandas(pdf.iloc[:250], schema=PAGES_SCHEMA,
                                        preserve_index=False), str(src1 / "a.parquet"))
    pq.write_table(pa.Table.from_pandas(grown, schema=PAGES_SCHEMA,
                                        preserve_index=False), str(src2 / "a.parquet"))
    out_root = str(tmp_path / "out")
    res1 = R.run_quality_filter(spark, R.RunConfig(str(src1), out_root, num_chunks=3))

    real_rename = os.rename
    promotions = {"n": 0}

    def fail_second_promotion(src, dst):
        if "/chunk=" in dst.replace("\\", "/"):
            promotions["n"] += 1
            if promotions["n"] == 2:
                raise OSError("injected promotion failure")
        return real_rename(src, dst)

    monkeypatch.setattr(R.os, "rename", fail_second_promotion)
    cfg2 = R.RunConfig(str(src2), out_root, num_chunks=3, max_attempts=1)
    with pytest.raises(OSError):
        R.run_quality_filter(spark, cfg2, prior=res1)
    monkeypatch.setattr(R.os, "rename", real_rename)

    res2 = R.run_quality_filter(spark, cfg2, prior=res1)
    assert res2.chunks_skipped == 1 and res2.chunks_run == 2
    out = R.load_output(spark, res2).toPandas()
    assert len(out) == len(pdf) + 1 and out["url"].is_unique
    summary = R.metrics_summary(spark, out_root, res2.run_id).collect()[0]
    assert summary.docs_seen == len(pdf) + 1
    assert [r.url for r in R.failed_rows(spark, res2).collect()] == [null_url]
    assert not [d for d in os.listdir(res2.run_dir) if ".staging-" in d]


def test_incremental_and_fresh_runs_never_share_a_run_dir(spark, pages_pdf, tmp_path, monkeypatch):
    """An incremental run that crashed after staging only its new pages
    must not be picked up by a fresh run of the same config: the fresh run
    gets its own run id and commits every input row."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from curator_spark.datagen import PAGES_SCHEMA

    src1, src2 = tmp_path / "i1", tmp_path / "i2"
    src1.mkdir(), src2.mkdir()
    pq.write_table(pa.Table.from_pandas(pages_pdf.iloc[:250], schema=PAGES_SCHEMA,
                                        preserve_index=False), str(src1 / "a.parquet"))
    pq.write_table(pa.Table.from_pandas(pages_pdf, schema=PAGES_SCHEMA,
                                        preserve_index=False), str(src2 / "a.parquet"))
    out_root = str(tmp_path / "out")
    cfg = R.RunConfig(str(src2), out_root, num_chunks=2, chunk_input=True, max_attempts=1)
    prior = R.run_quality_filter(spark, R.RunConfig(str(src1), out_root, num_chunks=2))

    real_rename = os.rename

    def deny_chunk_promotion(src, dst):
        if "/chunk=" in dst.replace("\\", "/"):
            raise OSError("injected promotion failure")
        return real_rename(src, dst)

    monkeypatch.setattr(R.os, "rename", deny_chunk_promotion)
    with pytest.raises(OSError):
        R.run_quality_filter(spark, cfg, prior=prior)
    monkeypatch.setattr(R.os, "rename", real_rename)

    fresh = R.run_quality_filter(spark, cfg)
    out = R.load_output(spark, fresh).toPandas()
    assert len(out) == len(pages_pdf) and out["url"].is_unique
    assert fresh.run_id == R.run_fingerprint(cfg) != R.run_fingerprint(cfg, prior)


@pytest.fixture(scope="module")
def host_clustered(tmp_path_factory):
    """The skew bench's layout at sf0.001 x4: the hot host's 800 pages in
    one single-row-group file, the other 1,200 over 15 small files."""
    import importlib.util

    from conftest import SF_DIR

    tool = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "skew_bench.py")
    spec = importlib.util.spec_from_file_location("skew_bench", tool)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.build_host_clustered(
        SF_DIR, str(tmp_path_factory.mktemp("skew") / "pages"), 4
    )


def _spy_plans(monkeypatch) -> dict:
    """Record the layout pass and the filter plan a run builds."""
    seen: dict = {}
    real_layout, real_qf = R._input_layout, R._pipeline_mod.quality_filter

    def layout(*a):
        seen["layout"] = real_layout(*a)
        return seen["layout"]

    def qf(src, **kw):
        seen["filter"] = real_qf(src, **kw)
        return seen["filter"]

    monkeypatch.setattr(R, "_input_layout", layout)
    monkeypatch.setattr(R._pipeline_mod, "quality_filter", qf)
    return seen


@pytest.mark.parametrize("chunk_input", [True, False])
def test_runner_plan_shapes(spark, host_clustered, tmp_path, monkeypatch, chunk_input):
    """With ``chunk_input`` the salted spread is the layout pass's ONE
    exchange and the filter over the staged chunks is the fused plan (no
    exchange, one Arrow boundary); without it the filter keeps the split
    plan's single narrow exchange."""
    from test_plans import _detail, _n_nodes, _plan

    seen = _spy_plans(monkeypatch)
    cfg = R.RunConfig(host_clustered, str(tmp_path / "out"), num_chunks=2, repartition_to=4,
                      chunk_input=chunk_input)
    R.run_quality_filter(spark, cfg)
    filt = _plan(seen["filter"])
    if chunk_input:
        layout = _plan(seen["layout"])
        assert _n_nodes(layout, "Exchange") == 1, layout
        exchange = _detail(layout, "Exchange")
        assert "hashpartitioning(xxhash64(url#" in exchange and f", {cfg.salt}, 42), 4)" in exchange, exchange
        assert _n_nodes(filt, "Exchange") == 0, filt
        assert _n_nodes(filt, "ArrowEvalPython") == 1, filt
    else:
        assert "layout" not in seen
        assert _n_nodes(filt, "Exchange") == 1, filt
        assert _n_nodes(filt, "ArrowEvalPython") == 2, filt


def _output_digest(df) -> tuple:
    row = df.agg(
        F.count(F.lit(1)),
        F.bit_xor(F.xxhash64("url", "keep", "score", "drop_rules", "scrubbed_text",
                             "extracted_text", "perplexity", "lang_pred")),
    ).collect()[0]
    return tuple(row)


def test_chunk_input_spreads_hot_host_and_keeps_output(spark, host_clustered, tmp_path):
    """The layout pass spreads a host-clustered input into near-equal
    staged files, and staging changes neither the output rows nor the
    metrics totals."""
    import glob

    import pyarrow.parquet as pq

    out_root = str(tmp_path / "out")
    runs = {
        staged: R.run_quality_filter(spark, R.RunConfig(host_clustered, out_root, num_chunks=2,
                                                        repartition_to=4, chunk_input=staged))
        for staged in (True, False)
    }
    rows = [pq.ParquetFile(f).metadata.num_rows
            for f in glob.glob(os.path.join(runs[True].run_dir, "input_chunked", "chunk=*", "*.parquet"))]
    assert len(rows) == 2 * 4 and sum(rows) == 2000
    assert max(rows) / (sum(rows) / len(rows)) <= 1.25, rows

    assert _output_digest(R.load_output(spark, runs[True])) == _output_digest(R.load_output(spark, runs[False]))
    totals = {
        staged: R.metrics_summary(spark, out_root, r.run_id).drop("run_id").collect()[0].asDict()
        for staged, r in runs.items()
    }
    assert totals[True] == totals[False] and totals[True]["docs_seen"] == 2000


def test_clean_chunk_commits_with_one_sql_execution(spark, pages_path, tmp_path, monkeypatch):
    """ONE metrics aggregate per attempt covers every chunk, and a clean
    chunk's commit runs no Spark action: no schema-inference read, no
    per-chunk write job."""
    jss = spark._jsparkSession

    def last_execution() -> int:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        execs = jss.sharedState().statusStore().executionsList()
        return execs.apply(execs.size() - 1).executionId() if execs.size() else -1

    marks = []
    real_rename = os.rename

    def mark_promotion(src, dst):
        if "/chunk=" in dst.replace("\\", "/"):
            marks.append(last_execution())
        return real_rename(src, dst)

    cfg = _config(pages_path, tmp_path / "out1", repartition_to=4, chunk_input=True)
    start = last_execution()
    monkeypatch.setattr(R.os, "rename", mark_promotion)
    R.run_quality_filter(spark, cfg)
    # layout pass, filter write, one metrics aggregate, then nothing per chunk
    assert [m - start for m in marks] == [3, 3, 3, 3]


def test_empty_chunk_metrics_keep_string_run_id(spark, pages_pdf, tmp_path):
    """A chunk with no rows still writes its metrics slice with a string
    ``run_id``: an empty slice's object column once went to parquet as
    type null, the metrics table then read ``run_id`` as an integer, and
    ``metrics_summary`` failed to cast the run id."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from curator_spark.datagen import PAGES_SCHEMA

    cfg = R.RunConfig(str(tmp_path / "in"), str(tmp_path / "out"), num_chunks=3)
    pdf = pages_pdf.iloc[:40]
    buckets = spark.createDataFrame(pdf[["url"]]).select("url", R._chunk_bucket(cfg).alias("c"))
    # pages of chunk 1 only: chunk 0's metrics file, the first one read, is empty
    urls = [r.url for r in buckets.filter("c = 1").limit(2).collect()]
    os.makedirs(cfg.input_path)
    pq.write_table(
        pa.Table.from_pandas(pdf[pdf["url"].isin(urls)], schema=PAGES_SCHEMA, preserve_index=False),
        os.path.join(cfg.input_path, "a.parquet"),
    )
    res = R.run_quality_filter(spark, cfg)
    assert dict(R.metrics_table(spark, cfg.output_root).dtypes)["run_id"] == "string"
    rows = R.metrics_summary(spark, cfg.output_root, res.run_id).collect()
    assert [(r.run_id, r.docs_seen) for r in rows] == [(res.run_id, 2)]
