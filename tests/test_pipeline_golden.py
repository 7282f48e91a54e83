"""Golden-fixture parity: the distributed pipeline must reproduce the
single-node oracle byte-for-byte (text) and exactly (verdicts) — the analog
of the reference's sha256 hash-book checks
(/root/reference/tests/integrations/test_all.py:24-25)."""

from __future__ import annotations

import pandas as pd
import pytest

from curator_spark.plans.pipeline import quality_filter


@pytest.fixture(scope="module")
def result(pages_df) -> pd.DataFrame:
    out = quality_filter(pages_df).toPandas()
    return out.sort_values("url").reset_index(drop=True)


def test_pipeline_matches_oracle(result, golden):
    res = result
    gold = golden.sort_values("url").reset_index(drop=True)
    assert len(res) == len(gold) > 0
    assert list(res["url"]) == list(gold["url"])

    # byte-identical text contracts (BASELINE.json input_hint)
    assert res["extracted_text"].equals(gold["extracted_text"])
    assert res["scrubbed_text"].equals(gold["scrubbed_text"])

    # exact model outputs (same pure functions both sides)
    assert list(res["lang_pred"]) == list(gold["lang_pred"])
    assert res["lang_conf"].tolist() == gold["lang_conf"].tolist()
    assert res["perplexity"].tolist() == gold["perplexity"].tolist()

    # verdict agreement: structurally F1 = 1.0 (target >= 0.99)
    assert res["score"].tolist() == gold["score"].tolist()
    assert res["keep"].tolist() == gold["keep"].tolist()
    assert [list(x) for x in res["drop_rules"]] == list(gold["drop_rules"])


def test_repartition_path_matches_fused(result, pages_df):
    """The salted-repartition plan (extract -> narrow shuffle -> score) must
    produce exactly the same rows as the shuffle-free fused plan."""
    rep = (
        quality_filter(pages_df, repartition_to=8)
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    assert list(rep.columns) == list(result.columns)
    for col in ("url", "extracted_text", "scrubbed_text", "lang_pred", "score", "keep"):
        assert list(rep[col]) == list(result[col]), col
    assert rep["perplexity"].tolist() == result["perplexity"].tolist()
    assert [list(x) for x in rep["drop_rules"]] == [list(x) for x in result["drop_rules"]]


def test_keep_drop_f1(result, golden):
    res = result
    gold = golden.sort_values("url").reset_index(drop=True)
    tp = int(((res["keep"]) & (gold["keep"])).sum())
    fp = int(((res["keep"]) & (~gold["keep"])).sum())
    fn = int(((~res["keep"]) & (gold["keep"])).sum())
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    assert f1 >= 0.99, f"keep/drop F1 {f1} below target"
    # both classes must actually occur in the fixture
    assert 0 < int(gold["keep"].sum()) < len(gold)


def test_content_classes_exercised(golden):
    """Every drop rule and scrub rule fires somewhere in the fixture."""
    fired = set()
    for lst in golden["drop_rules"]:
        fired.update(lst)
    assert {"toxicity", "perplexity", "repeated_line", "symbol"} <= fired, fired
    scrubs = pd.DataFrame(list(golden["scrubs"]))
    for rule in ("email", "phone", "ip", "toxicity"):
        assert scrubs[rule].sum() > 0, f"scrub rule {rule} never fired"


@pytest.mark.parametrize("repartition_to", [None, 8])
def test_params_col_drives_truncation(pages_df, repartition_to):
    """Per-row generation-params JSON overrides the truncation operator
    (P2 semantics) on both plan shapes: text_t length obeys each row's own
    config, rows without params keep the global default, and the salted
    shape still shuffles once, narrow, and yields the fused shape's rows."""
    import re

    from pyspark.sql import functions as F

    from curator_spark import rules
    from curator_spark.operators.udf_stages import (
        add_text_t,
        extract_stage_narrow,
        fused_score_stage,
    )

    with_params = pages_df.withColumn(
        "gen_params",
        F.when(F.xxhash64("url") % 2 == 0, F.lit('{"truncate": 25}')).otherwise(
            F.lit(None).cast("string")
        ),
    )
    if repartition_to is None:
        stage = fused_score_stage(with_params, params_col="gen_params")
    else:
        stage = add_text_t(extract_stage_narrow(with_params, params_col="gen_params"))
    stage = stage.select("url", "gen_params", "extracted_text", "text_t").toPandas()
    for r in stage.itertuples(index=False):
        limit = rules.truncate_limit(r.gen_params)
        assert r.text_t == r.extracted_text[:limit], r.url
    overridden = stage[stage["gen_params"].notna()]
    assert (overridden["text_t"].str.len() <= 25).all() and len(overridden) > 0
    # end-to-end: the override propagates through the full verdict plan
    verdicts = quality_filter(
        with_params, repartition_to=repartition_to, params_col="gen_params"
    )
    out = (
        verdicts.join(with_params.select("url", "gen_params"), "url")
        .select("url", "gen_params", "n_chars", "extracted_text")
        .toPandas()
    )
    assert len(out) == len(stage)
    for r in out.itertuples(index=False):
        assert r.n_chars == len(r.extracted_text[: rules.truncate_limit(r.gen_params)])
    if repartition_to is not None:
        plan = verdicts._sc._jvm.PythonSQLUtils.explainString(
            verdicts._jdf.queryExecution(), "formatted"
        )
        exchanges = re.findall(r"\(\d+\) Exchange\b.*?(?=\n\(\d+\) |\Z)", plan, re.DOTALL)
        assert len(exchanges) == 1, plan
        assert "html" not in exchanges[0], exchanges[0]
        fused = quality_filter(with_params, params_col="gen_params")
        assert verdicts.orderBy("url").collect() == fused.orderBy("url").collect()


def test_export_corpus_executes_pipeline_once(spark, pages_df, tmp_path):
    """The sizing count() must not trigger a second full execution of the
    upstream plan (persist-before-count): an accumulator inside the plan
    counts evaluations per row."""
    from pyspark.sql import functions as F

    from curator_spark.plans.pipeline import export_corpus

    acc = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def tick(s):
        acc.add(1)
        return s

    n = pages_df.count()
    verdicts = pages_df.select(
        "url",
        "warc_ts",
        F.lit("en").alias("lang_pred"),
        tick(F.col("url")).alias("scrubbed_text"),
        F.lit(True).alias("keep"),
    )
    export_corpus(verdicts, str(tmp_path / "once"), target_rows_per_file=100)
    assert acc.value == n, f"pipeline evaluated {acc.value / n:.1f}x per row"


def test_export_corpus_roundtrip(spark, pages_df, golden, tmp_path):
    """K4 publish analog: kept pages exported as a lang-partitioned sharded
    corpus; read-back equals the golden keep set exactly."""
    from curator_spark.plans.pipeline import export_corpus, quality_filter

    out = str(tmp_path / "corpus")
    export_corpus(quality_filter(pages_df), out, target_rows_per_file=100)
    back = spark.read.parquet(out).toPandas()
    gold = golden[golden["keep"]]
    assert len(back) == len(gold)
    assert set(back["url"]) == set(gold["url"])
    merged = back.merge(gold[["url", "scrubbed_text"]], on="url", suffixes=("", "_g"))
    assert merged["scrubbed_text"].equals(merged["scrubbed_text_g"])


def test_curate_corpus_recipe(spark, pages_df):
    """The end-to-end curation recipe: filter -> near-dup survivors ->
    span strip -> domain cap -> budget pack, composed on url keys.

    Pins: row accounting matches the survivor contract stage by stage,
    output texts are exactly-distinct, cross-doc duplicated spans are
    gone except seam artifacts (measured as a hard bound), the domain cap
    binds, and the whole recipe is deterministic under repartition."""
    from curator_spark.operators import dedup
    from curator_spark.operators import textanalysis as ta
    from curator_spark.plans.pipeline import curate_corpus, kept_pages, quality_filter

    kept = kept_pages(quality_filter(pages_df))
    n_kept = kept.count()
    surv = dedup.near_dup_survivors(kept, text_col="scrubbed_text", key="url", threshold=0.8)
    out = curate_corpus(pages_df, jaccard_threshold=0.8)
    rows = out.collect()
    # <= survivors: the min_kept_words floor drops docs the span strip
    # reduced to stubs (their content lives on in the owner doc)
    assert len(rows) <= surv.count() < n_kept
    assert len(rows) >= surv.count() * 0.9  # the floor trims stubs, not the corpus
    assert set(out.columns) == {"url", "warc_ts", "lang_pred", "text"}
    texts = [r.text for r in rows]
    assert len(set(texts)) == len(texts)  # exact-distinct after dedup+strip
    # substring dedup did its job: duplicated 8-token spans across docs are
    # gone up to seam shingles created by interior cuts
    residue = dedup.duplicate_spans(out, text_col="text", key="url", w=8).count()
    before = dedup.duplicate_spans(kept, text_col="scrubbed_text", key="url", w=8).count()
    assert before > 0 and residue <= before * 0.2, (residue, before)
    # optional stages bind
    capped = curate_corpus(pages_df, domain_cap_n=2)
    per_dom = (
        capped.groupBy(ta.url_domain(capped.url).alias("d")).count().collect()
    )
    assert per_dom and max(r["count"] for r in per_dom) <= 2
    # etld1 grouping threads through: the quota key is the registrable
    # domain, so per-eTLD+1 counts respect the cap too
    from curator_spark.functions.public_suffix import registrable_domain

    capped_e = curate_corpus(pages_df, domain_cap_n=2, domain_grouping="etld1")
    per_reg = (
        capped_e.groupBy(
            registrable_domain(ta.url_domain(capped_e.url)).alias("d")
        )
        .count()
        .collect()
    )
    assert per_reg and max(r["count"] for r in per_reg) <= 2
    # determinism under repartition
    again = {(r.url, r.text) for r in curate_corpus(pages_df.repartition(13)).collect()}
    assert again == {(r.url, r.text) for r in rows}


def test_curate_corpus_session_owns_cache(spark, pages_df):
    """Two sequential recipes through the context manager leave ZERO
    dataframes pinned in the cache manager (r5 VERDICT #5): the session
    wrapper unpersists the kept intermediate on exit, so a long-lived
    driver can loop recipes without accumulating pinned storage. Also pins
    that the wrapper returns the same corpus as the bare call."""
    from curator_spark.plans.pipeline import curate_corpus, curate_corpus_session

    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    # start clean so the assertion below is about THIS test's recipes
    spark.catalog.clearCache()
    assert cache_mgr.isEmpty()

    baseline = {(r.url, r.text) for r in curate_corpus(pages_df).collect()}
    spark.catalog.clearCache()  # release the bare call's documented pin

    for _ in range(2):
        with curate_corpus_session(pages_df) as corpus:
            assert not cache_mgr.isEmpty()  # the cache IS used inside
            got = {(r.url, r.text) for r in corpus.collect()}
            assert got == baseline
        assert cache_mgr.isEmpty(), "recipe left a persisted frame behind"

    # a recipe that fails to CONSTRUCT (bad argument raised after the
    # intermediate was persisted) must not leak the pin either (r5 review)
    with pytest.raises(ValueError):
        with curate_corpus_session(pages_df, domain_cap_n=5, domain_grouping="etld"):
            pass
    assert cache_mgr.isEmpty(), "failed construction leaked a persisted frame"


def test_curate_corpus_decontamination_stage(spark, pages_df):
    """The optional decontamination stage (r5): contaminated kept pages
    vanish from the curated corpus, and the stage is EXACTLY an up-front
    anti join — feeding the recipe an input pre-filtered by the flagged
    urls yields the identical corpus (every downstream stage sees the same
    kept set either way)."""
    from pyspark.sql import functions as F

    from curator_spark.operators import dedup
    from curator_spark.plans.pipeline import curate_corpus, kept_pages, quality_filter

    kept = kept_pages(quality_filter(pages_df))
    # contaminants = verbatim scrubbed text of a deterministic slice of
    # kept pages long enough to yield 13-grams (an "eval suite" whose docs
    # appear verbatim in the training crawl)
    cont = (
        kept.filter(F.size(F.split(F.trim("scrubbed_text"), r"\s+")) >= 13)
        .orderBy("url")
        .limit(3)
        .select(F.col("scrubbed_text").alias("text"))
    )
    flagged = dedup.decontaminate(
        kept,
        cont,
        w=13,
        text_col="scrubbed_text",
        key="url",
        cont_text_col="text",
        mode="flag",
    )
    bad_urls = {r.url for r in flagged.filter("contaminated").collect()}
    assert len(bad_urls) >= 3  # at minimum the three verbatim sources

    out = {
        (r.url, r.text)
        for r in curate_corpus(pages_df, contaminants=cont).collect()
    }
    assert out and not {u for (u, _) in out} & bad_urls
    pre = pages_df.filter(~F.col("url").isin(list(bad_urls)))
    expect = {(r.url, r.text) for r in curate_corpus(pre).collect()}
    assert out == expect

    # the decontaminated intermediate is persisted (it feeds ~6 downstream
    # jobs — r5 self-review finding) and the session wrapper owns BOTH pins
    from curator_spark.plans.pipeline import curate_corpus_session

    spark.catalog.clearCache()
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    with curate_corpus_session(pages_df, contaminants=cont) as corpus:
        assert {(r.url, r.text) for r in corpus.collect()} == out
        assert not cache_mgr.isEmpty()
    assert cache_mgr.isEmpty(), "session left a persisted frame behind"


def test_curate_corpus_url_dedup_stage(spark, pages_df):
    """Stage 0 (r5): dirtying the input with tracking-decorated, fragment-
    bearing re-crawl variants of existing pages and enabling url_dedup
    yields the clean input's corpus TEXTS exactly — the variants collapse
    to one page per canonical url before extraction."""
    from pyspark.sql import functions as F

    from curator_spark.plans.pipeline import curate_corpus

    clean_texts = sorted(r.text for r in curate_corpus(pages_df).collect())

    # variants: same html (same content), decorated urls, OLDER ts so the
    # pristine original row survives the keep rule and the corpus is
    # byte-identical to the clean run
    variants = pages_df.limit(20).select(
        F.concat(F.col("url"), F.lit("?utm_source=feed&utm_medium=rss#frag")).alias("url"),
        (F.col("warc_ts") - F.expr("INTERVAL 10 DAYS")).alias("warc_ts"),
        "html",
        "text",
        "lang",
    )
    dirty = pages_df.unionByName(variants.select(*pages_df.columns))
    out = sorted(
        r.text for r in curate_corpus(dirty, url_dedup=True).collect()
    )
    assert out == clean_texts


# Unicode whitespace the JVM's space-only trim kept: the pipeline heuristics
# must still equal the python spec (str.strip) on them
UNICODE_WS_TEXTS = [
    "alpha beta gamma\n\t\nalpha beta gamma",
    "one two\n\xa0\none two\nthree",
    "　　ceci est une phrase de test",
    "\xa0hello world\xa0",
]


def test_pipeline_heuristics_match_rules_on_unicode_whitespace(spark):
    """Texts scored by the scoring UDF (``text_score_stage``) and then
    ``heuristics_stage`` with its ride-along counts equal
    ``rules.heuristic_stats`` on every statistic."""
    from curator_spark import rules
    from curator_spark.operators.heuristics import heuristics_stage
    from curator_spark.operators.udf_stages import text_score_stage

    texts = UNICODE_WS_TEXTS + [
        " \x1c plain text \n\x85\nplain text ",
        "crlf line\r\ncrlf line\r\n\u2028\r\nlast",
        "\U0001f600 astral \U0001d49c!! ?? \U0001f600 astral \U0001d49c!!",
        "\x1c",
        "",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text_t string")
    got = (
        heuristics_stage(
            text_score_stage(df), stop_hits_col="stop_hits", token_stats_cols=("tok_words", "tok_distinct")
        )
        .orderBy("i")
        .toPandas()
    )
    for t, (_, r) in zip(texts, got.iterrows()):
        want = rules.heuristic_stats(t)
        assert {k: r[k] for k in want} == want, repr(t)
