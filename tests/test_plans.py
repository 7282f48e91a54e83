"""Physical-plan regression tests: the plan SHAPE is part of the contract.

Correctness tests prove the right rows come out; these pin that they come
out via the plan we designed for 100 TB — no accidental exchanges in the
shuffle-free pipeline, broadcast joins staying broadcast, column pruning
reaching the parquet scan, window top-k keeping its rank-pushdown. A
regression here is a silent 10-100x at scale long before it shows up in a
sandbox benchmark.
"""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame

SF_DIR = "/root/testdata/sf0.001"


def _plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _n_nodes(plan: str, op: str) -> int:
    """Count physical operators of a type (the formatted explain prints each
    node once in the tree as 'Op (n)' and once in details as '(n) Op')."""
    import re

    return len(re.findall(rf"\(\d+\) {op}", plan))


def _detail(plan: str, op: str) -> str:
    """The detail block of the first node of a type."""
    import re

    m = re.search(rf"\(\d+\) {op}\b.*?(?=\n\(\d+\) |\Z)", plan, re.DOTALL)
    return m.group(0) if m else ""


def test_pipeline_default_plan_is_shuffle_free(pages_df):
    from curator_spark.plans.pipeline import quality_filter

    plan = _plan(quality_filter(pages_df))
    assert _n_nodes(plan, "Exchange") == 0, plan
    assert _n_nodes(plan, "ArrowEvalPython") == 1  # the one fused UDF boundary
    # formatted explain marks whole-stage-codegen nodes with '*': the
    # heuristics/verdict projections must stay inside codegen
    assert "* Project" in plan


def test_pipeline_salted_plan_shuffles_narrow_columns_once(pages_df):
    from curator_spark.plans.pipeline import quality_filter

    plan = _plan(quality_filter(pages_df, repartition_to=8))
    assert _n_nodes(plan, "Exchange") == 1
    # the exchange must sit ABOVE extraction: its input carries
    # extracted_text and must NOT carry html (narrow shuffle)
    exchange = _detail(plan, "Exchange")
    assert "extracted_text" in exchange, exchange
    assert "html" not in exchange, exchange


@pytest.mark.parametrize("repartition_to", [None, 8])
def test_pipeline_heuristics_do_not_rescan_text(pages_df, repartition_to):
    """The scoring UDF ships the heuristics' counts: no Project above its
    ArrowEvalPython regex-scans, strips or splits the text again (the
    verdict's ``filter`` lambda over its rule array is allowed)."""
    import re

    from curator_spark.plans.pipeline import quality_filter

    plan = _plan(quality_filter(pages_df, repartition_to=repartition_to))
    top_udf = max(int(i) for i in re.findall(r"\((\d+)\) ArrowEvalPython", plan))
    projects = re.findall(r"\((\d+)\) Project\b(.*?)(?=\n\(\d+\) |\Z)", plan, re.DOTALL)
    above = [body for i, body in projects if int(i) > top_udf]
    assert above, plan
    for body in above:
        assert not re.search(r"\b(regexp_replace|b?trim|split)\(", body), body


@pytest.mark.parametrize("repartition_to,n_udfs", [(None, 1), (8, 2)])
def test_kept_pages_scores_each_page_once(pages_df, repartition_to, n_udfs):
    """The keep filter must not be pushed below the scoring UDF's Project:
    pushed, it runs every UDF a second time for the Filter."""
    from curator_spark.plans.pipeline import kept_pages, quality_filter

    plan = _plan(kept_pages(quality_filter(pages_df, repartition_to=repartition_to)))
    assert _n_nodes(plan, "ArrowEvalPython") == n_udfs, plan


def test_q3_broadcasts_dims(spark):
    from curator_spark import queries as q

    plan = _plan(q.Q["q3_top_revenue_orders"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must not fall back to SMJ


def test_anti_join_stays_anti(spark):
    from curator_spark import queries as q

    plan = _plan(q.Q["anti_join_resume"](spark, SF_DIR))
    assert "LeftAnti" in plan


def test_scan_column_pruning_reaches_parquet(spark):
    from curator_spark import queries as q

    plan = _plan(q.Q["token_stats"](spark, SF_DIR))
    # token_stats needs only (doc_id, text): the scan must not read the
    # other document columns
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "doc_id" in scan and "text" in scan
    for col in ("lang", "source", "n_chars"):
        assert col not in scan, scan


def test_window_topk_keeps_group_limit_pushdown(spark):
    from curator_spark import queries as q

    plan = _plan(q.Q["window_topk_orders"](spark, SF_DIR))
    # Spark's WindowGroupLimit prunes rows beyond rank k BEFORE the shuffle
    assert "WindowGroupLimit" in plan


def test_exact_dedup_has_partial_aggregation(spark):
    from curator_spark import queries as q

    plan = _plan(q.Q["exact_dedup"](spark, SF_DIR))
    # map-side partial agg: one HashAggregate below the exchange, one above
    assert _n_nodes(plan, "HashAggregate") == 2
    assert "partial_count" in plan  # the below-exchange agg is partial
    assert _n_nodes(plan, "Exchange") == 1


def test_pipeline_has_no_interpreted_hof_in_hot_path(pages_df):
    """CLAUDE.md invariant: no aggregate/zip_with folds in the hot
    expressions (they run interpreted). `filter`/`array_distinct` on the
    short per-row arrays (lines, rule flags) are allowed."""
    from curator_spark.plans.pipeline import quality_filter

    plan = _plan(quality_filter(pages_df))
    assert "zip_with" not in plan
    assert "aggregate(" not in plan


def test_token_budget_pack_bucketed_window_is_hash_partitioned(spark):
    """The bucketed pack's running-sum window must sort WITHIN hash
    partitions of the bucket key — never a SinglePartition global sort
    (the 100x-scale failure mode of an unbucketed window). Score, bucket
    and token count are columns of the input rows: no join at all."""
    from curator_spark.operators import textanalysis

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(textanalysis.token_budget_pack_bucketed(docs, budget=20000, k=8))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(bucket" in plan
    assert _n_nodes(plan, r"\w*Join") == 0, plan


def test_curate_corpus_runs_the_span_strip_once(pages_df):
    """The recipe hands rows forward: the strip's Arrow cut and the pack
    return their input rows, so nothing joins their output back onto
    their input and the plan holds ONE MapInPandas."""
    from curator_spark.plans.pipeline import curate_corpus_session

    with curate_corpus_session(pages_df, domain_cap_n=2, token_budget=20000) as corpus:
        assert _n_nodes(_plan(corpus), "MapInPandas") == 1


def test_lang_scores_plan_one_partial_agg_no_lambda(spark):
    """The shipped lang_scores is explode + conditional-sum over a codegen
    InSet: exactly ONE exchange (n_docs tiny count rows, after a map-side
    partial agg) and NO interpreted lambda anywhere."""
    from curator_spark.operators import textanalysis

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(textanalysis.lang_scores(docs))
    assert _n_nodes(plan, "Exchange") == 1, plan
    assert "lambdafunction" not in plan, plan
    assert _n_nodes(plan, "HashAggregate") == 2  # partial + final


def test_embedding_near_dup_has_no_pair_cross_join(spark):
    """The blocked near-dup scorer must plan as ONE shuffle on the
    block-pair key feeding applyInPandas — never the O(n^2) pair join of
    the brute spec (whose plan IS pinned to contain the nested-loop join,
    so the contrast stays visible)."""
    from curator_spark.operators import dedup

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(dedup.embedding_near_dup_pairs(emb, threshold=0.9))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert _n_nodes(plan, "FlatMapGroupsInPandas") == 1
    brute = _plan(dedup.embedding_near_dup_pairs_brute(emb, threshold=0.9))
    assert "BroadcastNestedLoopJoin" in brute or "CartesianProduct" in brute


def test_dedup_hot_paths_have_no_interpreted_lambda(spark):
    """The shingle/vote subtrees must stay whole-stage codegen: any
    `transform(lambdafunction(...))` in a minhash/simhash plan means a spec
    HOF leaked back into a production path (12x on shingles when it did)."""
    from curator_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for name, df in (
        ("minhash_lsh_candidates", dedup.minhash_lsh_candidates(dedup.shingle_rows(docs))),
        ("simhash", dedup.simhash(docs)),
        ("simhash_md5", dedup.simhash_md5(docs)),
        ("shingle_rows", dedup.shingle_rows(docs)),
    ):
        plan = _plan(df)
        assert "lambdafunction" not in plan.lower(), (name, plan)


def test_dedup_self_joins_reuse_signature_exchange(spark):
    """Both banded/blocked self-joins must compute the signature aggregate
    ONCE: the final AQE plan feeds the second join side from a
    ReusedExchange, not a second scan+agg of the corpus."""
    from curator_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for name, df in (
        ("minhash_lsh_candidates", dedup.minhash_lsh_candidates(dedup.shingle_rows(docs))),
        ("simhash_md5_near_pairs", dedup.simhash_md5_near_pairs(docs)),
    ):
        df.collect()  # AQE finalizes reuse at runtime
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, name
        assert "ReusedExchange" in plan, (name, plan)


def _last_execution(spark) -> int:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return execs.apply(execs.size() - 1).executionId() if execs.size() else -1


def _generates_with_rows(spark, mark: int, expr: str) -> dict:
    """Output rows of each executed ``Generate <expr>`` since ``mark``, keyed
    by its SQL metric accumulator. A reused or cached subtree shows up under
    several plan-graph nodes that share one accumulator, so the key counts
    each evaluation once."""
    _last_execution(spark)  # drains the listener bus
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = {}
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        if eid <= mark:
            continue
        vals = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for n in range(nodes.size()):
            node = nodes.apply(n)
            if node.name() != "Generate" or expr not in node.desc():
                continue
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                acc = m.accumulatorId()
                if m.name() == "number of output rows" and vals.contains(acc):
                    rows = int(vals.apply(acc).replace(",", ""))
                    if rows:
                        out[acc] = rows
    return out


def test_near_dup_survivors_shingles_each_document_once(spark):
    """One ``near_dup_survivors`` call runs the shingle generator once: the
    distinct shingle table is materialized and feeds both the LSH and the
    Jaccard verify (unmaterialized, their subtrees ran it 2x here and 12x in
    a 20k-page recipe run; ReuseExchange did not dedupe them)."""
    from curator_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    mark = _last_execution(spark)
    dedup.near_dup_survivors(docs).collect()
    runs = _generates_with_rows(spark, mark, "explode(sequence(")
    assert len(runs) == 1, runs


def test_quantiles_distinct_keeps_percentile_off_the_distinct_rewrite(spark):
    """Exact percentiles and count_distinct must stay in SEPARATE
    aggregations: fused, Spark keys the first agg by (priority, custkey)
    and ships a percentile value-buffer per distinct customer through the
    shuffle (measured 1.7x at sf0.1; per-customer traffic at scale)."""
    import re

    from curator_spark import queries as q

    plan = _plan(q.Q["quantiles_distinct"](spark, SF_DIR))
    assert not re.search(
        r"Keys \[2\].*?Functions \[\d\][^\n]*percentile", plan, re.DOTALL
    ), plan


def test_simhash_near_pairs_join_is_bucket_local(spark):
    """The Hamming pair extraction must equi-join on the 16-bit chunk key
    (pigeonhole blocking) — never a cross join over all pairs."""
    from curator_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(dedup.simhash_md5_near_pairs(docs))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert _n_nodes(plan, "SortMergeJoin") + _n_nodes(plan, "BroadcastHashJoin") + _n_nodes(plan, "ShuffledHashJoin") >= 1


def test_duplicate_spans_plan_shape(spark):
    """Span dedup (r4): ONE pass over the shingles — dup detection is
    min/max window aggregates over hashpartitioning(h) (8-byte md5-prefix
    keys through the shuffle, never shingle strings; sort-based so a
    boilerplate mega-shingle spills instead of exploding one agg buffer),
    NO join back, and the island window's hashpartitioning(id) is reused
    by the final span agg: exactly 2 exchanges, zero Join nodes. No
    interpreted lambda, never SinglePartition."""
    from curator_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(dedup.duplicate_spans(docs, w=8))
    assert "SinglePartition" not in plan
    assert "lambdafunction" not in plan.lower()
    assert _n_nodes(plan, "Exchange") == 2, plan
    assert "Join" not in plan, plan  # single-pass: no join back
    assert "hashpartitioning(h" in plan and "hashpartitioning(id" in plan


def test_repetition_signals_plan_shape(spark):
    """Repetition signals (r4): within-doc stats must never shuffle — the
    shipped form is ONE Arrow-batched python stage over the scan, ZERO
    exchanges."""
    from curator_spark.operators import textanalysis

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(textanalysis.repetition_signals(docs, dup_n=3))
    assert _n_nodes(plan, "Exchange") == 0, plan
    assert "MapInPandas" in plan


def test_domain_cap_keeps_group_limit_pushdown(spark):
    """domain_cap must ride WindowGroupLimit: each map task prunes to cap
    rows per domain BEFORE the shuffle, so a mega-domain never sorts its
    full page set in one window partition."""
    from curator_spark.operators import textanalysis as ta

    pages = spark.read.parquet(f"{SF_DIR}/documents.parquet").selectExpr(
        "concat('https://d', CAST(doc_id % 7 AS STRING), '.example.org/p', doc_id) AS url"
    )
    plan = _plan(ta.domain_cap(pages, cap=5))
    assert "WindowGroupLimit" in plan
    assert "SinglePartition" not in plan


def test_strip_duplicate_spans_plan_shape(spark):
    """The strip action reuses duplicate_spans' single-pass hashed h-window
    for detection (8-byte keys, no detection join), adds ONE left join of
    per-doc span lists back onto the scan, and cuts tokens in ONE Arrow
    stage. Never SinglePartition, no interpreted lambdas, no nested-loop
    joins."""
    from curator_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(dedup.strip_duplicate_spans(docs, w=8))
    assert "SinglePartition" not in plan
    assert "lambdafunction" not in plan.lower()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "hashpartitioning(h" in plan
    assert "MapInPandas" in plan


def test_decontaminate_probes_hits_via_broadcast_semi_join(spark):
    from curator_spark.operators import dedup

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    cont = docs.filter("doc_id % 7 = 0").select("doc_id", "text")
    plan = _plan(dedup.decontaminate(docs, cont, w=13, mode="flag"))
    # hit discovery: the corpus-side shingle stage probes the broadcast
    # contaminant gram set in ONE LeftSemi broadcast hash join — the corpus
    # must never shuffle to find its hits (the 100 TB shape)
    sem = _detail(plan, "BroadcastHashJoin")
    assert "LeftSemi" in sem, plan
    # codegen shingles only — no interpreted lambda anywhere in the plan
    assert "lambdafunction" not in plan.lower()


def test_canonical_url_dedup_keeps_group_limit_pushdown(spark):
    """canonical_url_dedup's rank-1 filter must ride WindowGroupLimit: a
    boilerplate url duplicated across a whole split ships ~1 row per map
    task, never its full copy set into one window partition."""
    from curator_spark.operators import dedup

    pages = spark.read.parquet(f"{SF_DIR}/documents.parquet").selectExpr(
        "concat('HTTP://D', CAST(doc_id % 7 AS STRING), '.org/p?utm_source=', doc_id) AS url",
        "CAST('2024-01-01' AS TIMESTAMP) AS warc_ts",
        "text",
    )
    plan = _plan(dedup.canonical_url_dedup(pages, ts_col="warc_ts"))
    assert "WindowGroupLimit" in plan
    assert "SinglePartition" not in plan
    assert "lambdafunction" not in plan.lower()
