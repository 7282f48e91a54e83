"""The quality-filter pipeline: extract -> langid -> perplexity -> heuristics
-> scrub -> verdict, as one declarative Spark plan.

Spark restatement of the reference's request->response->parse lifecycle
(SURVEY.md §3.1): the whole chain after the initial repartition is a single
shuffle-free stage — scan -> one fused pandas UDF -> whole-stage-codegen'd
heuristics/verdict — so Catalyst pipelines it end-to-end and throughput
scales with cores (no barrier, no driver round-trips).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.partitioning import salted_repartition
from ..operators.heuristics import heuristics_stage
from ..operators.udf_stages import (
    add_text_t,
    extract_stage_narrow,
    fused_score_stage,
    text_score_stage,
)
from ..operators.verdict import verdict_stage

OUTPUT_COLUMNS = [
    "url",
    "warc_ts",
    "lang",
    "extracted_text",
    "scrubbed_text",
    "lang_pred",
    "lang_conf",
    "perplexity",
    "n_chars",
    "n_words",
    "mean_word_len",
    "stop_density",
    "symbol_ratio",
    "repeated_line_frac",
    "dup_word_frac",
    "scrub_email",
    "scrub_phone",
    "scrub_ip",
    "scrub_ssn",
    "scrub_toxicity",
    "drop_rules",
    "score",
    "keep",
    "error",  # per-row extract error tag (null = ok) read by the K3 failed_rows view
]


def quality_filter(
    pages: DataFrame,
    repartition_to: int | None = None,
    salt: str | None = None,
    params_col: str | None = None,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> verdict table.

    Two plan shapes, one per ``repartition_to``:

    - ``None``: the fully fused, shuffle-free plan — one Arrow boundary for
      extract+langid+perplexity+scrub. Right when the input scan layout is
      already uniform.
    - ``k``: salted url-hash repartition into ``k`` partitions (north rule,
      host-skew defusal). Extract in place, shuffle only the NARROW
      post-extract columns (raw html, 10-50x wider at web scale, never
      crosses the wire), then score on balanced partitions.

    ``params_col``: optional per-row generation-params JSON column; its
    ``truncate`` key overrides the stage's truncation row by row (P2
    per-row-override semantics, prompt_formatter.py:108-117). Honoured by
    both shapes.

    The lifecycle runner picks the fused shape over ``chunk_input`` staged
    chunks (its layout pass already did the salted spread) and the split
    shape over raw input when ``repartition_to`` is set.
    """
    if repartition_to:
        df = extract_stage_narrow(pages, params_col)  # Arrow boundary 1: html -> text
        df = df.drop("html", "text")  # narrow rows only through the wire
        df = salted_repartition(df, "url", repartition_to, *([salt] if salt else []))
        df = add_text_t(df)  # post-shuffle: ONE text copy crossed
        df = text_score_stage(df)  # Arrow boundary 2: langid+ppl+scrub
    else:
        df = fused_score_stage(pages, params_col)  # ONE Arrow boundary for everything
    df = heuristics_stage(df, text_col="text_t", stop_hits_col="stop_hits", token_stats_cols=("tok_words", "tok_distinct"))  # native codegen
    df = verdict_stage(df)  # native codegen
    return df.select(*OUTPUT_COLUMNS)


def kept_pages(verdicts: DataFrame) -> DataFrame:
    """The keep side (F5) — what downstream training-data jobs consume.

    Filtering on ``keep`` directly lets Catalyst push the verdict below the
    scoring UDF's Project, and the plan then runs the UDF twice per row:
    once for the Filter, once for the projected columns. Predicates never
    cross a Project holding a nondeterministic column, so the filter reads
    ``keep`` through one (``spark_partition_id() >= 0`` is always true) and
    each page is scored once on both plan shapes."""
    kept = F.col("keep") & (F.spark_partition_id() >= 0)
    return (
        verdicts.withColumn("_kept", kept)
        .filter(F.col("_kept"))
        .select("url", "warc_ts", "lang_pred", "scrubbed_text")
    )


def export_corpus(
    verdicts: DataFrame,
    out_dir: str,
    target_rows_per_file: int = 100_000,
    fmt: str = "parquet",
) -> None:
    """K4 publish analog: materialize the kept corpus as a clean, sharded
    dataset partitioned by predicted language. File-count control via a
    url-hash repartition (deterministic shard membership) rather than
    coalesce, so shard sizes stay balanced under host skew; at real scale
    this is an Iceberg table write with the same layout.

    ``fmt``: ``"parquet"`` (default) or ``"json"`` — JSONL with gzip codec,
    the interchange format most training pipelines ingest directly.
    """
    kept = kept_pages(verdicts)
    # Persist before the sizing count: without it the count() executes the
    # full upstream pipeline once and the write executes it a second time.
    kept.persist()
    try:
        n = kept.count()
        shards = max(1, (n + target_rows_per_file - 1) // target_rows_per_file)
        writer = (
            kept.repartition(shards, F.xxhash64("url"))
            .write.mode("overwrite")
            .partitionBy("lang_pred")
        )
        if fmt == "json":
            writer.option("compression", "gzip").json(out_dir)
        else:
            writer.parquet(out_dir)
    finally:
        kept.unpersist()


def curate_corpus(
    pages: DataFrame,
    repartition_to: int | None = None,
    jaccard_threshold: float = 0.8,
    span_w: int = 8,
    domain_cap_n: int | None = None,
    domain_grouping: str = "host",
    token_budget: int | None = None,
    min_kept_words: int = 5,
    contaminants: DataFrame | None = None,
    contaminants_text_col: str = "text",
    decon_w: int = 13,
    url_dedup: bool = False,
    _persist_registry: list | None = None,
) -> DataFrame:
    """The full training-data curation recipe over a pages table, as ONE
    composed declarative plan — what a user of the reference would run
    end-to-end (its per-stage analogs are documented on each operator):

      0. optional canonical-URL dedup (``dedup.canonical_url_dedup``,
         ``url_dedup=True``): re-crawls and tracking-decorated variants of
         the same page collapse to the freshest copy BEFORE the expensive
         extraction/scoring stage ever sees them — the cheapest dedup pass
         runs first;
      1. quality filter (extract -> langid -> perplexity -> heuristics ->
         scrub -> keep/drop), keep side only;
      1b. optional benchmark decontamination (``dedup.decontaminate``):
         when a ``contaminants`` frame is given, every kept page sharing a
         ``decon_w``-token n-gram of scrubbed text with it is dropped —
         placed FIRST after the filter so contaminated docs never pay for
         dedup/strip/cap work downstream;
      2. exact dedup + capped MinHash-LSH + Jaccard verify + connected
         components -> one survivor per duplicate cluster
         (``dedup.near_dup_survivors``, keepers matched on (url, digest):
         a url shared by two texts carries only the page whose group it
         keeps; a NULL-url page goes on unless a urled page has its text);
      3. substring-level keep-one span strip over the survivors
         (``dedup.strip_duplicate_spans`` — cross-doc boilerplate runs are
         cut everywhere but their min-key owner), then a
         ``min_kept_words`` floor: a doc whose content was mostly someone
         else's span collapses to a stub after the cut, and stubs are
         exactly what the quality filter's length rule would have dropped
         had they arrived that way;
      4. optional per-domain cap (``textanalysis.domain_cap``);
      5. optional token-budget pack, best-quality-first
         (``textanalysis.token_budget_pack_bucketed``).

    Output: (url, warc_ts, lang_pred, text) — ``text`` is the scrubbed,
    span-stripped, whitespace-normalized token sequence. Each stage hands
    its rows forward (near-dup survivors, the strip and the pack return
    their input rows plus new columns), so no stage's output is joined back
    onto its input and the strip's Arrow cut runs once. Every stage is keyed
    on url and a pure function of row content, so the result is
    deterministic under reshuffle/retry at any parallelism.

    Caching contract: the kept intermediate stays persisted for the
    session (it is referenced by the lazy plan this function returns, so
    it cannot be unpersisted here without re-executing the UDF stage per
    downstream job). Long-lived drivers running MANY recipes should use
    ``curate_corpus_session`` below, which owns the persist/unpersist
    lifetime; or ``spark.catalog.clearCache()`` between bare calls.
    Spark's MEMORY_AND_DISK eviction bounds the damage either way.

    ``_persist_registry``: internal — when a list is passed, every
    intermediate this recipe persists is appended to it so the caller
    (``curate_corpus_session``) can unpersist them deterministically.
    """
    from ..operators import dedup
    from ..operators import textanalysis as ta

    if url_dedup:
        pages = dedup.canonical_url_dedup(pages, url_col="url", ts_col="warc_ts")
    kept = kept_pages(quality_filter(pages, repartition_to=repartition_to))
    # The kept intermediate feeds MANY downstream subtrees (exact-dedup agg,
    # the shingle table, the span strip), each a separate Spark job — without
    # materialization the fused-UDF scoring stage re-executes per job (the
    # same failure mode the connected_components edge checkpoint fixed;
    # ReuseExchange never spans jobs). Persist the NARROW kept columns once;
    # spill-safe, and ~50x smaller than the html input.
    kept = kept.persist()
    if _persist_registry is not None:
        _persist_registry.append(kept)
    if contaminants is not None:
        # after the persist: decontaminate consumes kept in two subtrees
        # (gram probe + final anti join), so an unpersisted kept would
        # re-execute the scoring UDF stage for each
        kept = dedup.decontaminate(
            kept,
            contaminants,
            w=decon_w,
            text_col="scrubbed_text",
            key="url",
            cont_text_col=contaminants_text_col,
        ).persist()
        # ... and the decontaminated frame feeds the SAME ~6 downstream
        # jobs that motivated persisting kept — unpersisted, the full
        # 13-gram probe (explode + double-md5 + contaminant broadcast +
        # anti join) re-executes per job (r5 self-review finding)
        if _persist_registry is not None:
            _persist_registry.append(kept)
    corpus = (
        dedup.strip_duplicate_spans(
            dedup.near_dup_survivors(
                kept, text_col="scrubbed_text", key="url", threshold=jaccard_threshold
            ),
            text_col="scrubbed_text",
            key="url",
            w=span_w,
        )
        # n_kept_words counts REAL rendered words — n_words - n_removed
        # would count phantom empty tokens (leading/trailing tab/newline)
        # toward the floor (review-caught)
        .filter(F.col("n_kept_words") >= min_kept_words)
        .select("url", "warc_ts", "lang_pred", F.col("text_stripped").alias("text"))
    )
    if domain_cap_n is not None:
        # domain_grouping="etld1" shares one quota across subdomain farms
        # (functions.public_suffix); "host" stays the default for recorded-
        # number reproducibility — the recipe's r4 scale walls were measured
        # host-keyed
        corpus = ta.domain_cap(
            corpus, cap=domain_cap_n, grouping=domain_grouping
        ).drop("domain")
    if token_budget is not None:
        corpus = ta.token_budget_pack_bucketed(
            corpus, budget=token_budget, k=16, text_col="text", key="url"
        ).select(*corpus.columns)
    return corpus


@contextmanager
def curate_corpus_session(pages: DataFrame, **kwargs):
    """Context-managed ``curate_corpus`` that OWNS its cache lifetime: the
    recipe's persisted intermediate is unpersisted on exit, so a long-lived
    driver can run recipe after recipe without accumulating pinned storage
    (the bare function's documented footgun — its lazy result references
    the persisted frame, so it can't safely unpersist itself).

    Consume the corpus INSIDE the block (collect/write/count); after exit
    the returned frame still computes, but re-executes the scoring UDF
    stage per downstream job instead of reading the cache.

        with curate_corpus_session(pages, domain_cap_n=50) as corpus:
            corpus.write.parquet(out_dir)
    """
    handles: list[DataFrame] = []
    # curate_corpus registers its persist BEFORE later stages can raise
    # (e.g. a bad grouping/budget argument), so construction itself must
    # already be inside the cleanup scope or a failed build leaks the pin.
    try:
        yield curate_corpus(pages, _persist_registry=handles, **kwargs)
    finally:
        for h in handles:
            h.unpersist()
