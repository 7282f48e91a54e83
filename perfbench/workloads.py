"""The benchmark workloads, their output checks and the per-layer sweep.

Each workload is a closed loop: one driver process, ``local[4]``, the next
iteration starts after the previous one has completed. ``iteration()``
returns the timed walls and whether the output check held. ``layers()``
(traced runs only) measures every module named in ``BENCHMARK.json`` over
the workload's own input, plus an instrumented ``curate_corpus`` over a
small seeded recipe input, so every traced run reports the same metrics.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from contextlib import ExitStack, contextmanager

import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

import gen
import harness as h
from curator_spark.plans.pipeline import curate_corpus_session, quality_filter

GOLDEN_SAMPLE = 200  # pages checked against the single-node oracle
KERNEL_SAMPLE = 2_000  # pages for the in-process row-kernel timings
NUM_CHUNKS = 2  # the runner is job-bound: each chunk adds its own commit jobs
RESUMES = 3  # kill-and-resume rounds per runner cycle: resume_s is their median
REPARTITION_TO = 8
RECIPE_DOMAIN_CAP = 50
RECIPE_TOKENS_PER_PAGE = 40  # token budget = this x input pages: it binds
RECIPE_MIN_WORDS = 5  # curate_corpus's default min_kept_words
RECIPE_SHUFFLE_PARTITIONS = 2
STAGE_REPS = 2
SCALING_FILES = 4  # one scan task per file: 4 files fill the 4 task threads
RUNNER_PROBE_FILES = 1  # input files a runner cycle reads on a non-runner workload


def _digest(df) -> tuple:
    """Order-independent content digest: (rows, distinct urls, xor of row
    hashes)."""
    row = df.agg(
        F.count(F.lit(1)),
        F.count_distinct("url"),
        F.bit_xor(F.xxhash64("url", "keep", "score", "drop_rules", "scrubbed_text")),
    ).collect()[0]
    return tuple(row)


def _run_config(root: str, input_path: str):
    from curator_spark.plans.runner import RunConfig

    return RunConfig(input_path=input_path, output_root=root, num_chunks=NUM_CHUNKS,
                     repartition_to=REPARTITION_TO, chunk_input=True)


@contextmanager
def _patched(obj, name: str, wrap):
    """Replace ``obj.name`` with ``wrap(obj.name)`` for the block."""
    orig = getattr(obj, name)
    setattr(obj, name, wrap(orig))
    try:
        yield
    finally:
        setattr(obj, name, orig)


def _max_over_mean(df) -> float:
    counts = [r[1] for r in df.groupBy(F.spark_partition_id()).count().collect()]
    return max(counts) / (sum(counts) / len(counts))


class Workload:
    repartition_to: int | None = None  # the workload's filter plan

    def __init__(self, spark, work: str, data_dir: str, info: dict, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.data_root = os.path.dirname(data_dir)
        self.pages_path = os.path.join(data_dir, "pages")
        self.n = info["pages"]
        self.seed = seed
        self.tracer = tracer
        self.store = h.StatusStore(spark)
        self.pages = spark.read.parquet(self.pages_path)
        self.checks: list[bool] = []  # output checks made inside layers()
        self.cycles = 0

    def final_check(self) -> bool:
        return True

    def cold(self) -> dict:
        """The first iteration, on a cold JVM: the set-up pass."""
        return self.iteration()

    def _first_files(self, k: int) -> tuple[list[str], int]:
        """Paths of the first ``k`` input files and their row count."""
        files = sorted(f for f in os.listdir(self.pages_path) if f.endswith(".parquet"))[:k]
        paths = [os.path.join(self.pages_path, f) for f in files]
        return paths, sum(pq.ParquetFile(p).metadata.num_rows for p in paths)

    def _noop_s(self, span: str, df) -> tuple[float, dict]:
        mark = self.store.mark()
        with self.tracer.span(span):
            t0 = time.perf_counter()
            h.noop(df)
            wall = time.perf_counter() - t0
        return wall, self.store.since(mark)

    def _traced_counts(self, mark: int) -> None:
        if self.tracer.enabled:  # status-store numbers of each traced run
            self.tracer.counts.append(h.engine_metrics(self.store.since(mark)))

    # -- lifecycle runner: fresh run, simulated kill, resume, cache probe --

    def runner_cycle(self, pages_path: str, n: int, resumes: int) -> dict:
        """Fresh run, then ``resumes`` times a simulated kill and the
        resume, then a cache-hit probe."""
        from curator_spark.plans import runner

        self.cycles += 1
        root = os.path.join(self.work, "runner", f"cycle{self.cycles}")
        shutil.rmtree(root, ignore_errors=True)
        cfg = _run_config(root, pages_path)
        mark = self.store.mark()
        with self.tracer.span("plans.runner.fresh"):
            t0 = time.perf_counter()
            fresh = runner.run_quality_filter(self.spark, cfg)
            fresh_s = time.perf_counter() - t0
        fresh_end = self.store.mark()
        self._traced_counts(mark)
        before = _digest(runner.load_output(self.spark, fresh))
        written = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(fresh.run_dir) if "input_chunked" not in d
            for f in fs if f.endswith(".parquet")
        )
        resume_s, resumed_ok = [], True
        for _ in range(resumes):
            # simulated kill: half the committed chunks and the manifest vanish
            os.remove(os.path.join(fresh.run_dir, "manifest.json"))
            for c in range(0, NUM_CHUNKS, 2):
                shutil.rmtree(os.path.join(fresh.run_dir, f"chunk={c}"))
            with self.tracer.span("plans.runner.resume"):
                t0 = time.perf_counter()
                res = runner.run_quality_filter(self.spark, cfg)
                resume_s.append(time.perf_counter() - t0)
            resumed_ok = resumed_ok and _digest(runner.load_output(self.spark, res)) == before
        summary = runner.metrics_summary(self.spark, root, res.run_id).collect()[0]
        with self.tracer.span("plans.runner.cache_probe"):
            t0 = time.perf_counter()
            probe = runner.run_quality_filter(self.spark, cfg)
            probe_ms = (time.perf_counter() - t0) * 1e3
        ok = (
            resumed_ok
            and before[0] == before[1] == n
            and summary.docs_seen == summary.docs_kept + summary.docs_dropped == n
            and fresh.chunks_run == NUM_CHUNKS
            and res.chunks_run == res.chunks_skipped == NUM_CHUNKS // 2
            and probe.cache_hit and probe.chunks_run == 0
        )
        shutil.rmtree(root, ignore_errors=True)
        return {"wall": fresh_s, "resume": h.median(resume_s), "ok": ok, "probe_ms": probe_ms,
                "execs": self.store.exec_walls(mark, fresh_end), "kept": summary.docs_kept,
                "chunks_run": res.chunks_run, "chunks_skipped": res.chunks_skipped, "bytes": written}

    # -- per-layer sweep (traced runs) --------------------------------------

    def layers(self, untraced: list[dict], traced: list[dict]) -> dict:
        m = self.row_kernels()
        filter_metrics, plan_sql = self.filter_layers()
        m.update(filter_metrics)
        # python compute spread over the 4 task threads, as a share of the
        # fused stage's wall; the rest is the JVM<->python boundary and JVM
        kernels_s = sum(v for k, v in m.items() if k.endswith("_us")) * self.n / 1e6
        m["udf_stages.py_compute_share"] = kernels_s / h.CORES / m["udf_stages.fused_score_stage_s"]
        m["pipeline.kept_frac"] = traced[-1]["kept"] / self.n
        m.update(self.partitioning(plan_sql))
        m.update(self.runner_layers(untraced, traced))
        m.update(self.recipe_layers())
        ratio = m["trace.reconcile_ratio"] = self.reconcile(m, untraced)
        self.checks.append(self.RECONCILE[0] <= ratio <= self.RECONCILE[1])
        return m

    def row_kernels(self) -> dict:
        """Per-row cost of the python kernels inside the fused UDF, timed in
        this process on a seeded sample of the workload's pages."""
        from curator_spark import rules
        from curator_spark.lm import get_lm

        table = pq.read_table(self.pages_path, columns=["html"])
        idx = random.Random(self.seed).sample(range(table.num_rows), min(KERNEL_SAMPLE, table.num_rows))
        html = [table.column("html")[i].as_py() for i in idx]
        lm = get_lm()
        out = {}

        def per_row(name, fn):
            with self.tracer.span(name):
                t0 = time.perf_counter()
                res = fn()
                out[name + "_us"] = (time.perf_counter() - t0) / len(html) * 1e6
            return res

        st = per_row("rules.extract_status", lambda: [rules.extract_status(x) for x in html])
        trunc = [s[0][: rules.TRUNCATE_CHARS] for s in st]
        per_row("rules.langid_token_stats_batch", lambda: rules.langid_token_stats_batch(trunc))
        per_row("lm.perplexities", lambda: lm.perplexities(trunc))
        per_row("rules.scrub_text", lambda: [rules.scrub_text(t) for t in trunc])
        return out

    def filter_layers(self) -> tuple[dict, dict]:
        """udf_stages / heuristics / verdict / pipeline over the workload's
        pages, plus the status-store numbers of the filter plan's noop.
        Heuristics and verdict are timed as prefix-noop deltas over the
        cached fused output, so the UDF's noise does not swamp them."""
        from curator_spark.operators.heuristics import heuristics_stage
        from curator_spark.operators.udf_stages import (
            extract_stage_narrow,
            extract_truncate_stage,
            fused_score_stage,
            text_score_stage,
        )
        from curator_spark.operators.verdict import verdict_stage

        def heur(df):
            return heuristics_stage(df, text_col="text_t", stop_hits_col="stop_hits",
                                    token_stats_cols=("tok_words", "tok_distinct"))

        fused_s, sql = self._noop_s("udf_stages.fused_score_stage", fused_score_stage(self.pages))
        ext_s, _ = self._noop_s("udf_stages.extract_stage_narrow", extract_stage_narrow(self.pages))
        score_s, _ = self._noop_s("udf_stages.text_score_stage",
                                  text_score_stage(extract_truncate_stage(self.pages)))
        cached = fused_score_stage(self.pages).persist()
        try:
            cached.count()
            variants = (("base", cached), ("heur", heur(cached)), ("verdict", verdict_stage(heur(cached))))
            walls: dict = {name: [] for name, _ in variants}
            for _ in range(STAGE_REPS):  # interleaved, so a slow spell hits all three
                for name, df in variants:
                    walls[name].append(self._noop_s(f"prefix.{name}", df)[0])
            prefix = {name: h.median(w) for name, w in walls.items()}
        finally:
            cached.unpersist()
        qf_s, plan_sql = self._noop_s("pipeline.quality_filter",
                                      quality_filter(self.pages, repartition_to=self.repartition_to))
        arrow = h.arrow_metrics(sql)
        out = {
            "udf_stages.fused_score_stage_s": fused_s,
            "udf_stages.arrow_bytes_to_py": arrow["to_py"],
            "udf_stages.arrow_bytes_from_py": arrow["from_py"],
            "udf_stages.py_worker_run_s": arrow["run_s"],
            "udf_stages.extract_stage_narrow_s": ext_s,
            "udf_stages.text_score_stage_s": score_s - ext_s,
            "heuristics.heuristics_stage_s": prefix["heur"] - prefix["base"],
            "verdict.verdict_stage_s": prefix["verdict"] - prefix["heur"],
            "pipeline.quality_filter_s": qf_s,
        }
        out.update(self.scaling())
        return out, plan_sql

    def scaling(self) -> dict:
        """The same warm fused filter plan over the first input files with
        the whole Spark process tree re-pinned to one CPU, then back: the
        north-rule scaling evidence (diagnostic; the JVM keeps its 4 task
        threads and GC threads)."""
        paths, n = self._first_files(SCALING_FILES)
        pages = self.spark.read.parquet(*paths)
        pid = h.jvm_pid()
        cpus = sorted(os.sched_getaffinity(0))
        walls = {}
        for k in (1, len(cpus)):
            h.pin_tree(pid, set(cpus[:k]))
            walls[k], _ = self._noop_s(f"pipeline.quality_filter.{k}cpu", quality_filter(pages))
        one, full = n / walls[1], n / walls[len(cpus)]
        return {"pipeline.pages_per_s_1cpu": one, "pipeline.scaling_eff_1_to_4": full / one / len(cpus)}

    def partitioning(self, plan_sql: dict) -> dict:
        """Shuffle bytes of the workload's filter plan, and the partition
        balance its input gets: scan partitions for the fused plan, salted
        partitions for the repartitioned one."""
        from curator_spark.functions.partitioning import salted_repartition

        spread = salted_repartition(self.pages, "url", self.repartition_to) if self.repartition_to else self.pages
        return {
            "partitioning.salted_repartition_shuffle_bytes":
                h.engine_metrics(plan_sql)["spark.shuffle_bytes_written"],
            "partitioning.rows_max_over_mean": _max_over_mean(spread),
        }

    def runner_layers(self, untraced: list[dict], traced: list[dict]) -> dict:
        """One runner cycle over the first few input files."""
        paths, n = self._first_files(RUNNER_PROBE_FILES)
        # one glob path: the runner config takes a single input path
        path = os.path.join(self.pages_path, "{" + ",".join(os.path.basename(p) for p in paths) + "}")
        c = self.runner_cycle(path, n, 1)
        self.checks.append(c["ok"])
        return self._runner_metrics(c, c["wall"])

    @staticmethod
    def _runner_metrics(c: dict, fresh_s: float) -> dict:
        """A fresh run's Spark executions are the input layout pass, the
        filter plan's partitioned write, then per chunk its metrics and
        quarantine commits; ``commit_s`` sums the walls of the latter."""
        return {
            "runner.fresh_s": fresh_s,
            "runner.input_stage_s": c["execs"][0],
            "runner.commit_s": sum(c["execs"][2:]),
            "runner.cache_probe_ms": c["probe_ms"],
            "runner.chunks_run": c["chunks_run"],
            "runner.chunks_skipped": c["chunks_skipped"],
            "runner.bytes_written": c["bytes"],
        }

    RECONCILE: tuple[float, float]  # stated tolerance of trace.reconcile_ratio

    def reconcile(self, m: dict, untraced: list[dict]) -> float:
        raise NotImplementedError

    # -- curate_corpus, instrumented stage by stage --------------------------

    def recipe_layers(self) -> dict:
        """``curate_corpus_session`` over a small seeded recipe input. For
        the call, each stage function the recipe composes is wrapped so its
        output is persisted, counted and timed where the recipe hands it on,
        and the LSH candidate and verified pairs are counted where
        ``near_dup_survivors`` makes them. The recipe's own order, arguments
        and output are what run and what is checked."""
        from curator_spark.operators import dedup
        from curator_spark.operators import textanalysis as ta
        from curator_spark.plans import pipeline

        data_dir, info = gen.generate("recipe_full", self.seed, self.data_root)
        pages = self.spark.read.parquet(os.path.join(data_dir, "pages"))
        cont = self.spark.read.parquet(os.path.join(data_dir, "contaminants.parquet"))
        budget = RECIPE_TOKENS_PER_PAGE * info["pages"]
        m: dict = {}
        held: dict = {}  # ledger label or metric -> a persisted output

        def stage(metric, label):
            def wrap(fn):
                def run(df, *a, **kw):
                    n_in = df.count()
                    with self.tracer.span(metric):
                        t0 = time.perf_counter()
                        out = fn(df, *a, **kw).persist()
                        n_out = out.count()
                        m[metric] = time.perf_counter() - t0
                    held[label] = out
                    m[f"recipe.{label}.rows_in"], m[f"recipe.{label}.rows_out"] = n_in, n_out
                    return out
                return run
            return wrap

        def counted(metric):
            """Persisted, so the count is the materialization the stage
            would make anyway rather than a recomputation."""
            def wrap(fn):
                def run(*a, **kw):
                    out = held[metric] = fn(*a, **kw).persist()
                    m[metric] = out.count()
                    return out
                return run
            return wrap

        hooks = (
            (dedup, "canonical_url_dedup", stage("dedup.canonical_url_dedup_s", "url_dedup")),
            (pipeline, "kept_pages", stage("pipeline.curate_corpus.kept_persist_s", "filter")),
            (dedup, "decontaminate", stage("dedup.decontaminate_s", "decontaminate")),
            (dedup, "near_dup_survivors", stage("dedup.near_dup_survivors_s", "near_dup")),
            (dedup, "minhash_lsh_candidates", counted("dedup.lsh_candidate_pairs")),
            (dedup, "ngram_jaccard_pairs", counted("dedup.jaccard_verified_pairs")),
            (dedup, "strip_duplicate_spans", stage("dedup.strip_duplicate_spans_s", "strip_floor")),
            (ta, "domain_cap", stage("textanalysis.domain_cap_s", "domain_cap")),
            (ta, "token_budget_pack_bucketed", stage("textanalysis.token_budget_pack_bucketed_s", "budget")),
        )
        conf = self.spark.conf
        default = conf.get("spark.sql.shuffle.partitions")
        # a few hundred rows: more shuffle partitions only add tasks per job
        conf.set("spark.sql.shuffle.partitions", str(RECIPE_SHUFFLE_PARTITIONS))
        mark = self.store.mark()
        try:
            with ExitStack() as patches:
                for mod, name, wrap in hooks:
                    patches.enter_context(_patched(mod, name, wrap))
                with self.tracer.span("pipeline.curate_corpus"), curate_corpus_session(
                    pages, url_dedup=True, contaminants=cont, domain_cap_n=RECIPE_DOMAIN_CAP, token_budget=budget,
                ) as corpus:
                    out = corpus.select("url", "text").toPandas()
                    m["recipe.spark.jobs"] = self.store.jobs_since(mark)
                    m["dedup.tokens_removed"] = held["strip_floor"].agg(F.sum("n_removed")).collect()[0][0] or 0
                    kept_urls = {r[0] for r in held["filter"].select("url").collect()}
        finally:
            conf.set("spark.sql.shuffle.partitions", default)
            for df in held.values():
                df.unpersist()
        # the strip stage keeps every row; the word floor after it drops stubs
        m["recipe.strip_floor.rows_out"] = m["recipe.domain_cap.rows_in"]
        m["dedup.lsh_precision"] = m["dedup.jaccard_verified_pairs"] / max(m["dedup.lsh_candidate_pairs"], 1)
        self.checks.append(self.recipe_ok(out, kept_urls, budget))
        return m

    def recipe_ok(self, out, kept_urls: set, budget: int) -> bool:
        """Output urls are unique and a subset of the filter's kept set,
        every doc keeps ``min_kept_words``, each host is within the cap and
        the tokens are within budget. Host and token count come from the
        operators' own column functions."""
        from curator_spark.operators import textanalysis as ta

        df = self.spark.createDataFrame(out, "url string, text string")
        got = (
            ta.token_stats(df, text_col="text", key="url")
            .join(df.select("url", ta.url_domain(F.col("url")).alias("domain")), "url")
            .toPandas()
        )
        return (
            len(out) > 0
            and out["url"].is_unique
            and set(out["url"]) <= kept_urls
            and bool((out["text"].str.split().str.len() >= RECIPE_MIN_WORDS).all())
            and int(got.groupby("domain", dropna=False).size().max()) <= RECIPE_DOMAIN_CAP
            and int(got["n_bpe_tokens"].sum()) <= budget
        )


class QfUniform(Workload):
    """Flagship ``quality_filter``: shuffle-free fused plan, noop sink."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.kept = None

    def iteration(self) -> dict:
        obs = Observation("qf")
        mark = self.store.mark()
        with self.tracer.span("pipeline.quality_filter"):
            plan = quality_filter(self.pages).observe(
                obs, F.count(F.lit(1)).alias("rows"), F.sum(F.col("keep").cast("long")).alias("kept")
            )
            t0 = time.perf_counter()
            h.noop(plan)
            wall = time.perf_counter() - t0
        self._traced_counts(mark)
        got = obs.get
        ok = got["rows"] == self.n and self.kept in (None, got["kept"])
        self.kept = got["kept"]
        # the plan has no resume: a killed run is rerun whole
        return {"wall": wall, "resume": wall, "ok": ok, "kept": got["kept"]}

    def final_check(self) -> bool:
        """A seeded sample equals the single-node oracle on keep, score,
        drop_rules and scrubbed_text."""
        from curator_spark.oracle import golden_labels

        table = pq.read_table(self.pages_path)
        idx = sorted(random.Random(self.seed).sample(range(table.num_rows), min(GOLDEN_SAMPLE, table.num_rows)))
        sample = table.take(idx).to_pandas()
        gold = golden_labels(sample).set_index("url")
        got = (
            quality_filter(self.pages)
            .filter(F.col("url").isin(list(sample["url"])))
            .select("url", "keep", "score", "drop_rules", "scrubbed_text")
            .toPandas()
            .set_index("url")
        )
        if len(got) != len(gold):
            return False
        for url, g in gold.iterrows():
            r = got.loc[url]
            if (bool(r.keep), int(r.score), list(r.drop_rules), r.scrubbed_text) != (
                bool(g.keep), int(g.score), list(g.drop_rules), g.scrubbed_text
            ):
                return False
        return True

    # the layers overlap in the real plan (the JVM runs heuristics and
    # verdict on one Arrow batch while python scores the next) but are
    # timed alone, so the sum reads above the wall
    RECONCILE = (0.8, 1.35)

    def reconcile(self, m: dict, untraced: list[dict]) -> float:
        """Sum of the plan's layer self times over its untraced wall."""
        layers = m["udf_stages.fused_score_stage_s"] + m["heuristics.heuristics_stage_s"] + m["verdict.verdict_stage_s"]
        return layers / h.median([r["wall"] for r in untraced])


class RunnerSkewResume(Workload):
    """``run_quality_filter`` over a host-clustered layout: fresh run,
    simulated kill, resume, cache-hit probe."""

    repartition_to = REPARTITION_TO

    def iteration(self) -> dict:
        return self.runner_cycle(self.pages_path, self.n, RESUMES)

    def cold(self) -> dict:
        """A fresh run only: the resume path reads the same chunked input
        with fewer chunks, so the fresh run has warmed it already."""
        from curator_spark.plans import runner

        root = os.path.join(self.work, "runner", "cold")
        t0 = time.perf_counter()
        fresh = runner.run_quality_filter(self.spark, _run_config(root, self.pages_path))
        wall = time.perf_counter() - t0
        rows, urls, _ = _digest(runner.load_output(self.spark, fresh))
        shutil.rmtree(root, ignore_errors=True)
        return {"wall": wall, "ok": fresh.chunks_run == NUM_CHUNKS and rows == urls == self.n}

    # what the layers leave out: the driver's work between Spark jobs
    # (renames, catalog appends, py4j) and the parquet write over a noop
    RECONCILE = (0.3, 1.1)

    def runner_layers(self, untraced: list[dict], traced: list[dict]) -> dict:
        return self._runner_metrics(traced[-1], h.median([r["wall"] for r in untraced]))

    def reconcile(self, m: dict, untraced: list[dict]) -> float:
        """Input layout pass + the filter plan's noop + the commit jobs,
        each measured on its own, over the untraced fresh wall."""
        layers = m["runner.input_stage_s"] + m["pipeline.quality_filter_s"] + m["runner.commit_s"]
        return layers / h.median([r["wall"] for r in untraced])


WORKLOADS = {"qf_uniform": QfUniform, "runner_skew_resume": RunnerSkewResume}
