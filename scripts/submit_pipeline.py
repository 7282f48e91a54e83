"""spark-submit entry point for the quality-filter pipeline.

Deployment (north rule: spark-submit --py-files on a multi-executor
cluster; model/lexicon data ships inside the package zip and is built once
per executor process by the module-level singletons):

    python scripts/build_pyfiles.py                       # -> dist/curator_spark.zip
    spark-submit --py-files dist/curator_spark.zip \
        scripts/submit_pipeline.py \
        --input  /path/to/pages_parquet \
        --output /path/to/output_root \
        --chunks 16 --repartition 4096

On a cluster, master/executors come from spark-submit; locally the session
factory falls back to local[$SPARK_GRAFT_CPUS]. The lifecycle runner gives
fingerprinted caching, chunked staged commits, resume, and per-partition
metrics (see curator_spark/plans/runner.py).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    p = argparse.ArgumentParser(description="curator_spark quality-filter run")
    p.add_argument("--input", required=True, help="pages parquet path/dir")
    p.add_argument("--output", required=True, help="output root (runs/, runs_catalog/)")
    p.add_argument("--chunks", type=int, default=4)
    p.add_argument("--repartition", type=int, default=None)
    p.add_argument("--salt", default=None)
    p.add_argument("--max-attempts", type=int, default=3)
    p.add_argument(
        "--chunk-input",
        action="store_true",
        help="stage the input partitioned by chunk so resumes scan only missing chunks",
    )
    p.add_argument(
        "--curate",
        action="store_true",
        help="run the FULL curation recipe (filter -> near-dup survivors -> "
        "span strip -> optional domain cap / token budget) and write the "
        "curated corpus to --output instead of the lifecycle runner",
    )
    p.add_argument("--domain-cap", type=int, default=None)
    p.add_argument(
        "--domain-grouping",
        choices=("host", "etld1"),
        default="host",
        help="quota key: normalized host, or registrable domain (eTLD+1, "
        "public-suffix list) so subdomain farms share one quota",
    )
    p.add_argument("--token-budget", type=int, default=None)
    p.add_argument(
        "--url-dedup",
        action="store_true",
        help="collapse re-crawls/tracking-variant urls to one page per "
        "CANONICAL url (freshest warc_ts wins) before extraction "
        "(dedup.canonical_url_dedup). Curate mode only.",
    )
    p.add_argument(
        "--contaminants",
        default=None,
        help="parquet path of an eval/benchmark corpus (column: text); "
        "curated pages sharing a 13-token n-gram with it are dropped "
        "(dedup.decontaminate). Curate mode only.",
    )
    args = p.parse_args()

    from curator_spark.functions.partitioning import DEFAULT_SALT
    from curator_spark.plans import runner as R
    from curator_spark.session import get_spark

    spark = get_spark(app_name="curator-spark-pipeline", master=None)
    if args.curate:
        from curator_spark.plans.pipeline import curate_corpus

        pages = spark.read.parquet(args.input)
        cont = (
            spark.read.parquet(args.contaminants)
            if args.contaminants is not None
            else None
        )
        out = curate_corpus(
            pages,
            repartition_to=args.repartition,
            domain_cap_n=args.domain_cap,
            domain_grouping=args.domain_grouping,
            token_budget=args.token_budget,
            contaminants=cont,
            url_dedup=args.url_dedup,
        )
        out.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"curated_rows": spark.read.parquet(args.output).count()}))
        spark.stop()
        return

    cfg = R.RunConfig(
        input_path=args.input,
        output_root=args.output,
        num_chunks=args.chunks,
        repartition_to=args.repartition,
        salt=args.salt or DEFAULT_SALT,
        max_attempts=args.max_attempts,
        chunk_input=args.chunk_input,
    )
    res = R.run_quality_filter(spark, cfg)
    out = R.load_output(spark, res)
    print(
        json.dumps(
            {
                "run_id": res.run_id,
                "run_dir": res.run_dir,
                "cache_hit": res.cache_hit,
                "chunks_run": res.chunks_run,
                "chunks_skipped": res.chunks_skipped,
                "output_rows": out.count(),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
