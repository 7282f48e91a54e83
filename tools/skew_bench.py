"""Skew-defense wall-clock evidence (north rule: salted url-hash
repartitioning defuses host-level skew).

Builds a HOST-CLUSTERED file layout — the shape real crawl dumps arrive in:
all pages of the hot host (~40% of rows, datagen's planted skew) in one fat
file, every other host spread over small files — then times the flagship
pipeline three ways at a pinned core count:

  - naive: shuffle-free fused plan. Scan parallelism = file layout, so one
    task carries the whole hot host through the expensive scoring UDF; wall
    ~= that one task.
  - salted: extract (cheap) in place -> salted repartition on
    xxhash64(url, salt) of the NARROW post-extract columns -> scoring UDF
    on balanced partitions.
  - staged: the lifecycle runner's ``chunk_input`` layout pass (salted
    spread into ``NUM_CHUNKS`` chunk dirs, written once, untimed), then the
    shuffle-free fused plan over the staged files — what every runner
    fresh run and resume scores.

Each row also reports its per-task row spread (max/mean rows per Spark
partition feeding the scoring UDF).

Prints one JSON line. Usage: python tools/skew_bench.py [cores] [replication]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

NUM_CHUNKS = 2


def build_host_clustered(sf_dir: str, out: str, replication: int) -> str:
    from curator_spark.datagen import PAGES_SCHEMA, build_pages_pdf

    if os.path.isdir(out) and any(f.endswith(".parquet") for f in os.listdir(out)):
        return out
    os.makedirs(out, exist_ok=True)
    pdf = build_pages_pdf(sf_dir, replication=replication)
    host = pdf["url"].str.extract(r"https://([^/]+)/")[0]
    hot = host.value_counts().idxmax()
    hot_pdf = pdf[host == hot]
    cold_pdf = pdf[host != hot]
    pq.write_table(
        pa.Table.from_pandas(hot_pdf, schema=PAGES_SCHEMA, preserve_index=False),
        os.path.join(out, "host-hot.parquet"),
    )
    n_cold_files = 15
    per = (len(cold_pdf) + n_cold_files - 1) // n_cold_files
    for i in range(n_cold_files):
        chunk = cold_pdf.iloc[i * per : (i + 1) * per]
        if len(chunk):
            pq.write_table(
                pa.Table.from_pandas(chunk, schema=PAGES_SCHEMA, preserve_index=False),
                os.path.join(out, f"host-cold-{i:02d}.parquet"),
            )
    return out


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    replication = int(sys.argv[2]) if len(sys.argv) > 2 else 12
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import functions as F

    from curator_spark.functions.partitioning import salted_repartition
    from curator_spark.plans import runner
    from curator_spark.plans.pipeline import quality_filter
    from curator_spark.session import get_spark

    data = build_host_clustered(
        sf_dir, os.path.join(REPO, ".data", f"pages_skewed_x{replication}.pq"), replication
    )
    spark = get_spark(
        app_name="skew-bench",
        master=f"local[{cores}]",
        shuffle_partitions=4 * cores,
        extra_conf={
            # one task per file so the layout's skew is what the scan sees
            "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": "0",
        },
    )
    pages = spark.read.parquet(data)
    n = pages.count()

    def mat(df):
        df.write.format("noop").mode("overwrite").save()

    def task_spread(df) -> float:
        counts = [r[1] for r in df.groupBy(F.spark_partition_id()).count().collect()]
        return max(counts) / (sum(counts) / len(counts))

    work = os.path.join(REPO, ".data", f"staged_x{replication}_c{cores}")
    cfg = runner.RunConfig(data, work, num_chunks=NUM_CHUNKS, repartition_to=4 * cores,
                           chunk_input=True)
    staged = spark.read.parquet(runner._ensure_chunked_input(spark, cfg, work, pages)).drop("chunk")

    plans = {  # name -> (plan, the rows its scoring UDF is fed)
        "naive": (quality_filter(pages), pages),
        "salted_narrow": (quality_filter(pages, repartition_to=4 * cores),
                          salted_repartition(pages, "url", 4 * cores)),
        "staged": (quality_filter(staged), staged),
    }
    out = {"cores": cores, "rows": n}
    for name, (df, fed) in plans.items():
        mat(df)  # warm
        walls = []
        for _ in range(2):
            t0 = time.monotonic()
            mat(df)
            walls.append(time.monotonic() - t0)
        out[f"{name}_wall_sec"] = round(min(walls), 2)
        out[f"{name}_task_rows_max_over_mean"] = round(task_spread(fed), 2)
    out["speedup_from_salting"] = round(
        out["naive_wall_sec"] / out["salted_narrow_wall_sec"], 2
    )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
