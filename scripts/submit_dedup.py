"""spark-submit entrypoint for the dedup job (the north_rule launch
contract: ``spark-submit --py-files lsh_apg_spark.zip`` on a real
cluster; maps the reference's main program, src/main.cpp:11-230).

Package + launch:

    cd /root/repo && zip -qr /tmp/lsh_apg_spark.zip lsh_apg_spark
    spark-submit --master <cluster> --py-files /tmp/lsh_apg_spark.zip \
        scripts/submit_dedup.py \
        --input  /path/to/pages_parquet   # or --synthesize N
        --output /path/to/clusters_out \
        --checkpoint-dir /path/to/ckpt

Master/executor sizing comes entirely from spark-submit (this script
never sets a master), so the SAME artifact runs at N and 4N executors
for the scaling measurement. On a cluster the input/checkpoint paths
would be Iceberg table identifiers; parquet paths are the sandbox
stand-in (SURVEY.md §1.3).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description="end-to-end near-dup clustering")
    p.add_argument("--input", help="parquet dir of pages "
                   "(url, warc_ts, html, text, lang)")
    p.add_argument("--synthesize", type=int, metavar="N_DOCS",
                   help="generate the deterministic fixture corpus instead")
    p.add_argument("--output", required=True, help="output dir for "
                   "(url, cluster_id) parquet")
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--no-substring", action="store_true",
                   help="skip the winnowing substring pass")
    p.add_argument("--seed", type=int, default=42)
    args = p.parse_args(argv)
    if bool(args.input) == bool(args.synthesize):
        p.error("exactly one of --input / --synthesize required")

    from pyspark.sql import SparkSession

    from lsh_apg_spark.config import DedupConfig
    from lsh_apg_spark.pipeline import run_dedup

    # master, executor counts, memory: all owned by spark-submit
    spark = (
        SparkSession.builder.appName("lsh_apg_spark.dedup")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    cfg = DedupConfig()

    if args.synthesize:
        from lsh_apg_spark.fixtures import PAGES_SCHEMA, generate_pages
        fx = generate_pages(n_docs=args.synthesize, seed=args.seed)
        pages = spark.createDataFrame(fx.pages, schema=PAGES_SCHEMA)
    else:
        pages = spark.read.parquet(args.input)

    t0 = time.monotonic()
    result = run_dedup(
        spark, pages, cfg,
        checkpoint_dir=args.checkpoint_dir,
        include_substring=not args.no_substring,
    )
    result.clusters.write.mode("overwrite").parquet(args.output)
    wall = time.monotonic() - t0

    n_docs = result.clusters.count()
    n_clusters = result.clusters.select("cluster_id").distinct().count()
    print(json.dumps({
        "docs": n_docs,
        "clusters": n_clusters,
        "wall_sec": round(wall, 2),
        "docs_per_sec": round(n_docs / wall, 1),
        "config_id": cfg.config_id(),
        "stages": result.metrics,
    }))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
