#!/usr/bin/env python
"""spark-submit entry point for the pages→tiles pipeline.

Cluster usage (north rule: two cluster sizes, N and 4N executors):

    python -m build --wheel   # or: pip wheel . -w dist/
    spark-submit \
      --py-files dist/grandine_spark-0.1.0-py3-none-any.whl \
      --num-executors $N --executor-cores 4 --executor-memory 8g \
      scripts/run_pipeline.py \
      --pages s3a://bucket/pages_iceberg --features s3a://bucket/features \
      --warehouse s3a://bucket/warehouse --zooms 2,7,14

The master is the one spark-submit was given. Without one (plain
``python``), local[N] stands in for N executors: N = --cores, else the CPUs
this process may run on ($SPARK_GRAFT_CPUS overrides):

    python scripts/run_pipeline.py --n-pages 200000 --cores 32 \
      --warehouse /tmp/gs_warehouse

Re-running with the same --warehouse RESUMES: completed stages are read
back from their checkpoints, not recomputed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="parquet path of a pages table (else synthetic)")
    ap.add_argument("--features", help="parquet path of a features table (else synthetic)")
    ap.add_argument("--pbf", help=".osm.pbf path: assemble features from OSM data "
                                  "(the reference's spatialize→tiler chain)")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--zooms", default="2,7,14")
    ap.add_argument("--join-zoom", type=int, default=7)
    ap.add_argument("--n-pages", type=int, default=100_000)
    ap.add_argument("--cores", type=int, default=None,
                    help="N of a local[N] master when the launcher set no "
                         "master (default: the launcher or the host decides)")
    ap.add_argument("--clean-text", action="store_true",
                    help="run the corpus-hygiene stage (exact dedup + "
                         "repetition filter) before geocoding")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from grandine_spark.plans.pipeline import run_pipeline
    from grandine_spark.session import get_spark
    from grandine_spark.sources import synth

    spark = get_spark("grandine-pipeline", cores=args.cores)
    pages = (
        spark.read.parquet(args.pages) if args.pages else synth.pages(spark, args.n_pages)
    )
    if args.pbf:
        from grandine_spark.sources.pbf import features_from_pbf

        features = features_from_pbf(spark, args.pbf)
    elif args.features:
        features = spark.read.parquet(args.features)
    else:
        features = synth.features(spark)

    t0 = time.time()
    out = run_pipeline(
        spark,
        pages,
        features,
        args.warehouse,
        zooms=[int(z) for z in args.zooms.split(",")],
        join_zoom=args.join_zoom,
        clean_text=args.clean_text,
    )
    elapsed = round(time.time() - t0, 2)
    # row counts come from the lineage sidecars each checkpoint already
    # wrote — summing 64 bucket rows instead of re-scanning every table
    wh = out["warehouse"]
    stats = {"elapsed_sec": elapsed}
    for stage in out:
        if stage != "warehouse":
            stats[stage] = wh.lineage(stage).agg(F.sum("row_count")).first()[0] or 0
    stats["warehouse"] = args.warehouse
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
