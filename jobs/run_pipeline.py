#!/usr/bin/env python
"""spark-submit entry point (north_rule: run via spark-submit --py-files).

Usage:
  spark-submit --py-files logmetrics_spark.zip jobs/run_pipeline.py \
      --config configs/rest_api.toml --pages /path/to/pages \
      --out /path/to/out [--resume-dir /path/state] [--lookup hosts=/path]

Batch mode by default; --resume-dir switches to the per-partition
lineage/resume path (plans.lineage).

Without --shuffle-partitions the job sets spark.sql.shuffle.partitions
to the context's default parallelism (total executor cores in cluster
mode, N for local[N]). The per-key crunch runs exactly that many Python
tasks, one per core: each Python task pays a fixed boundary cost, so
more tasks than cores add overhead without adding parallelism.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--config",
        required=True,
        action="append",
        help="TOML config; repeatable — multiple configs run all their "
        "log groups off ONE pages scan (run_pipeline_multi)",
    )
    ap.add_argument("--pages", required=True)
    ap.add_argument("--out", default=None)
    ap.add_argument(
        "-D",
        "--do-not-send",
        action="store_true",
        help="print routed put lines to stdout instead of writing sink "
        "tables (reference tsdpusher.go:62-63 -D flag)",
    )
    ap.add_argument("--resume-dir", default=None)
    ap.add_argument("--lookup", action="append", default=[], help="name=path parquet")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args()

    from logmetrics_spark.config import load_config
    from logmetrics_spark.plans.lineage import run_resumable
    from logmetrics_spark.plans.pipeline import run_pipeline_multi, write_outputs
    from logmetrics_spark.sources.tableio import TableIO

    builder = SparkSession.builder.appName("logmetrics_spark.pipeline")
    builder = builder.config("spark.sql.session.timeZone", "UTC")
    builder = builder.config("spark.sql.adaptive.enabled", "true")
    spark = builder.getOrCreate()
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(args.shuffle_partitions or spark.sparkContext.defaultParallelism),
    )

    cfgs = [load_config(c) for c in args.config]
    lookups = {}
    for spec in args.lookup:
        name, path = spec.split("=", 1)
        lookups[name] = spark.read.parquet(path)

    if args.resume_dir:
        if len(cfgs) > 1:
            ap.error("--resume-dir supports a single --config")
        stats = run_resumable(spark, cfgs[0], args.pages, args.resume_dir, lookups)
        print(stats)
    else:
        if not (args.out or args.do_not_send):
            ap.error("--out is required unless -D/--do-not-send is set")
        res = run_pipeline_multi(spark, cfgs, spark.read.parquet(args.pages), lookups=lookups)
        if args.do_not_send:
            from logmetrics_spark.operators.route import console_sink

            n = console_sink(res.routed)
            print(f"# {n} lines (not sent: -D)", file=sys.stderr)
        else:
            write_outputs(spark, res, TableIO(root=args.out))
            print({"routed_manifest": res.stats["routed_manifest"].get("snapshot_id")})
        res.release()
    spark.stop()


if __name__ == "__main__":
    main()
