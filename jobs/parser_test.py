#!/usr/bin/env python
"""Offline parser test & throughput harness (≈ logmetrics_parsertest,
reference ``parsertest.go:45-85`` / ``parsertest/logmetrics_parsertest.go``).

Replays a pages table through each log group's regex suite — the same
first-match-wins parse kernel the pipeline runs
(``operators.parse.make_parse_fn``) — and reports match rate +
throughput, the reference's correctness/perf check for a config's
regexes, Spark-sized:

  python jobs/parser_test.py --config configs/rest_api.toml \
      --pages /path/pages [--group rest.api] [--show-failed N]

Prints per-group: lines read, lines matched, bytes read, match rate,
and line/s / Mb/s — the same figures as the reference's
"%d line/s %d match/s %.3f Mb/s" report (``parsertest.go:27-39``).
``--show-failed N`` prints N lines that no pattern of the group
matches.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from logmetrics_spark.config import LogGroup  # noqa: E402
from logmetrics_spark.operators.parse import first_match, make_parse_fn, split_lines  # noqa: E402


def failed_lines(pages_pdf: pd.DataFrame, lg: LogGroup) -> pd.Series:
    """Lines (within the long-line guard) that no pattern of the
    group's first-match-wins suite matches."""
    lines = split_lines(pages_pdf, lg.max_line_size)
    _, pending = first_match(lines, list(lg.regexes), lg.expected_matches)
    return pending["line"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--config", required=True)
    ap.add_argument("--pages", required=True)
    ap.add_argument("--group", default=None)
    ap.add_argument("--show-failed", type=int, default=0,
                    help="print N non-matching lines (warn_on_regex_fail analog)")
    ap.add_argument("--cores", default=os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count()))
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from logmetrics_spark.config import load_config
    from logmetrics_spark.session import get_spark

    cfg = load_config(args.config)
    spark = get_spark("parser_test", master=f"local[{args.cores}]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    pages = spark.read.parquet(args.pages).select("url", "warc_ts", "lang", "text")

    for lg in cfg.log_groups:
        if args.group and lg.name != args.group:
            continue
        src = pages
        if lg.url_match:
            src = src.filter(F.col("url").rlike(lg.url_match))
        parse_frame = make_parse_fn(lg)

        def counts(batches):
            for pdf in batches:
                out = parse_frame(pdf)
                yield pd.DataFrame({
                    "line_read": [int(pdf["text"].str.count("\n").sum()) + len(pdf)],
                    "byte_read": [int(pdf["text"].str.len().sum())],
                    "matched": [0 if out is None else len(out)],
                })

        t0 = time.time()
        stats = src.mapInPandas(counts, "line_read long, byte_read long, matched long").agg(
            *(F.sum(c).alias(c) for c in ("line_read", "byte_read", "matched"))
        ).first()
        dt = time.time() - t0
        line_read = stats["line_read"] or 0
        byte_read = stats["byte_read"] or 0
        matched = stats["matched"] or 0
        rate = matched / line_read if line_read else 0.0
        print(
            f"[{lg.name}] lines={line_read} matched={matched} "
            f"({rate:.1%}) bytes={byte_read} | "
            f"{line_read / dt:,.0f} line/s {matched / dt:,.0f} match/s "
            f"{byte_read / dt / 1e6:.3f} Mb/s"
        )
        if args.show_failed:

            def failures(batches):
                for pdf in batches:
                    yield pd.DataFrame({"line": failed_lines(pdf, lg).to_numpy()})

            for r in src.mapInPandas(failures, "line string").limit(args.show_failed).collect():
                print("  FAIL:", r["line"][:200])
    spark.stop()


if __name__ == "__main__":
    main()
