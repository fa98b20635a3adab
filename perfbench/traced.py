"""Traced run: per-layer time, rows and bytes.

The pipeline is re-run with every layer boundary materialised (each
layer's output is persisted and counted before the next layer starts), so
time, rows and bytes are attributed to the layer that does the work:

    pipeline
      sources.scan         read the pages table
      operators.fused      parse/transform/enrich/fan-out/local-reduce kernel
      operators.aggregate  partials shuffle and per-key crunch
      operators.route      put-line rendering and sink hash
      sources.tableio      write_routed, then pusher/pool stats tables

The root span does what the workload's operation does, so traced minus
untraced time is the cost of tracing. On pages_throughput the sink is the
routed digest (the root span's self time), and the TableIO layer is
measured by one write of the materialised rows after the root span.

Spans are recorded in memory from this file, around calls into each
module's public functions, and written out when the run ends. A layer's
self time is its span's duration minus the part its child spans cover,
so the self times of all spans add up to the root span.

The Python kernels are also timed in-process, single-threaded and outside
Spark, on the first four part files of the same input read with pyarrow.

A function this file calls may be renamed or reshaped by a later change;
the affected layer is then reported as unmeasured with the reason, and
the untraced end-to-end runs are unaffected.
"""

from __future__ import annotations

import json
import os
import time
import traceback
from contextlib import contextmanager

from workloads import KERNEL_COLUMNS, lookups_dict, read_page_batches, routed_digest

# part files given to the in-process kernel timings
SAMPLE_FILES = 4


class Tracer:
    """In-memory spans: name, start, end, parent index, run id."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append({
            "name": name, "start": time.perf_counter(), "end": None,
            "parent": self._stack[-1] if self._stack else None, "run": self.run_id,
        })
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def duration(self, name: str) -> float:
        sp = self.spans[self._find(name)]
        return sp["end"] - sp["start"]

    def self_time(self, name: str) -> float:
        return self._self_time(self._find(name))

    def _self_time(self, idx: int) -> float:
        """Duration minus the union of the children's intervals."""
        sp = self.spans[idx]
        kids = sorted((c["start"], c["end"]) for c in self.spans if c["parent"] == idx)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (sp["end"] - sp["start"]) - covered

    def _find(self, name: str) -> int:
        for i, sp in enumerate(self.spans):
            if sp["name"] == name and sp["end"] is not None:
                return i
        raise KeyError(name)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        out = [dict(sp, self_s=self._self_time(i)) for i, sp in enumerate(self.spans)
               if sp["end"] is not None]
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1)


def _payload_bytes(df) -> int:
    """Row payload of a frame: UTF-8 bytes of its strings plus 8 bytes
    per number and 1 per boolean."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import BooleanType, StringType

    parts = []
    for f in df.schema.fields:
        if isinstance(f.dataType, StringType):
            parts.append(F.coalesce(F.octet_length(F.col(f.name)), F.lit(0)))
        else:
            parts.append(F.lit(1 if isinstance(f.dataType, BooleanType) else 8))
    total = parts[0]
    for p in parts[1:]:
        total = total + p
    return int(df.select(F.sum(total.cast("long"))).first()[0] or 0)


def _groups(cfgs, lookup_for):
    return [
        (lg, lookup_for(lg.lookup) if lg.lookup else None)
        for cfg in cfgs
        for lg in cfg.log_groups
    ]


def _lazy_bound(groups) -> bool:
    return any(lg.send_duplicates or lg.stale_removal for lg, _ in groups)


def _tableio(tracer: Tracer, runner, routed, emissions) -> None:
    from logmetrics_spark.operators.route import pool_stats, pusher_stats, write_routed

    spark, io = runner.spark, runner.io
    with tracer.span("sources.tableio"):
        with tracer.span("tableio.write"):
            write_routed(routed, io)
        with tracer.span("tableio.stats"):
            io.write(pusher_stats(io.read(spark, "routed")), "stats_pusher",
                     manifest_extra={"kind": "stats"})
            io.write(pool_stats(emissions), "stats_pool", manifest_extra={"kind": "stats"})


def traced_pipeline(runner, tracer: Tracer, expected) -> tuple[dict, bool]:
    """Run the workload's operation once with materialised boundaries.
    Returns (metrics, output matched the oracle)."""
    from pyspark.sql import functions as F

    from logmetrics_spark.operators.aggregate import (
        crunch_emissions_lazy,
        crunch_emissions_multi,
    )
    from logmetrics_spark.operators.fused import fused_partials_multi
    from logmetrics_spark.operators.route import route_stage
    from logmetrics_spark.plans.pipeline import lookup_df_to_dict

    spark, io = runner.spark, runner.io
    groups = _groups(runner.cfgs, lambda name: lookup_df_to_dict(runner.lookups[name]))
    lg_by_group = {lg.name: lg for lg, _ in groups}
    with tracer.span("pipeline"):
        with tracer.span("sources.scan"):
            pages = spark.read.parquet(runner.inputs.path).persist()
            n_pages = pages.count()
        with tracer.span("operators.fused"):
            partials = fused_partials_multi(pages, groups).persist()
            n_partials = partials.count()
        with tracer.span("operators.aggregate"):
            if _lazy_bound(groups):
                emissions = crunch_emissions_lazy(partials, lg_by_group)
            else:
                emissions = crunch_emissions_multi(
                    partials, lg_by_group, {n: -1 for n in lg_by_group})
            emissions = emissions.persist()
            n_emissions = emissions.count()
        with tracer.span("operators.route"):
            routed = route_stage(emissions, runner.cfgs[0].settings).persist()
            n_routed = routed.count()
        if runner.wl.writes_tables:
            _tableio(tracer, runner, routed, emissions)
        else:
            # the operation's sink, left in the root span's self time
            got = routed_digest(routed)
    if runner.wl.writes_tables:
        got = runner.written_digest()
    else:
        # this workload's operation never writes; write the materialised
        # rows once, outside the root span, so TableIO is measured here too
        _tableio(tracer, runner, routed, emissions)
    ok = got == expected
    # the crunch's hash partitions: its output keeps the partitioning
    n_parts = emissions.rdd.getNumPartitions()
    sizes = [r["count"] for r in partials.repartition(n_parts, "group", "key_id")
             .groupBy(F.spark_partition_id().alias("p")).count().collect()]
    n_dups = emissions.filter(F.col("is_dup")).count()
    line_bytes = routed.select(F.sum(F.octet_length("line"))).first()[0] or 0
    data_files = [os.path.join(d, f) for d, _, fs in os.walk(io.root) for f in fs
                  if f.endswith(".parquet")]
    m = {
        "sources.scan_s": tracer.self_time("sources.scan"),
        "sources.pages": n_pages,
        "sources.scan_bytes": runner.inputs.scan_bytes,
        "fused.s": tracer.self_time("operators.fused"),
        "fused.partial_rows": n_partials,
        "fused.partial_bytes": _payload_bytes(partials),
        "fused.partials_per_page": n_partials / max(n_pages, 1),
        "aggregate.crunch_s": tracer.self_time("operators.aggregate"),
        "aggregate.emissions": n_emissions,
        "aggregate.emissions_per_partial": n_emissions / max(n_partials, 1),
        "aggregate.partition_skew": max(sizes) / (n_partials / n_parts) if n_partials else 0.0,
        "aggregate.dup_share": n_dups / max(n_emissions, 1),
        "route.s": tracer.self_time("operators.route"),
        "route.rows": n_routed,
        "route.line_bytes": int(line_bytes),
        "tableio.write_s": tracer.duration("tableio.write"),
        "tableio.bytes_written": sum(os.path.getsize(f) for f in data_files),
        "tableio.files_written": len(data_files),
        "tableio.stats_s": tracer.duration("tableio.stats"),
        "pipeline.traced_s": tracer.duration("pipeline"),
        "pipeline.self_s": tracer.self_time("pipeline"),
    }
    spark.catalog.clearCache()
    return m, ok


def last_error() -> str:
    """One line naming the exception being handled, for ``unmeasured``."""
    return traceback.format_exc(limit=1).strip().splitlines()[-1]


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def python_kernels(cfgs, inputs) -> tuple[dict, dict]:
    """Single-thread timings of the Python kernels on the first part files.
    Each kernel is measured on its own, so one renamed function leaves the
    others measured."""
    import pandas as pd

    m, why = {}, {}
    lookups = lookups_dict()
    groups = _groups(cfgs, lambda name: lookups[name])
    batches = read_page_batches(inputs.path, SAMPLE_FILES)
    kpages = sum(len(b) for b in batches) / 1000.0
    partial_frames = []

    try:
        from logmetrics_spark.operators.fused import (
            apply_group_frames,
            make_group_appliers,
            mask_col,
        )

        # the url masks are computed by Spark's rlike in the pipeline;
        # here Python's re stands in (the fixture patterns are plain)
        for pdf in batches:
            for i, (lg, _) in enumerate(groups):
                if lg.url_match:
                    pdf[mask_col(i)] = pdf["url"].str.contains(lg.url_match, regex=True)
        appliers = make_group_appliers(groups)
        fused_s, partial_frames = _timed(
            lambda: [out for pdf in batches for _g, out in apply_group_frames(pdf, appliers)])
        m["fused.py_s_per_kpage"] = fused_s / kpages
    except Exception:  # renamed/reshaped kernel API: report, never fail
        why["fused.py_s_per_kpage"] = last_error()

    try:
        from logmetrics_spark.operators.parse import make_parse_fn

        lines = matched = 0
        parse_s = 0.0
        fns = [(lg, make_parse_fn(lg)) for lg, _ in groups]
        for pdf in batches:
            for lg, fn in fns:
                sub = pdf[pdf["url"].str.contains(lg.url_match, regex=True)] if lg.url_match else pdf
                sub = sub[list(KERNEL_COLUMNS)]
                lines += int(sub["text"].str.count("\n").sum()) + len(sub)
                dt, out = _timed(lambda: fn(sub))
                parse_s += dt
                matched += 0 if out is None else len(out)
        m["parse.py_s_per_kpage"] = parse_s / kpages
        m["parse.lines"] = lines
        m["parse.matched"] = matched
        m["parse.match_ratio"] = matched / max(lines, 1)
    except Exception:
        for k in ("parse.py_s_per_kpage", "parse.lines", "parse.matched", "parse.match_ratio"):
            why[k] = last_error()

    try:
        from logmetrics_spark.operators.aggregate import make_multi_crunch_mapper

        if not partial_frames:
            raise RuntimeError("no partials from the fused kernel sample")
        parts = pd.concat(partial_frames, ignore_index=True)
        for c in ("psum", "rid", "val"):  # as _null_safe_partials does in Spark
            parts[c] = parts[c].fillna(0).astype("int64")
        lg_by_group = {lg.name: lg for lg, _ in groups}
        if _lazy_bound(groups):
            parts["glw"] = parts.groupby("group")["w"].transform("max")
            mapper = make_multi_crunch_mapper(lg_by_group, None)
        else:
            mapper = make_multi_crunch_mapper(lg_by_group, {n: -1 for n in lg_by_group})
        parts = parts.sort_values(["group", "key_id", "w", "t", "rid"], ignore_index=True)
        chunks = [parts.iloc[i:i + 8192] for i in range(0, len(parts), 8192)]
        crunch_s, _ = _timed(lambda: sum(len(o) for o in mapper(iter(chunks))))
        m["aggregate.py_s_per_kpartial"] = crunch_s / (len(parts) / 1000.0)
    except Exception:
        why["aggregate.py_s_per_kpartial"] = last_error()
    return m, why
