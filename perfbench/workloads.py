"""Benchmark workloads: seeded inputs, the oracle digest, and the one
operation each workload repeats.

Both workloads run the repository's two fixture grammars
(``configs/rest_api.toml`` and ``configs/apache.toml``) off one scan of a
synthetic pages table made by ``logmetrics_spark.sources.synth``:

- ``pages_throughput``: bench-spec pages (24 sites, 3600 s span) with the
  throughput profile (duplicates and stale removal off, 300 s windows).
  About 20 routed rows per page and no heartbeat duplicates, so the scan
  and the fused parse kernel carry their largest share of the run here
  (at this size the crunch still takes longer). The sink is the routed
  digest itself (the rows are consumed by the digest aggregate).
- ``heartbeat_fanout``: the fixture configs unchanged (duplicates and
  stale removal on, 15 s windows, the ``hosts`` lookup, 97 sites) over a
  short event span. Each page fans out into about a hundred routed rows,
  so heartbeat emission, routing and the TableIO writes dominate. The
  operation makes the calls ``jobs/run_pipeline.py`` makes for two
  configs: ``run_pipeline_multi`` -> ``write_routed`` -> ``pusher_stats``
  and ``pool_stats`` through ``TableIO``.

Correctness: every operation's routed ``(line, sink)`` rows are reduced to
an order-free digest, a row count plus the exact sum of the engine's
52-bit md5 of ``line + "\\t" + sink``, and compared with the same digest
of ``oracle.run_oracle`` on the identical pages. The digest adds up over
disjoint row sets, so each config's oracle digest is computed on its own.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the oracle is the sequential reference; its cached digest is keyed by
# the source of every module it runs, so a change to the spec re-runs it
ORACLE_MODULES = ("oracle.py", "timemetrics.py", "contracts.py", "config.py", "regexc.py")
CONFIG_FILES = ("configs/rest_api.toml", "configs/apache.toml")
# content of the pages table columns, in this order, makes the input digest
PAGE_COLUMNS = ("url", "warc_ts", "html", "text", "lang")
# the columns the fused kernel receives
KERNEL_COLUMNS = ("url", "warc_ts", "lang", "text")


@dataclass(frozen=True)
class Workload:
    name: str
    n_pages: int
    span_s: int  # event-time span of the generated pages
    n_sites: int
    throughput_profile: bool  # dups/stale off, 300 s windows
    writes_tables: bool  # TableIO sink (else the digest is the sink)


# Sized so that one operation takes a few seconds on a 4-core host and
# the per-seed oracle stays under ~10 s; heartbeat_fanout is sized by its
# event span, which sets the number of heartbeat windows per key.
WORKLOADS = {
    "pages_throughput": Workload(
        "pages_throughput", n_pages=16_000, span_s=3600, n_sites=24,
        throughput_profile=True, writes_tables=False,
    ),
    "heartbeat_fanout": Workload(
        "heartbeat_fanout", n_pages=2_000, span_s=90, n_sites=97,
        throughput_profile=False, writes_tables=True,
    ),
}


def load_configs(root: str, wl: Workload) -> list:
    from logmetrics_spark.config import load_config

    cfgs = []
    for rel in CONFIG_FILES:
        cfg = load_config(os.path.join(root, rel))
        if wl.throughput_profile:
            lgs = tuple(
                dataclasses.replace(lg, send_duplicates=False, stale_removal=False, interval=300)
                for lg in cfg.log_groups
            )
            cfg = dataclasses.replace(cfg, log_groups=lgs)
        cfgs.append(cfg)
    return cfgs


def _sha256_file(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def table_digest(table: pa.Table) -> str:
    """Content digest of the pages table (values only, no file layout or
    writer metadata), so two commits are known to have run one input."""
    h = hashlib.sha256()
    for col in PAGE_COLUMNS:
        h.update(col.encode() + b"\x00")
        for v in table.column(col).to_pylist():
            h.update(v if isinstance(v, bytes) else str(v).encode("utf-8"))
            h.update(b"\x00")
    return h.hexdigest()


@dataclass(frozen=True)
class Inputs:
    path: str  # directory of parquet part files
    digest: str
    n_pages: int
    scan_bytes: int  # on-disk size of the part files


# the pages table is written as this many part files, one scan task each
# under the shipped split-size defaults (like a table written by Spark)
N_FILES = 16


def _part_files(path: str) -> list[str]:
    return sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet"))


def make_inputs(wl: Workload, seed: int, cache: str) -> Inputs:
    """Generate (or reuse) the seeded pages table under the cache."""
    from logmetrics_spark.sources.synth import SynthSpec, gen_pages_pdf

    d = os.path.join(cache, "inputs", f"{wl.name}-n{wl.n_pages}-t{wl.span_s}-s{wl.n_sites}-seed{seed}")
    meta = os.path.join(d, "digest.json")
    if not os.path.exists(meta):
        spec = SynthSpec(n_rows=wl.n_pages, seed=seed, time_span_seconds=wl.span_s,
                         n_sites=wl.n_sites)
        table = pa.Table.from_pandas(gen_pages_pdf(np.arange(wl.n_pages), spec),
                                     preserve_index=False)
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "pages"))
        step = -(-wl.n_pages // N_FILES)
        for i in range(N_FILES):
            # Spark rejects nanosecond parquet timestamps
            pq.write_table(table.slice(i * step, step),
                           os.path.join(tmp, "pages", f"part-{i:05d}.parquet"),
                           coerce_timestamps="us", allow_truncated_timestamps=True)
        written = read_pages(os.path.join(tmp, "pages"))
        with open(os.path.join(tmp, "digest.json"), "w") as fh:
            json.dump({"digest": table_digest(written), "n_pages": written.num_rows}, fh)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    with open(meta) as fh:
        m = json.load(fh)
    path = os.path.join(d, "pages")
    return Inputs(path, m["digest"], m["n_pages"],
                  sum(os.path.getsize(f) for f in _part_files(path)))


def read_pages(path: str) -> pa.Table:
    return pa.concat_tables(pq.read_table(f) for f in _part_files(path))


def read_page_batches(path: str, n_files: int) -> list:
    """The first ``n_files`` part files as pandas frames: the Arrow batches
    the Python kernels receive (a part file is smaller than one 8192-row
    Arrow batch)."""
    return [pq.read_table(f, columns=list(KERNEL_COLUMNS)).to_pandas()
            for f in _part_files(path)[:n_files]]


def lookups_dict() -> dict:
    from logmetrics_spark.sources.synth import gen_hosts_lookup_dict

    return {"hosts": gen_hosts_lookup_dict()}


def _line_hash(line: str, sink: str) -> int:
    from logmetrics_spark.contracts import md5_52_py

    return md5_52_py(f"{line}\t{sink}")


def oracle_digest(root: str, inputs: Inputs, cfg, cache: str) -> tuple[int, int]:
    """(rows, sum of md5_52) of the oracle's routed rows for one config;
    cached by input digest, config and the oracle's source."""
    from logmetrics_spark.oracle import run_oracle

    h = hashlib.sha256()
    h.update(inputs.digest.encode())
    h.update(repr(cfg).encode())
    for mod in ORACLE_MODULES:
        h.update(_sha256_file(os.path.join(root, "logmetrics_spark", mod)).encode())
    path = os.path.join(cache, "oracle", h.hexdigest() + ".json")
    if os.path.exists(path):
        with open(path) as fh:
            got = json.load(fh)
        return got["rows"], got["sum"]
    records = read_pages(inputs.path).to_pandas().to_dict("records")
    rows = total = 0
    for r in run_oracle(records, cfg, lookups_dict()):
        rows += 1
        total += _line_hash(r["line"], r["sink"])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as fh:
        json.dump({"rows": rows, "sum": total}, fh)
    os.replace(path + ".tmp", path)
    return rows, total


def routed_digest(routed) -> tuple[int, int]:
    """Spark side of the digest, as one aggregate action; the sum runs in
    decimal(38,0) so it cannot overflow."""
    from pyspark.sql import functions as F

    from logmetrics_spark.operators.datapoints import md5_52bit

    h = md5_52bit(F.concat_ws("\t", F.col("line"), F.col("sink")))
    r = routed.agg(
        F.count(F.lit(1)).alias("n"), F.sum(h.cast("decimal(38,0)")).alias("s")
    ).first()
    return int(r["n"]), int(r["s"] or 0)


class Runner:
    """One workload bound to a session: builds fresh plans per operation
    (re-running one plan would reuse its shuffle files)."""

    def __init__(self, spark, wl: Workload, cfgs: list, inputs: Inputs, out_dir: str):
        from logmetrics_spark.sources.synth import gen_hosts_lookup_pdf
        from logmetrics_spark.sources.tableio import TableIO

        self.spark = spark
        self.wl = wl
        self.cfgs = cfgs
        self.inputs = inputs
        self.pages = spark.read.parquet(inputs.path)
        self.lookups = {"hosts": spark.createDataFrame(gen_hosts_lookup_pdf())}
        self.io = TableIO(root=out_dir)

    def operation(self, pages=None) -> tuple[int, int] | None:
        """The timed unit of work. Returns the routed digest when the
        digest is the sink, else None (read it back with
        :meth:`written_digest`)."""
        from logmetrics_spark.operators.route import pool_stats, pusher_stats, write_routed
        from logmetrics_spark.plans.pipeline import run_pipeline_multi

        res = run_pipeline_multi(self.spark, self.cfgs, self.pages if pages is None else pages,
                                 lookups=self.lookups)
        if not self.wl.writes_tables:
            return routed_digest(res.routed)
        write_routed(res.routed, self.io)
        routed_back = self.io.read(self.spark, "routed")
        self.io.write(pusher_stats(routed_back), "stats_pusher", manifest_extra={"kind": "stats"})
        self.io.write(pool_stats(res.emissions), "stats_pool", manifest_extra={"kind": "stats"})
        return None

    def written_digest(self) -> tuple[int, int]:
        """Digest of the sink tables the last operation wrote; also checks
        that the pusher stats count every routed row."""
        from pyspark.sql import functions as F

        got = routed_digest(self.io.read(self.spark, "routed"))
        sent = self.io.read(self.spark, "stats_pusher").agg(F.sum("key_sent")).first()[0]
        if int(sent or 0) != got[0]:
            raise AssertionError(f"stats_pusher key_sent {sent} != routed rows {got[0]}")
        return got

    def start_workers(self) -> None:
        """Untimed operation on one part file per core: starts every Python
        worker and generates the plans' code."""
        n = min(N_FILES, self.spark.sparkContext.defaultParallelism)
        self.operation(self.spark.read.parquet(*_part_files(self.inputs.path)[:n]))
        self.spark.catalog.clearCache()

    def warm_up(self) -> None:
        """:meth:`start_workers`, then one untimed operation on the whole
        input: the JIT keeps speeding runs up after the first (measured:
        5.2 s -> 4.5 s over five pages_throughput runs), and the second
        pass keeps most of that drift out of the timed runs."""
        self.start_workers()
        self.operation()
        self.spark.catalog.clearCache()

    def run_checked(self, expected: tuple[int, int]) -> tuple[float, bool]:
        """One operation: (wall seconds, output matches the oracle).
        Digest reading and cache release after a TableIO write are not
        part of the timed span."""
        t0 = time.perf_counter()
        got = self.operation()
        dt = time.perf_counter() - t0
        if got is None:
            got = self.written_digest()
        # run_pipeline_multi persists the dups/stale partials and never
        # releases them; drop them so runs do not pile up cached blocks
        self.spark.catalog.clearCache()
        return dt, got == expected


if __name__ == "__main__":
    # python3 workloads.py --oracle <workload> <seed> <config index> <root> <cache>:
    # print the oracle digest of one config on that workload's input as JSON
    # (run.py calls this)
    import sys

    _, flag, name, seed, index, root, cache = sys.argv
    if flag != "--oracle":
        sys.exit(f"usage: {sys.argv[0]} --oracle <workload> <seed> <config index> <root> <cache>")
    sys.path.insert(0, root)
    wl = WORKLOADS[name]
    print(json.dumps(oracle_digest(root, make_inputs(wl, int(seed), cache),
                                   load_configs(root, wl)[int(index)], cache)))
