"""End-to-end pipeline assembly: pages table -> per-sink routed tables.

Mirrors the reference daemon's dataflow (``main/logmetrics_collector.go``,
SURVEY.md §3.1) as ONE declarative DataFrame plan for every log group
of every config:

    scan(pages) -> fused kernel (mapInPandas): parse -> transform
                   -> enrich (broadcast dict) -> datapoint fan-out
                   -> phase-A local reduction (sums + reservoir combiner)
                -> ONE shuffle on (group, key)
                -> phase-B mixed-group per-key crunch (sorted mapInPandas)
                -> route (line render + md5 sink hash)
                -> per-sink partitioned write + stats tables

Catalyst/Tungsten replace the reference's goroutines+channels; the
shuffle between phase A and phase B replaces the file->datapool
modulo partitioning (``logtail.go:209-217``). A single config is the
one-config case of :func:`run_pipeline_multi`.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..config import LogGroup, PipelineConfig
from ..operators.aggregate import crunch_emissions_lazy, crunch_emissions_multi
from ..operators.fused import fused_partials_multi
from ..operators.route import pool_stats, pusher_stats, route_stage, write_routed
from ..sources.tableio import TableIO


@dataclass
class PipelineResult:
    routed: DataFrame
    emissions: DataFrame
    stats: dict = field(default_factory=dict)
    # frames the run persisted; the result owns them until release()
    pinned: list[DataFrame] = field(default_factory=list)

    def release(self) -> None:
        """Unpersist every frame the run pinned. Idempotent, and safe
        after ``spark.catalog.clearCache()`` (unpersisting an uncached
        frame is a no-op)."""
        while self.pinned:
            self.pinned.pop().unpersist()


def lookup_df_to_dict(lookup: DataFrame | None) -> dict | None:
    """Broadcast dim as a plain dict for the fused kernel / oracle
    format: {key: (v1, ...), '__columns__': [names]} — dims are tiny
    by contract (FIXTURES.md §2), so driver-side collect is the
    broadcast."""
    if lookup is None:
        return None
    cols = lookup.columns
    d: dict = {"__columns__": list(cols[1:])}
    for r in lookup.collect():
        d[r[cols[0]]] = tuple(r[c] for c in cols[1:])
    return d


def group_lookups(
    log_groups, lookups: dict[str, DataFrame] | None
) -> list[tuple[LogGroup, dict | None]]:
    """The fused kernel's group spec: (log group, its broadcast lookup
    dict or None) for each group; ``lookups`` maps a lookup name to its
    dimension DataFrame."""
    lookups = lookups or {}
    return [
        (lg, lookup_df_to_dict(lookups.get(lg.lookup or "")) if lg.lookup else None)
        for lg in log_groups
    ]


def run_pipeline_multi(
    spark: SparkSession,
    cfgs: list[PipelineConfig],
    pages: DataFrame,
    lookups: dict[str, DataFrame] | None = None,
) -> PipelineResult:
    """Every log group of every config off ONE pages scan: single
    multi-group fused kernel -> single shuffle -> single mixed-group
    crunch -> route. This is the production shape — N configured
    grammars must not cost N scans of a 100-TB table (the v1
    one-plan-per-group union did exactly that).

    Routing settings come from the first config (the fixture configs
    share push_type/push_number; guarded)."""
    groups = group_lookups([lg for cfg in cfgs for lg in cfg.log_groups], lookups)
    # explicit raises, NOT asserts: these guards protect routing
    # correctness and must survive python -O / PYTHONOPTIMIZE
    names = [lg.name for lg, _ in groups]
    if len(set(names)) != len(names):
        raise ValueError(f"run_pipeline_multi: duplicate log group names: {names}")
    if any(
        (c.settings.push_type, c.settings.push_number)
        != (cfgs[0].settings.push_type, cfgs[0].settings.push_number)
        for c in cfgs
    ):
        raise ValueError("run_pipeline_multi: configs disagree on routing settings")

    partials = fused_partials_multi(pages, groups)
    lg_by_group = {lg.name: lg for lg, _ in groups}
    pinned = []
    if any(lg.send_duplicates or lg.stale_removal for lg, _ in groups):
        # lazy per-group bound via broadcast join — no driver collect,
        # one action end to end (empty input degrades through the
        # inner join to an empty emission table)
        pinned.append(partials.persist())
        emissions = crunch_emissions_lazy(partials, lg_by_group)
    else:
        emissions = crunch_emissions_multi(
            partials, lg_by_group, {n: -1 for n in lg_by_group}
        )
    routed = route_stage(emissions, cfgs[0].settings)
    return PipelineResult(routed=routed, emissions=emissions, pinned=pinned)


def write_outputs(spark: SparkSession, result: PipelineResult, io: TableIO) -> None:
    """Per-sink routed table plus the internal stats tables
    (``data_pool.*`` / ``pusher.*``); the routed manifest lands in
    ``result.stats``.

    Both stats tables read the written routed table back: a routed row
    carries its emission's ``group``, ``key_id``, ``boundary`` and
    ``is_zero`` (route.ROUTED_COLS), one row per emission, so the
    crunch runs once per call instead of again for ``stats_pool``."""
    manifest = write_routed(result.routed, io)
    result.stats["routed_manifest"] = manifest
    routed_back = io.read(spark, "routed")
    io.write(pusher_stats(routed_back), "stats_pusher", manifest_extra={"kind": "stats"})
    io.write(pool_stats(routed_back), "stats_pool", manifest_extra={"kind": "stats"})


def run_pipeline(
    spark: SparkSession,
    cfg: PipelineConfig,
    pages: DataFrame,
    io: TableIO | None = None,
    lookups: dict[str, DataFrame] | None = None,
    write: bool = True,
) -> PipelineResult:
    """Run every log group of one config off one pages scan
    (:func:`run_pipeline_multi` with one config), then write the sink
    and stats tables when ``write`` and ``io`` are given."""
    result = run_pipeline_multi(spark, [cfg], pages, lookups=lookups)
    if write and io is not None:
        write_outputs(spark, result, io)
    return result
