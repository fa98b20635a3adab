"""Aggregate stage: datapoints -> per-key metric emissions (R4 rows).

Two-phase design (SURVEY.md §7.1 step 5) — the crux for both oracle
equality and the N->4N scaling target:

**Phase A — in-task partial aggregation** (:func:`local_reduce_frame`,
run inside the fused kernel and by :func:`partial_stage`). Every
reduction is associative, so each Arrow batch is pre-reduced before
any shuffle:

- meters/counters: per-(key, window, tick) sums — EWMA state depends
  only on per-tick sums, never intra-tick order
  (timemetrics.MeterState);
- histograms: the exp-decay reservoir equals the top-``s`` records by
  deterministic log-priority, so each batch keeps at most ``s``
  candidates per (key, window) (an exact combiner: top-s of a union ==
  top-s of the union of per-part top-s), bounding shuffle volume to
  ``s * batches`` rows per (key, window). The uniform comes from the
  numpy seed mix :func:`datapoint_h52`, shared bit-for-bit with the
  oracle and the live stream.

**Phase B — per-key crunch.** One hash shuffle on (group, key) plus a
sorted, partition-batched ``mapInPandas`` over the *partials* (tiny:
windows x ticks per key, reservoir candidates capped) replays
event-time order: EWMA ticking, reservoir merge, interval push gating
(``datapool.go:280-307``), stale zero-out + removal
(``datapool.go:315-334``), duplicate heartbeats (``datapool.go:336-355``).
Partials of every log group share that one crunch; each key reads its
own group's emission parameters.

Emission spec (epoch-aligned windows ``w = floor(ts / interval)``,
boundary ``B = (w+1)*interval``), per key per window from its first
update window through the globally last window:

1. fold this window's partials into the metric state; tick meters to B;
2. stale: if ``stale_removal`` and ``B - last_update >= threshold`` and
   not ``never_stale`` -> emit zeroed endings at ts=B, drop state (a
   later update recreates the key from scratch, like the reference's
   map delete);
3. push gate: emit a snapshot at ts=last_update iff the key's max
   update time advanced past the previous push (``PushKeysTime``,
   ``datapool.go:336``);
4. else if ``send_duplicates``: emit a duplicate snapshot at synthetic
   ts advanced ``interval`` per repetition (``datapool.go:336-355``;
   deviation: a real push resets the synthetic clock — the reference
   keeps stale bookkeeping forever).
"""

from __future__ import annotations

import numpy as _np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import LogGroup
from ..contracts import HASH_PRIME, MASK52, SEED_A, SEED_A2, SEED_B, XS, XS2, md5_52_py
from ..timemetrics import (
    CounterState,
    HistogramState,
    MeterState,
    format_value,
    np_priorities,
    np_uniform_from_hash52,
)

KEY_COLS = ["key_id", "group", "metric_type", "key_prefix", "key_suffix", "tags", "ref_tag"]

PARTIAL_SCHEMA = (
    "key_id string, group string, metric_type string, key_prefix string, "
    "key_suffix string, tags string, ref_tag string, never_stale boolean, "
    "w long, t long, psum long, pmax_ts long, pri double, rid long, val long"
)

EMISSION_SCHEMA = (
    "key_id string, group string, metric_type string, key_prefix string, "
    "key_suffix string, tags string, ref_tag string, boundary long, "
    "ending string, ts long, value_num double, value_str string, "
    "is_dup boolean, is_zero boolean"
)


_META_COLS = list(KEY_COLS) + ["never_stale"]


def datapoint_h52(key_id: pd.Series, record_id: _np.ndarray) -> _np.ndarray:
    """Reservoir seed per datapoint (contracts.py r03): md5 only per
    DISTINCT key; the per-datapoint seed is the exact multiply-xorshift
    mix of (key_h, record_id) — bit-identical to contracts.h52_py."""
    kmap = {k: md5_52_py(k) for k in key_id.unique()}
    kh = key_id.map(kmap).to_numpy(dtype="int64")
    z = kh ^ (record_id & MASK52)
    w = (SEED_A * (z ^ (z >> XS))) % HASH_PRIME
    return ((SEED_A2 * (w ^ (w >> XS2)) + SEED_B) % HASH_PRIME).astype("float64")


def local_reduce_frame(dp: pd.DataFrame, lg: LogGroup) -> pd.DataFrame | None:
    """In-memory phase-A reduction of one datapoint frame (the reduce
    half of the fused kernel): adds window ``w`` and EWMA tick ``t``
    columns to ``dp`` in place, then per-(key, w, t) sums for
    meters/counters and top-s reservoir candidates per (key, w) for
    histograms, carrying the group max ts (dropped rows still count as
    updates for push gating / staleness). The crunch merges partials
    from different batches/partitions, so this only needs to be
    *sound* (associative), not complete."""
    if dp.empty:
        return None
    size = lg.histogram_size
    alpha = lg.histogram_alpha_decay
    ts = dp["ts_sec"].to_numpy()
    mt = dp["metric_type"].to_numpy()
    is_hist = mt == "histogram"
    dp["w"] = ts // lg.interval
    dp["t"] = _np.where(mt == "meter", ts // lg.ewma_interval, 0)
    hist = dp[is_hist]
    rest = dp[~is_hist]
    frames = []
    if len(rest):
        sums = rest.groupby(_META_COLS + ["w", "t"], sort=False, as_index=False).agg(
            psum=("value", "sum"), pmax_ts=("ts_sec", "max")
        )
        sums["pri"] = pd.array([None] * len(sums), dtype="float64")
        sums["rid"] = pd.array([None] * len(sums), dtype="Int64")
        sums["val"] = pd.array([None] * len(sums), dtype="Int64")
        frames.append(sums)
    if len(hist):
        u = np_uniform_from_hash52(datapoint_h52(hist["key_id"], hist["record_id"].to_numpy()))
        hist = hist.assign(pri=np_priorities(hist["ts_sec"].to_numpy(), u, alpha))
        # group rides in the reservoir keys: the crunch segments state
        # on (group, key_id), and two groups may share a key_id — their
        # reservoirs must not merge
        grp = hist.groupby(["group", "key_id", "w"], sort=False)
        hist = hist.assign(grp_max_ts=grp["ts_sec"].transform("max"))
        kept = (
            hist.sort_values(["pri", "record_id"], ascending=False)
            .groupby(["group", "key_id", "w"], sort=False)
            .head(size)
        )
        frames.append(
            pd.DataFrame(
                {
                    **{c: kept[c] for c in _META_COLS},
                    "w": kept["w"],
                    "t": 0,
                    "psum": pd.array([None] * len(kept), dtype="Int64"),
                    "pmax_ts": kept["grp_max_ts"],
                    "pri": kept["pri"],
                    "rid": kept["record_id"],
                    "val": kept["value"],
                }
            )
        )
    if not frames:
        return None
    out = pd.concat(frames, ignore_index=True)
    return out[_META_COLS + ["w", "t", "psum", "pmax_ts", "pri", "rid", "val"]]


def partial_stage(dp: DataFrame, lg: LogGroup) -> DataFrame:
    """Phase A over a datapoint table (``datapoints.DATAPOINT_SCHEMA``
    columns) that did not come from pages: one narrow ``mapInPandas``
    running :func:`local_reduce_frame` per Arrow batch — the same
    reduction the fused kernel applies — so shuffle volume drops from
    |datapoints| to O(distinct keys x windows) per batch."""

    def local_reduce(batches):
        for pdf in batches:
            out = local_reduce_frame(pdf, lg)
            if out is not None:
                yield out

    return dp.mapInPandas(local_reduce, schema=PARTIAL_SCHEMA)


def _new_state(metric_type: str, lg: LogGroup):
    if metric_type == "counter":
        return CounterState()
    if metric_type == "meter":
        return MeterState(tick_seconds=lg.ewma_interval)
    if metric_type == "histogram":
        return HistogramState(size=lg.histogram_size, alpha=lg.histogram_alpha_decay)
    raise ValueError(f"unknown metric_type: {metric_type!r}")


def _np_format_values(vals):
    """Vectorized :func:`timemetrics.format_value`: integer-valued
    floats render bare, the rest with 4 decimals."""
    out = _np.char.mod("%.4f", vals).astype(object)
    ints = (vals == _np.floor(vals)) & (_np.abs(vals) < 2.0**53)
    if ints.any():
        out[ints] = vals[ints].astype(_np.int64).astype(str)
    return out


def _gap_emit(lg: LogGroup, metric_type: str, never_stale: bool, state,
              w_from: int, w_to: int, dup_ts, emit, emit_bulk):
    """Vectorized emission for a run of data-free windows
    [w_from, w_to] (full-scan mode): duplicate heartbeats in bulk
    (counter/histogram snapshots are constant across the run; meter
    rates decay in closed form per boundary tick), with the stale
    zero-out cutting the run at the first boundary past the TTL — the
    per-window Python loop over these gaps was >90%% of phase-B time
    on heartbeat-heavy profiles. Returns (state_or_None, dup_ts)."""
    interval = lg.interval
    stale_secs = lg.stale_treshold_min * 60

    if (w_to - w_from) < 64:
        # SHORT runs (the common case when keys update steadily): the
        # per-chunk numpy fixed costs (array alloc + string format per
        # tiny chunk x endings) exceed plain per-window appends —
        # measured 4x slower end-to-end when everything bulked. Walk
        # the windows scalar-style; bulk only pays off on long runs
        # (sparse keys heartbeating across a wide retention span).
        for W in range(w_from, w_to + 1):
            B = (W + 1) * interval
            state.tick_to(float(B))
            if (
                lg.stale_removal
                and not never_stale
                and (B - state.last_update) >= stale_secs
            ):
                state.zero_out()
                emit(B, B, state.snapshot(), False, True)
                return None, None
            if lg.send_duplicates:
                dup_ts = (dup_ts if dup_ts is not None else int(state.last_update)) + interval
                emit(B, dup_ts, state.snapshot(), True, False)
        return state, dup_ts

    # ULP note: this bulk path computes each window's meter rate as
    # r1 * (1-a)^(ticks_i - c0 - 1) — ONE pow from the completed state
    # — while the oracle (and the scalar branch above) chain per-window
    # _advance_to_tick jumps. The chains agree to ~1e-15 relative but
    # are not bitwise identical; the %.4f line rendering absorbs the
    # difference except when a rate sits within ~1 ulp of a 0.00005
    # rounding boundary (~1e-11 per emission — accepted, documented).
    bs = (_np.arange(w_from, w_to + 1, dtype=_np.int64) + 1) * interval
    cut = len(bs)
    zero_b = None
    if lg.stale_removal and not never_stale:
        stale_mask = (bs - state.last_update) >= stale_secs
        if stale_mask.any():
            k = int(_np.argmax(stale_mask))
            zero_b = int(bs[k])
            cut = k

    if lg.send_duplicates and cut > 0:
        d0 = dup_ts if dup_ts is not None else int(state.last_update)
        ts_arr = d0 + interval * _np.arange(1, cut + 1, dtype=_np.int64)
        dup_ts = int(ts_arr[-1])
        dup_bs = bs[:cut]
        if metric_type == "meter":
            ticks = dup_bs // lg.ewma_interval
            c0 = state._cur_tick
            adv = ticks > c0
            exps = _np.where(adv, ticks - c0 - 1, 0).astype(_np.float64)
            instant = state._pending / float(state.tick_seconds)
            alphas = state._alphas()
            if state._initialized:
                r1 = [r + a * (instant - r) for r, a in zip(state._rates, alphas)]
            else:
                r1 = [instant] * 3
            for ending, r0v, r1v, a in zip(
                ("rate._1min", "rate._5min", "rate._15min"), state._rates, r1, alphas
            ):
                rates = _np.where(adv, r1v * (1.0 - a) ** exps, r0v)
                emit_bulk(dup_bs, ts_arr, ending, rates, True, False)
            emit_bulk(dup_bs, ts_arr, "count", _np.full(cut, float(state.count)), True, False)
        elif metric_type == "counter":
            emit_bulk(dup_bs, ts_arr, "count", _np.full(cut, float(state.count)), True, False)
        else:  # histogram: reservoir untouched by empty windows
            for ending, v in state.snapshot().items():
                emit_bulk(dup_bs, ts_arr, ending, _np.full(cut, float(v)), True, False)

    if zero_b is not None:
        state.tick_to(float(zero_b))
        state.zero_out()
        emit(zero_b, zero_b, state.snapshot(), False, True)
        return None, None
    state.tick_to(float(bs[-1]))
    return state, dup_ts


def _crunch_one_key(lg: LogGroup, global_last_w: int, metric_type: str,
                    never_stale: bool, w, t, psum, pmax, pri, rid, val, emit,
                    emit_bulk):
    """Replay one key's partials through its metric state, emitting at
    window boundaries per the spec in the module docstring. Operates on
    numpy slices (sorted by (w, t)); called from the partition mapper.
    Data-free window runs route through :func:`_gap_emit` (bulk)."""
    interval = lg.interval
    stale_secs = lg.stale_treshold_min * 60

    starts = _np.unique(w, return_index=True)[1]
    segs = list(zip(starts, list(starts[1:]) + [len(w)]))

    state = None
    last_push_maxts = None
    dup_ts = None

    def stale_boundary(last_update: float) -> int:
        b = last_update + stale_secs
        return int(-(-b // interval) * interval)  # ceil to boundary

    def merge_seg(s0: int, s1: int) -> None:
        if metric_type == "meter":
            for j in range(s0, s1):
                state.merge_partial(int(t[j]), int(psum[j]), float(pmax[j]))
        elif metric_type == "counter":
            for j in range(s0, s1):
                state.update(float(pmax[j]), int(psum[j]))
        else:
            cands = [(float(pri[j]), int(rid[j]), int(val[j])) for j in range(s0, s1)]
            state.merge_candidates(cands, float(pmax[s0:s1].max()))

    full_scan = lg.send_duplicates
    if full_scan:
        prev_w = None
        for s0, s1 in list(segs) + [(None, None)]:
            W = int(w[s0]) if s0 is not None else None
            if state is not None and prev_w is not None:
                gap_to = (W - 1) if W is not None else global_last_w
                if gap_to >= prev_w + 1:
                    state, dup_ts = _gap_emit(
                        lg, metric_type, never_stale, state,
                        prev_w + 1, gap_to, dup_ts, emit, emit_bulk,
                    )
            if W is None:
                break
            B = (W + 1) * interval
            if state is None:
                state = _new_state(metric_type, lg)
                last_push_maxts = None
                dup_ts = None
            merge_seg(s0, s1)
            state.tick_to(float(B))
            if (
                lg.stale_removal
                and not never_stale
                and (B - state.last_update) >= stale_secs
            ):
                state.zero_out()
                emit(B, B, state.snapshot(), False, True)
                state = None
                prev_w = W
                continue
            if last_push_maxts is None or state.last_update > last_push_maxts:
                emit(B, int(state.last_update), state.snapshot(), False, False)
                last_push_maxts = state.last_update
                dup_ts = None
            else:
                dup_ts = (dup_ts if dup_ts is not None else int(state.last_update)) + interval
                emit(B, dup_ts, state.snapshot(), True, False)
            prev_w = W
        return

    for s0, s1 in segs:
        W = int(w[s0])
        B = (W + 1) * interval
        if (
            lg.stale_removal
            and not never_stale
            and state is not None
        ):
            b_star = stale_boundary(state.last_update)
            if b_star < B:  # staleness fired in the gap before W
                state.tick_to(float(b_star))
                state.zero_out()
                emit(b_star, b_star, state.snapshot(), False, True)
                state = None
        if state is None:
            state = _new_state(metric_type, lg)
            last_push_maxts = None
            dup_ts = None
        merge_seg(s0, s1)
        state.tick_to(float(B))

        if (
            lg.stale_removal
            and not never_stale
            and (B - state.last_update) >= stale_secs
        ):
            state.zero_out()
            emit(B, B, state.snapshot(), False, True)
            state = None
            continue

        if last_push_maxts is None or state.last_update > last_push_maxts:
            emit(B, int(state.last_update), state.snapshot(), False, False)
            last_push_maxts = state.last_update
            dup_ts = None

    # fast-path tail: staleness firing after the last update window
    if (
        lg.stale_removal
        and not never_stale
        and state is not None
    ):
        b_star = stale_boundary(state.last_update)
        if b_star <= (global_last_w + 1) * interval:
            state.tick_to(float(b_star))
            state.zero_out()
            emit(b_star, b_star, state.snapshot(), False, True)


_META = list(KEY_COLS)  # single source of truth for emission metadata order
_OUT_COLS = _META + ["boundary", "ending", "ts", "value_num", "value_str", "is_dup", "is_zero"]


def make_multi_crunch_mapper(
    lg_by_group: dict[str, LogGroup],
    last_w_by_group: dict[str, int] | None,
):
    """Partition-batched phase-B mapper over MIXED-group partials:
    input sorted by (group, key_id, w, t, rid) within hash partitions;
    keys are segmented with numpy, which amortizes per-key overhead
    across the whole Arrow batch (per-group applyInPandas calls cost
    ~ms per key). Each key dispatches to its own log group's emission
    parameters via the ``group`` column — N groups share ONE shuffle
    and one crunch stage (the single-scan pipeline's back half).

    ``last_w_by_group=None`` switches to the LAZY gating contract: the
    input frames carry a ``glw`` column (per-group global last window,
    broadcast-joined upstream by :func:`crunch_emissions_lazy`) and the
    bound is read per key from the data instead of a driver-side
    dict — no collect() ever blocks plan construction."""

    def _lg_of(group: str) -> LogGroup:
        got = lg_by_group.get(group)
        if got is None:
            raise KeyError(f"crunch: unknown log group {group!r}")
        return got

    def process_frame(pdf: pd.DataFrame, acc: dict) -> None:
        # segment by (group, key_id): two groups may legitimately share
        # a key_prefix and therefore a key_id — their states must not
        # merge (each group has its own emission parameters AND its own
        # series; the oracle keys state on (group, key) too)
        keys = (pdf["group"] + "\x00" + pdf["key_id"]).to_numpy()
        starts = _np.unique(keys, return_index=True)[1]
        starts = _np.sort(starts)
        bounds = list(starts) + [len(pdf)]
        w = pdf["w"].to_numpy()
        t = pdf["t"].to_numpy()
        psum = pdf["psum"].to_numpy()
        pmax = pdf["pmax_ts"].to_numpy()
        pri = pdf["pri"].to_numpy()
        rid = pdf["rid"].to_numpy()
        val = pdf["val"].to_numpy()
        ns = pdf["never_stale"].to_numpy()
        glw = pdf["glw"].to_numpy() if last_w_by_group is None else None
        meta_arrays = {c: pdf[c].to_numpy() for c in _META}
        for k0, k1 in zip(bounds[:-1], bounds[1:]):
            meta = tuple(meta_arrays[c][k0] for c in _META)
            metric_type = meta[2]
            lg = _lg_of(meta[1])  # per-key group dispatch
            global_last_w = (
                int(glw[k0]) if glw is not None else last_w_by_group.get(meta[1], -1)
            )
            n_before = len(acc["ending"])

            def emit(boundary, ts, snap, is_dup, is_zero):
                for ending, v in snap.items():
                    if is_zero:
                        v = 0
                    acc["boundary"].append(boundary)
                    acc["ending"].append(ending)
                    acc["ts"].append(int(ts))
                    acc["value_num"].append(float(v))
                    acc["value_str"].append(format_value(v))
                    acc["is_dup"].append(is_dup)
                    acc["is_zero"].append(is_zero)

            def emit_bulk(boundaries, ts_arr, ending, values, is_dup, is_zero):
                n = len(boundaries)
                if n == 0:
                    return
                b = acc["_bulk"]
                b["boundary"].append(boundaries)
                b["ending"].append(_np.full(n, ending, dtype=object))
                b["ts"].append(ts_arr)
                b["value_num"].append(values)
                b["value_str"].append(_np_format_values(values))
                b["is_dup"].append(_np.full(n, is_dup, dtype=bool))
                b["is_zero"].append(_np.full(n, is_zero, dtype=bool))
                acc["_bulk_meta"].append((meta, n))
                acc["_bulk_rows"] += n

            _crunch_one_key(
                lg, global_last_w, metric_type, bool(ns[k0:k1].max()),
                w[k0:k1], t[k0:k1], psum[k0:k1], pmax[k0:k1],
                pri[k0:k1], rid[k0:k1], val[k0:k1], emit, emit_bulk,
            )
            n_new = len(acc["ending"]) - n_before
            for c, v in zip(_META, meta):
                acc[c].extend([v] * n_new)

    _BULK_COLS = ["boundary", "ending", "ts", "value_num", "value_str", "is_dup", "is_zero"]

    def _new_acc():
        return {
            **{c: [] for c in _OUT_COLS},
            "_bulk": {c: [] for c in _BULK_COLS},
            "_bulk_meta": [],
            "_bulk_rows": 0,
        }

    def _flush(acc) -> pd.DataFrame | None:
        frames = []
        if len(acc["ending"]):
            frames.append(pd.DataFrame({c: acc[c] for c in _OUT_COLS}))
        if acc["_bulk_meta"]:
            counts = [n for _, n in acc["_bulk_meta"]]
            data = {}
            for i, c in enumerate(_META):
                data[c] = _np.repeat(
                    _np.array([m[i] for m, _ in acc["_bulk_meta"]], dtype=object), counts
                )
            for c in _BULK_COLS:
                data[c] = _np.concatenate(acc["_bulk"][c])
            frames.append(pd.DataFrame({c: data[c] for c in _OUT_COLS}))
        if not frames:
            return None
        return frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)

    def mapper(batches):
        acc = _new_acc()
        pending: pd.DataFrame | None = None
        for pdf in batches:
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            if pdf.empty:
                continue
            keys = (pdf["group"] + "\x00" + pdf["key_id"]).to_numpy()
            # hold back the (possibly batch-spanning) trailing
            # (group, key) segment
            n_tail = int((keys == keys[-1]).sum())
            cut = len(pdf) - n_tail
            if cut > 0:
                process_frame(pdf.iloc[:cut], acc)
            pending = pdf.iloc[cut:]
            if len(acc["ending"]) + acc["_bulk_rows"] >= 200_000:
                out = _flush(acc)
                if out is not None:
                    yield out
                acc = _new_acc()
        if pending is not None and len(pending):
            process_frame(pending, acc)
        out = _flush(acc)
        if out is not None:
            yield out

    return mapper


def _null_safe_partials(partials: DataFrame) -> DataFrame:
    """Coalesce the metric-type-dependent nullable long columns to 0.

    Arrow->pandas converts a long column WITH nulls to float64 inside
    ``mapInPandas``, silently rounding integers above 2^53 — and the
    parse contract admits 18-digit values (contracts.INT_RE), so a
    17-digit counter sum sharing a partition batch with histogram rows
    (whose psum is null) would corrupt (verified: 10000000000000001
    arrives as 1e16). The crunch dispatches on ``metric_type``, never
    on null-ness, so zero-filling is semantics-free; with no nulls the
    columns cross Arrow as exact int64."""
    return (
        partials.withColumn("psum", F.coalesce("psum", F.lit(0).cast("long")))
        .withColumn("rid", F.coalesce("rid", F.lit(0).cast("long")))
        .withColumn("val", F.coalesce("val", F.lit(0).cast("long")))
    )


def _crunch(partials: DataFrame, mapper, num_partitions: int | None) -> DataFrame:
    """Hash-partition the partials by (group, key), sort within
    partitions, run the batched crunch mapper (one shuffle, bounded
    state).

    Defaults to exactly ``spark.sql.shuffle.partitions`` tasks, one
    Python task per core under the session defaults. Each Python task
    pays a fixed boundary cost whatever it does (a no-op
    ``mapInArrow`` over 64 tasks left ~230 ms between consecutive
    tasks on one reused worker, 0.3 ms of it in the UDF body), so more
    tasks than cores only add overhead: on the same persisted
    heartbeat partials, at local[4] on a 4-core host, the crunch took
    2.25 s at 16 tasks and 1.11 s at 4. The count stays explicit (AQE never coalesces an
    explicit repartition): left to AQE, which sizes by bytes, the
    small compressed partials coalesced into one 3.3 s task, because
    this stage is bound by Python compute, not bytes."""
    spark = partials.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    rep = partials.repartition(n, "group", "key_id").sortWithinPartitions(
        "group", "key_id", "w", "t", "rid"
    )
    return rep.mapInPandas(mapper, schema=EMISSION_SCHEMA)


def crunch_emissions_multi(
    partials: DataFrame,
    lg_by_group: dict[str, LogGroup],
    last_w_by_group: dict[str, int],
    num_partitions: int | None = None,
) -> DataFrame:
    """Phase B over mixed-group partials with driver-known per-group
    last windows (``-1`` when no group sends duplicates or removes
    stale keys): one shuffle + one crunch for every log group together
    (see make_multi_crunch_mapper)."""
    return _crunch(
        _null_safe_partials(partials),
        make_multi_crunch_mapper(lg_by_group, last_w_by_group),
        num_partitions,
    )


def crunch_emissions_lazy(
    partials: DataFrame,
    lg_by_group: dict[str, LogGroup],
    num_partitions: int | None = None,
) -> DataFrame:
    """Phase B with the per-group last-window bound supplied LAZILY:
    a broadcast join against the 1-row-per-group max(w) aggregate of
    the (persisted) partials replaces the driver-side
    ``agg(max(w)).collect()`` — plan construction runs ZERO jobs, the
    whole dups/stale pipeline executes as one action, and an empty
    input degrades to an empty result through the inner join instead
    of a special case.

    The caller should ``persist()`` the partials first: the broadcast
    subquery and the main stage both consume them, and only ONE
    broadcast thread exists (no stampede — the r02 failure mode needed
    two concurrent broadcast consumers of an unpopulated cache)."""
    gw = partials.groupBy("group").agg(F.max("w").alias("glw"))
    return _crunch(
        _null_safe_partials(partials).join(F.broadcast(gw), "group"),
        make_multi_crunch_mapper(lg_by_group, None),
        num_partitions,
    )
