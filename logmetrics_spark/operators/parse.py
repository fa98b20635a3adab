"""Parse step: pages -> matched log lines with capture-group columns.

Reimplements the reference's tail/extract path
(``logtail.go:66-156``): line split, 2048-byte long-line guard,
multi-regex first-match capture extraction with the arity contract,
filename(url)-derived capture groups appended after the line groups,
and event-time parse with the rfc3164 year patch.

Everything per-line runs vectorized over one pandas frame of pages
(pandas ``str.split``/``explode``/``str.extract``/``to_datetime``; no
per-row Python). :func:`make_parse_fn` is the first step of the fused
kernel (``operators/fused.py``), which is the engine's only
pages -> datapoints path; the url filter stays in the JVM
(``rlike`` in ``fused.with_group_url_masks``) so predicate pushdown
and column pruning reach the parquet scan. The rfc3164 missing-year
patch (``datapool.go:132-136``) prepends the configured
``default_year`` to the date string before parsing — deterministic
and Feb-29-safe (the oracle does the identical prepend).

Output columns: ``url, warc_ts, lang, line_no, g0..gN, event_ts``.
"""

from __future__ import annotations

import re as _re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import LogGroup


def split_lines(pdf: pd.DataFrame, max_line: int) -> pd.DataFrame:
    """Pages frame -> one row per line shorter than ``max_line``
    (``logtail.go:86,96-122``): ``url, warc_ts, lang, line, line_no``."""
    ex = pdf[["url", "warc_ts", "lang"]].copy()
    ex["line"] = pdf["text"].str.split("\n")
    ex = ex.explode("line", ignore_index=False)
    ex["line_no"] = ex.groupby(level=0).cumcount()
    ex = ex.reset_index(drop=True)
    return ex[ex["line"].str.len() < max_line]


def first_match(
    lines: pd.DataFrame, patterns: list[str], n_groups: int
) -> tuple[pd.DataFrame | None, pd.DataFrame]:
    """First-match-wins regex suite (``logtail.go:124-140``): each
    line takes the capture groups ``g0..gN`` of the first pattern that
    matches it. Returns (matched lines or None, lines no pattern
    matched)."""
    out = None
    pending = lines
    for pat in patterns:
        if pending.empty:
            break
        g = pending["line"].str.extract(f"({pat})", expand=True)
        hit = g[0].notna()
        if hit.any():
            gg = g.loc[hit].fillna("")
            gg.columns = [f"g{i}" for i in range(n_groups + 1)]
            block = pd.concat([pending.loc[hit], gg], axis=1)
            out = block if out is None else pd.concat([out, block])
            pending = pending.loc[~hit]
    return out, pending


def make_parse_fn(lg: LogGroup):
    """Per-frame parse function: pages pdf -> matched-lines pdf or
    None. Patterns compile on the driver and ship in the closure, like
    the reference's config-time PCRE compile (``config.go:151-169``)."""
    patterns = list(lg.regexes)
    n_groups = lg.expected_matches
    max_line = lg.max_line_size
    fn_match = lg.filename_match
    n_url = _re.compile(fn_match).groups if fn_match else 0
    date_pos = lg.date.position
    strp = lg.date.strptime_format
    has_year = lg.date.has_year
    year = lg.default_year if lg.default_year is not None else 1970
    cols = (
        ["url", "warc_ts", "lang", "line_no"]
        + [f"g{i}" for i in range(n_groups + n_url + 1)]
        + ["event_ts"]
    )

    def parse_frame(pdf: pd.DataFrame) -> pd.DataFrame | None:
        if pdf.empty:
            return None
        lines = split_lines(pdf, max_line)
        if lines.empty:
            return None
        out, _ = first_match(lines, patterns, n_groups)
        if out is None or out.empty:
            return None

        # url-derived groups appended (logtail.go:131-134)
        if fn_match:
            ug = out["url"].str.extract(fn_match, expand=True).fillna("")
            for j in range(n_url):
                out[f"g{n_groups + 1 + j}"] = ug[j]

        # event time (datapool.go:124-136)
        if date_pos < 0:
            out["event_ts"] = out["warc_ts"]
        else:
            raw = out[f"g{date_pos}"].str.replace(r" +", " ", regex=True)
            if has_year:
                ts = pd.to_datetime(raw, format=strp, errors="coerce", utc=True)
            else:
                ts = pd.to_datetime(
                    f"{year} " + raw, format=f"%Y {strp}", errors="coerce", utc=True
                )
            out["event_ts"] = ts.dt.tz_convert(None)
            out = out[out["event_ts"].notna()]
        if out.empty:
            return None
        return out[cols]

    return parse_frame


def extract_text_from_html(pages: DataFrame) -> DataFrame:
    """Recover the ``text`` column from the ``html`` bytes (the
    input_hint per-row invariant: byte-identical extracted text per
    url). The synthetic corpus wraps text in a fixed
    ``<pre>...</pre>`` envelope; a real Common-Crawl deployment plugs
    its extractor into this same native expression slot. Pure
    Catalyst: decode + regexp over the binary column, no UDF."""
    decoded = F.decode(F.col("html"), "UTF-8")
    inner = F.regexp_extract(decoded, r"(?s)<pre>(.*)</pre>", 1)
    return pages.withColumn("text_from_html", inner)
