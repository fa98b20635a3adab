"""Driver-contract query registry: Spark queries + DuckDB oracle SQL.

One entry per implemented operator family from SURVEY.md §2, exercised
over the driver-provided tables (documents/events/embeddings/lineitem/
...; see TESTDATA.md). Each Spark callable and its oracle produce
identically-named columns and (by construction) identical values:

- money/double sums go through integer cents (order-free exact math);
- every residual double is rounded to 6 dp on both sides;
- hashes are md5-based (the engine-wide convention) — portable across
  Spark, DuckDB, and Python.

The registry value is ``(fn, sql)``. As of r02 every entry has a
DuckDB oracle — including the ops that LOOK non-SQL-expressible:
the EWMA scan (closed-form recurrence), the exp-decay reservoir
(deterministic top-k by log-priority), and IVF (bit-replayed
quantizer). ``sql=None`` remains supported for future genuinely
weaker checks but is currently unused.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions import dedup as D
from .functions import similarity as S
from .functions import text as T

REGISTRY: dict[str, tuple] = {}


def q(name: str, sql: str | None):
    def deco(fn):
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # the driver owns the session: pin UTC so NTZ->epoch conversions
    # match DuckDB's treatment of naive timestamps regardless of the
    # host timezone
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# hash helpers (Spark side mirrors DuckDB's
#   CAST(('0x' || substr(md5(x),1,13)) AS BIGINT)  )
def _md5_52(col):
    return F.conv(F.substring(F.md5(col), 1, 13), 16, 10).cast("long")


def _epoch(col):
    """Fractional epoch seconds (TIMESTAMP_NTZ-safe; session tz = UTC,
    matching DuckDB's epoch() on naive timestamps)."""
    return F.unix_micros(col.cast("timestamp")) / F.lit(1_000_000.0)


MD5_52_SQL = "CAST(('0x' || substr(md5({x}),1,13)) AS BIGINT)"

# =====================================================================
# §2.1/2.2 — sources, parse & scalar-expression DSL (over documents)
# =====================================================================

_EXTRACT_PAT = r"(\w+) value (\w+)"


@q(
    "parse_extract",
    f"""
    SELECT doc_id,
           regexp_extract(text, '{_EXTRACT_PAT}', 1) AS before_value,
           regexp_extract(text, '{_EXTRACT_PAT}', 2) AS after_value
    FROM documents
    WHERE regexp_matches(text, '{_EXTRACT_PAT}')
    """,
)
def q_parse_extract(spark, sf_dir):
    """Multi-group regex extraction + implicit match filter
    (≈ logtail.go:124-140 first-match extract)."""
    d = _t(spark, sf_dir, "documents")
    return d.filter(F.col("text").rlike(_EXTRACT_PAT)).select(
        "doc_id",
        F.regexp_extract("text", _EXTRACT_PAT, 1).alias("before_value"),
        F.regexp_extract("text", _EXTRACT_PAT, 2).alias("after_value"),
    )


@q(
    "parse_match_rate",
    f"""
    SELECT source,
           COUNT(*) AS line_read,
           COUNT(*) FILTER (WHERE regexp_matches(text, '{_EXTRACT_PAT}')) AS line_matched,
           CAST(SUM(length(text)) AS BIGINT) AS byte_read
    FROM documents GROUP BY source ORDER BY source
    """,
)
def q_parse_match_rate(spark, sf_dir):
    """tail.line_read/line_matched/byte_read counters (logtail.go:52-64).

    NB (all aggregate entries): integer SUMs in the DuckDB oracle are
    CAST AS BIGINT — DuckDB's SUM(int) yields HUGEINT, which the
    driver's fetch converts to float64 and the value hash then
    mismatches Spark's int64; outputs are also totally ordered on both
    sides so the hash is row-order-insensitive."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("line_read"),
            F.count(F.when(F.col("text").rlike(_EXTRACT_PAT), 1)).alias("line_matched"),
            F.sum(F.length("text")).alias("byte_read"),
        )
        .orderBy("source")
    )


@q(
    "long_line_guard",
    """
    SELECT lang, COUNT(*) AS kept
    FROM documents WHERE length(text) < 300
    GROUP BY lang
    """,
)
def q_long_line_guard(spark, sf_dir):
    """maxLineSize drop (logtail.go:86,96-122)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.filter(F.length("text") < 300).groupBy("lang").agg(F.count(F.lit(1)).alias("kept"))
    )


@q(
    "transform_replace_chain",
    """
    SELECT doc_id,
           CASE WHEN regexp_matches(tok1, '^(table|row|column)$') THEN tok1
                ELSE 'other' END AS tok_bucket
    FROM (
      SELECT doc_id,
             regexp_replace(regexp_replace(split_part(text, ' ', 1), '^scan$', 'row'),
                            '^agg$', 'column') AS tok1
      FROM documents
    ) s
    """,
)
def q_transform_replace_chain(spark, sf_dir):
    """replace chain + match_or_default whitelist (transform.go:46-69)."""
    d = _t(spark, sf_dir, "documents")
    tok = F.split(F.col("text"), " ").getItem(0)
    tok = F.regexp_replace(tok, "^scan$", "row")
    tok = F.regexp_replace(tok, "^agg$", "column")
    bucket = F.when(tok.rlike("^(table|row|column)$"), tok).otherwise(F.lit("other"))
    return d.select("doc_id", bucket.alias("tok_bucket"))


@q(
    "tags_sorted",
    """
    SELECT doc_id,
           'lang=' || lang || ' source=' || source AS tags
    FROM documents
    """,
)
def q_tags_sorted(spark, sf_dir):
    """alphabetical tag=v rendering (datapool.go:59-90)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.concat_ws(
            " ", F.concat(F.lit("lang="), "lang"), F.concat(F.lit("source="), "source")
        ).alias("tags"),
    )


@q(
    "scale_ops",
    """
    SELECT event_id,
           CAST(ROUND(value * 100) AS BIGINT) * 10 AS scaled,
           CAST(FLOOR(CAST(ROUND(value * 100) AS BIGINT) / 7) AS BIGINT) AS divided,
           CAST(ROUND(value * 100) AS BIGINT) - CAST(user_id AS BIGINT) AS subbed
    FROM events
    """,
)
def q_scale_ops(spark, sf_dir):
    """multiply/divide + add/sub arithmetic (datapool.go:138-201)."""
    e = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    return e.select(
        "event_id",
        (cents * 10).alias("scaled"),
        F.floor(cents / 7).cast("long").alias("divided"),
        (cents - F.col("user_id").cast("long")).alias("subbed"),
    )


@q(
    "datapoint_fanout",
    """
    SELECT event_id, 'events.count' AS metric, CAST(1 AS BIGINT) AS v FROM events
    UNION ALL
    SELECT event_id, 'events.value_cents' AS metric,
           CAST(ROUND(value * 100) AS BIGINT) AS v FROM events
    """,
)
def q_datapoint_fanout(spark, sf_dir):
    """config-driven explode fan-out (datapool.go:116-215)."""
    e = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    return e.select(
        "event_id",
        F.explode(
            F.array(
                F.struct(F.lit("events.count").alias("metric"), F.lit(1).cast("long").alias("v")),
                F.struct(F.lit("events.value_cents").alias("metric"), cents.alias("v")),
            )
        ).alias("dp"),
    ).select("event_id", F.col("dp.metric").alias("metric"), F.col("dp.v").alias("v"))


# =====================================================================
# §2.3/2.4 — windowed aggregation, watermark, stale, gap-fill (events)
# =====================================================================


@q(
    "meter_window_sum",
    """
    SELECT event_type,
           CAST(FLOOR(epoch(ts) / 60) AS BIGINT) * 60 AS w_start,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events GROUP BY event_type, w_start ORDER BY event_type, w_start
    """,
)
def q_meter_window_sum(spark, sf_dir):
    """tumbling event-time window partial sums (the meter phase-A agg;
    datapool.go:280-307 interval trigger analog)."""
    e = _t(spark, sf_dir, "events")
    w = (F.floor(F.unix_timestamp("ts") / 60) * 60).cast("long")
    return (
        e.groupBy("event_type", w.alias("w_start"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
        )
        .orderBy("event_type", "w_start")
    )


@q(
    "counter_running",
    """
    SELECT event_type, w_start,
           CAST(SUM(wsum) OVER (PARTITION BY event_type ORDER BY w_start
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents
    FROM (
      SELECT event_type,
             CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) * 3600 AS w_start,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS wsum
      FROM events GROUP BY event_type, w_start
    ) s ORDER BY event_type, w_start
    """,
)
def q_counter_running(spark, sf_dir):
    """running cumulative counter across windows (Counter semantics)."""
    e = _t(spark, sf_dir, "events")
    w = (F.floor(F.unix_timestamp("ts") / 3600) * 3600).cast("long")
    per = e.groupBy("event_type", w.alias("w_start")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("wsum")
    )
    cum = (
        Window.partitionBy("event_type")
        .orderBy("w_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per.select(
        "event_type", "w_start", F.sum("wsum").over(cum).alias("running_cents")
    ).orderBy("event_type", "w_start")


@q(
    "hist_moments",
    """
    SELECT event_type, n, min_cents, max_cents,
           ROUND(s1 / 100.0 / n, 6) AS mean_v,
           ROUND(sqrt((n * s2 - s1 * s1) * 1.0 / (n * (n - 1))) / 100.0, 6) AS std_dev
    FROM (
      SELECT event_type, COUNT(*) AS n,
             MIN(CAST(ROUND(value * 100) AS BIGINT)) AS min_cents,
             MAX(CAST(ROUND(value * 100) AS BIGINT)) AS max_cents,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS s1,
             SUM(CAST(ROUND(value * 100) AS BIGINT) * CAST(ROUND(value * 100) AS BIGINT)) AS s2
      FROM events GROUP BY event_type
    ) s
    """,
)
def q_hist_moments(spark, sf_dir):
    """min/max/mean/std_dev via exact integer moments (order-free —
    the salt-safe decomposition the engine uses at scale)."""
    e = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    agg = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(cents).alias("min_cents"),
        F.max(cents).alias("max_cents"),
        F.sum(cents).alias("s1"),
        F.sum(cents * cents).alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    return agg.select(
        "event_type", "n", "min_cents", "max_cents",
        F.round(s1 / 100.0 / n, 6).alias("mean_v"),
        F.round(F.sqrt((n * s2 - s1 * s1) * 1.0 / (n * (n - 1))) / 100.0, 6).alias("std_dev"),
    )


@q(
    "hist_percentiles",
    """
    SELECT event_type,
           ROUND(CAST(quantile_cont(cents, 0.50) AS DOUBLE), 6) AS p50,
           ROUND(CAST(quantile_cont(cents, 0.75) AS DOUBLE), 6) AS p75,
           ROUND(CAST(quantile_cont(cents, 0.95) AS DOUBLE), 6) AS p95,
           ROUND(CAST(quantile_cont(cents, 0.99) AS DOUBLE), 6) AS p99
    FROM (SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events) s
    GROUP BY event_type
    """,
)
def q_hist_percentiles(spark, sf_dir):
    """exact percentiles (cross-check for the reservoir estimator;
    SURVEY §2.3 notes approx_percentile is NOT semantics-equivalent)."""
    e = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    d = e.select("event_type", cents.alias("cents"))
    return d.groupBy("event_type").agg(
        F.round(F.expr("percentile(cents, 0.50)"), 6).alias("p50"),
        F.round(F.expr("percentile(cents, 0.75)"), 6).alias("p75"),
        F.round(F.expr("percentile(cents, 0.95)"), 6).alias("p95"),
        F.round(F.expr("percentile(cents, 0.99)"), 6).alias("p99"),
    )


@q(
    "watermark_late_rows",
    """
    SELECT file_id,
           CAST(FLOOR(MAX(epoch(ts))) AS BIGINT) AS high_water,
           COUNT(*) FILTER (WHERE is_late) AS late_rows
    FROM (
      SELECT user_id % 8 AS file_id, ts,
             epoch(ts) < MAX(epoch(ts)) OVER (
               PARTITION BY user_id % 8 ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS is_late
      FROM events
    ) s GROUP BY file_id
    """,
)
def q_watermark_late_rows(spark, sf_dir):
    """per-source high-water mark + out-of-order detection
    (datapool.go:238-244,270-274)."""
    e = _t(spark, sf_dir, "events")
    fid = (F.col("user_id") % 8).alias("file_id")
    w = (
        Window.partitionBy(F.col("user_id") % 8)
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = e.select(
        fid,
        "ts",
        (
            _epoch(F.col("ts"))
            < F.max(_epoch(F.col("ts"))).over(w)
        ).alias("is_late"),
    )
    return flagged.groupBy("file_id").agg(
        F.floor(F.max(_epoch(F.col("ts"))))
        .cast("long")
        .alias("high_water"),
        F.count(F.when(F.col("is_late"), 1)).alias("late_rows"),
    )


@q(
    "stale_keys",
    """
    SELECT user_id AS key_id, event_type,
           CAST(FLOOR(MAX(epoch(ts))) AS BIGINT) AS last_update
    FROM events
    GROUP BY user_id, event_type
    HAVING MAX(epoch(ts)) < (SELECT MAX(epoch(ts)) FROM events) - 2 * 86400
    """,
)
def q_stale_keys(spark, sf_dir):
    """stale-key detection: no update within TTL of the global high
    water (datapool.go:315-334)."""
    e = _t(spark, sf_dir, "events")
    # global high-water as a broadcast 1-row aggregate (lazy — no
    # driver collect mid-plan; Spark broadcasts the single-row side)
    gmax = e.agg(F.max(_epoch(F.col("ts"))).alias("_gmax"))
    return (
        e.groupBy(F.col("user_id").alias("key_id"), F.col("event_type"))
        .agg(
            F.floor(F.max(_epoch(F.col("ts"))))
            .cast("long")
            .alias("last_update"),
            F.max(_epoch(F.col("ts"))).alias("_m"),
        )
        .join(F.broadcast(gmax))
        .filter(F.col("_m") < F.col("_gmax") - 2 * 86400)
        .drop("_m", "_gmax")
    )


@q(
    "gap_fill_windows",
    """
    SELECT event_type, COUNT(*) AS empty_windows
    FROM (
      SELECT event_type,
             unnest(generate_series(wmin, wmax, 3600)) AS w
      FROM (
        SELECT event_type,
               CAST(FLOOR(MIN(epoch(ts)) / 3600) AS BIGINT) * 3600 AS wmin,
               CAST(FLOOR(MAX(epoch(ts)) / 3600) AS BIGINT) * 3600 AS wmax
        FROM events GROUP BY event_type
      ) b
    ) g
    LEFT JOIN (
      SELECT DISTINCT event_type AS et2,
             CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) * 3600 AS w2
      FROM events
    ) h ON g.event_type = h.et2 AND g.w = h.w2
    WHERE h.et2 IS NULL
    GROUP BY event_type
    """,
)
def q_gap_fill_windows(spark, sf_dir):
    """duplicate-heartbeat support: windows with no input per key
    (datapool.go:336-355 gap detection)."""
    e = _t(spark, sf_dir, "events")
    day = (F.floor(F.unix_timestamp("ts") / 3600) * 3600).cast("long")
    bounds = e.groupBy("event_type").agg(
        F.min(day).alias("wmin"), F.max(day).alias("wmax")
    )
    grid = bounds.select(
        "event_type",
        F.explode(F.sequence("wmin", "wmax", F.lit(3600).cast("long"))).alias("w"),
    )
    present = e.select("event_type", day.alias("w")).distinct()
    missing = grid.join(present, ["event_type", "w"], "left_anti")
    return missing.groupBy("event_type").agg(F.count(F.lit(1)).alias("empty_windows"))


# =====================================================================
# §2.5/2.7 — routing, sink hash, enrichment join, sorts/limits
# =====================================================================


@q(
    "route_put_lines",
    """
    SELECT 'put events.count ' || CAST(w_start AS VARCHAR) || ' ' || CAST(n AS VARCHAR)
           || ' event_type=' || event_type AS line
    FROM (
      SELECT event_type,
             CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) * 3600 AS w_start,
             COUNT(*) AS n
      FROM events GROUP BY event_type, w_start
    ) s
    """,
)
def q_route_put_lines(spark, sf_dir):
    """OpenTSDB put-line rendering (tsdpusher.go:51-58)."""
    e = _t(spark, sf_dir, "events")
    w = (F.floor(F.unix_timestamp("ts") / 3600) * 3600).cast("long")
    agg = e.groupBy("event_type", w.alias("w_start")).agg(F.count(F.lit(1)).alias("n"))
    return agg.select(
        F.concat(
            F.lit("put events.count "),
            F.col("w_start").cast("string"),
            F.lit(" "),
            F.col("n").cast("string"),
            F.lit(" event_type="),
            F.col("event_type"),
        ).alias("line")
    )


@q(
    "sink_routing",
    f"""
    SELECT {MD5_52_SQL.format(x="event_type || '|' || CAST(user_id AS VARCHAR)")} % 4 AS sink,
           COUNT(*) AS n
    FROM events GROUP BY sink
    """,
)
def q_sink_routing(spark, sf_dir):
    """deterministic md5 sink hash (round-robin analog,
    datapool.go:369-378)."""
    e = _t(spark, sf_dir, "events")
    key = F.concat(F.col("event_type"), F.lit("|"), F.col("user_id").cast("string"))
    return e.groupBy((_md5_52(key) % 4).alias("sink")).agg(F.count(F.lit(1)).alias("n"))


_DIM_SQL = """
    (SELECT * FROM (VALUES ('click', 'ui'), ('view', 'ui'), ('purchase', 'commerce'),
                           ('error', 'ops'), ('signup', 'growth')) d(event_type, category))
"""


@q(
    "enrich_broadcast_join",
    f"""
    SELECT d.category, COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events e LEFT JOIN {_DIM_SQL} d USING (event_type)
    GROUP BY d.category ORDER BY d.category NULLS FIRST
    """,
)
def q_enrich_broadcast_join(spark, sf_dir):
    """broadcast lookup enrichment (north_star; ≈ literal tags
    config.go:436-445)."""
    e = _t(spark, sf_dir, "events")
    dim = spark.createDataFrame(
        [
            ("click", "ui"), ("view", "ui"), ("purchase", "commerce"),
            ("error", "ops"), ("signup", "growth"),
        ],
        "event_type string, category string",
    )
    return (
        e.join(F.broadcast(dim), "event_type", "left")
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
        )
        .orderBy(F.col("category").asc_nulls_first())
    )


@q(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark, sf_dir):
    """general agg coverage (TPC-H Q1 shape) over lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("sum_qty_cents"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("sum_price_cents"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@q(
    "topk_orders",
    """
    SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
    FROM orders
    ORDER BY price_cents DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def q_topk_orders(spark, sf_dir):
    """sort + limit (top-k) with deterministic tiebreak."""
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        o.select("o_orderkey", cents.alias("price_cents"))
        .orderBy(F.col("price_cents").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@q(
    "star_join_counts",
    """
    SELECT n.n_name, COUNT(*) AS n_customers,
           CAST(SUM(CAST(ROUND(c.c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name ORDER BY n.n_name
    """,
)
def q_star_join_counts(spark, sf_dir):
    """multi-way broadcast star join (dimension enrichment at scale)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).alias("bal_cents"),
        )
        .orderBy("n_name")
    )


# =====================================================================
# training-data pipeline extras (documents / embeddings)
# =====================================================================

_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_WSN_SQL = "trim(regexp_replace(text, '\\s+', ' ', 'g'))"
_TOKC_SQL = (
    f"CASE WHEN length({_WSN_SQL}) = 0 THEN 0 "
    f"ELSE len(string_split({_WSN_SQL}, ' ')) END"
)


def _occ_sql(x: str, pat: str) -> str:
    return f"(length({x}) - length(regexp_replace({x}, '{pat}', '', 'g')))"


_TOKS_SQL = "string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"


def _word_hits_sql(words: list[str]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({_TOKS_SQL}, t -> t IN ({inlist})))"


@q(
    "text_token_count",
    f"""
    SELECT lang, CAST(SUM({_TOKC_SQL}) AS BIGINT) AS total_tokens, COUNT(*) AS n_docs
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def q_text_token_count(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.sum(T.token_count(F.col("text"))).alias("total_tokens"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy("lang")
    )


@q(
    "text_bpe_token_count",
    f"""
    SELECT lang,
           CAST(SUM(CASE WHEN length(text) = 0 THEN 0
                ELSE len(regexp_extract_all(text, '{T.BPE_TOKEN_RE.replace(chr(39), chr(39) * 2)}')) END) AS BIGINT)
             AS total_bpe_tokens,
           COUNT(*) AS n_docs
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def q_text_bpe_token_count(spark, sf_dir):
    """BPE-ish pre-tokenizer piece count per language (training-data
    token budgeting; whitespace count is text_token_count)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.sum(T.bpe_token_count(F.col("text"))).alias("total_bpe_tokens"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy("lang")
    )


_PUNCT_OCC = _occ_sql("text", "[\\.,;:!\\?]")
_DIGIT_OCC = _occ_sql("text", "[0-9]")

@q(
    "text_quality",
    f"""
    SELECT doc_id,
           length(text) AS n_chars_q,
           {_TOKC_SQL} AS n_tokens,
           ROUND(CASE WHEN {_TOKC_SQL} > 0
                 THEN length(text) * 1.0 / ({_TOKC_SQL}) ELSE 0.0 END, 6) AS avg_token_len,
           ROUND(CASE WHEN length(text) > 0
                 THEN {_PUNCT_OCC} * 1.0 / length(text)
                 ELSE 0.0 END, 6) AS punct_ratio,
           ROUND(CASE WHEN length(text) > 0
                 THEN {_DIGIT_OCC} * 1.0 / length(text)
                 ELSE 0.0 END, 6) AS digit_ratio
    FROM documents
    """,
)
def q_text_quality(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    out = T.with_quality_features(d)
    return out.select(
        "doc_id", "n_chars_q", "n_tokens", "avg_token_len", "punct_ratio", "digit_ratio"
    )


def _langid_sql() -> str:
    langs = sorted(T.LANG_MARKERS)
    sel = ", ".join(f"({_word_hits_sql(T.LANG_MARKERS[l])}) AS s_{l}" for l in langs)
    case = "CASE "
    for i, lang in enumerate(langs):
        conds = [f"s_{lang} > 0"]
        for j, other in enumerate(langs):
            if j < i:
                conds.append(f"s_{lang} > s_{other}")
            elif j > i:
                conds.append(f"s_{lang} >= s_{other}")
        case += f"WHEN {' AND '.join(conds)} THEN '{lang}' "
    case += "ELSE 'und' END"
    return f"""
    SELECT lang_pred, lang AS lang_true, COUNT(*) AS n
    FROM (SELECT lang, {case} AS lang_pred FROM (SELECT lang, text, {sel} FROM documents) s0) s1
    GROUP BY lang_pred, lang_true
    """


@q("text_lang_id", _langid_sql())
def q_text_lang_id(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    out = T.with_lang_id(d)
    return out.groupBy(
        "lang_pred", F.col("lang").alias("lang_true")
    ).agg(F.count(F.lit(1)).alias("n"))


@q(
    "text_fingerprint",
    f"""
    SELECT doc_id, md5({_NORM_SQL}) AS fingerprint FROM documents
    """,
)
def q_text_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return T.with_fingerprint(d).select("doc_id", "fingerprint")


@q(
    "text_rolling_fingerprint",
    f"""
    SELECT doc_id,
           CASE WHEN length({_NORM_SQL}) = 0 THEN 0
                ELSE list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    [CAST(ascii(c) AS BIGINT) FOR c IN string_split_regex({_NORM_SQL}, '')]),
                  (acc, c) -> (acc * {T.ROLL_B} + c) % {T.ROLL_M})
           END AS roll_h
    FROM documents
    """,
)
def q_text_rolling_fingerprint(spark, sf_dir):
    """Rabin-Karp rolling-hash fingerprint per document (the
    content-defined-chunking primitive in whole-doc form; md5
    fingerprint is text_fingerprint)."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", T.rolling_fingerprint(F.col("text")).alias("roll_h"))


def _pii_sql() -> str:
    """DuckDB mirror of q_text_pii_mask: same deterministic PII footer
    (doc_id % 3 == 0 docs), same pattern constants, same mask order."""
    aug = (
        "CASE WHEN doc_id % 3 = 0 THEN text || ' contact user' || CAST(doc_id AS VARCHAR)"
        " || '@example.com tel 555-867-5309 host 10.0.' || CAST(doc_id % 256 AS VARCHAR)"
        " || '.7' ELSE text END"
    )
    counts = ", ".join(
        f"CASE WHEN length(text) = 0 THEN 0"
        f" ELSE len(regexp_extract_all(text, '{pat}')) END AS {col}"
        for col, pat, _ in T._PII_PASSES
    )
    masked = "text"
    for _, pat, tok in T._PII_PASSES:
        masked = f"regexp_replace({masked}, '{pat}', '{tok}', 'g')"
    return f"""
    WITH aug AS (SELECT doc_id, {aug} AS text FROM documents)
    SELECT doc_id, {masked} AS masked_text, {counts} FROM aug
    """


@q("text_pii_mask", _pii_sql())
def q_text_pii_mask(spark, sf_dir):
    """PII scrubbing over the corpus: mask emails/phones/IPv4 with
    typed placeholders + per-doc detection counts. The synthetic corpus
    carries no PII, so every third document gets a deterministic
    PII footer (same expression in Spark and DuckDB) — the masking
    logic is exercised on real positives, not vacuous zeros. Graft op
    (training-data pipeline requirement); pure Catalyst regexp."""
    d = _t(spark, sf_dir, "documents")
    footer = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com tel 555-867-5309 host 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"),
    )
    aug = d.withColumn(
        "text",
        F.when(F.col("doc_id") % 3 == 0, footer).otherwise(F.col("text")),
    )
    return T.with_pii_masked(aug).select(
        "doc_id", "masked_text", "n_emails", "n_phones", "n_ips"
    )


@q(
    "text_repetition",
    f"""
    WITH base AS (
      SELECT doc_id, {_TOKS_SQL} AS t, {_TOKC_SQL} AS n_tokens FROM documents
    ),
    feats AS (
      SELECT doc_id, t, n_tokens,
             ROUND(CASE WHEN n_tokens > 0
                   THEN 1.0 - len(list_distinct(t)) * 1.0 / n_tokens
                   ELSE 0.0 END, 6) AS dup_word_frac
      FROM base
    ),
    bgidx AS (
      SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
      FROM feats WHERE len(t) >= 2
    ),
    bgr AS (SELECT doc_id, t[i] || ' ' || t[i + 1] AS bigram FROM bgidx),
    bgc AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bgr GROUP BY doc_id, bigram),
    bgm AS (SELECT doc_id, MAX(c) AS max_bg, SUM(c) AS n_bg FROM bgc GROUP BY doc_id)
    SELECT f.doc_id, f.n_tokens, f.dup_word_frac,
           ROUND(COALESCE(max_bg * 1.0 / n_bg, 0.0), 6) AS top_bigram_frac
    FROM feats f LEFT JOIN bgm USING (doc_id)
    """,
)
def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals (duplicate-word fraction
    + top-bigram fraction) per document — the boilerplate/spam filter
    axis the length/punct ratios (text_quality) can't see. Bigram mode
    via explode + two-level groupBy (linear in tokens, map-side
    combine), never a per-row quadratic array scan."""
    d = _t(spark, sf_dir, "documents")
    return T.with_repetition_features(d).select(
        "doc_id", "n_tokens", "dup_word_frac", "top_bigram_frac"
    )


@q(
    "dedup_exact",
    f"""
    SELECT md5({_NORM_SQL}) AS fingerprint,
           MIN(doc_id) AS keeper_id, COUNT(*) AS n_docs
    FROM documents GROUP BY fingerprint
    """,
)
def q_dedup_exact(spark, sf_dir):
    return D.exact_dedup(_t(spark, sf_dir, "documents"))


@q(
    "dedup_keep_tokens",
    f"""
    SELECT lang,
           COUNT(*) AS kept_docs,
           CAST(SUM({_TOKC_SQL}) AS BIGINT) AS kept_tokens
    FROM documents
    WHERE doc_id IN (
      SELECT MIN(doc_id) FROM documents GROUP BY md5({_NORM_SQL})
    )
    GROUP BY lang ORDER BY lang
    """,
)
def q_dedup_keep_tokens(spark, sf_dir):
    """Dedup APPLIED: keep one doc per exact-duplicate group (min-id
    keeper, left-semi join — no row explosion), then the post-dedup
    token budget per language — the step a training pipeline actually
    runs with the dedup output."""
    d = _t(spark, sf_dir, "documents")
    kept = D.dedup_keep(d)
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("kept_docs"),
            F.sum(T.token_count(F.col("text"))).alias("kept_tokens"),
        )
        .orderBy("lang")
    )


_SHINGLE_SQL = f"""
  SELECT DISTINCT doc_id AS id,
         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
  FROM (
    SELECT doc_id, string_split_regex(trim({_NORM_SQL}), '\\s+') AS toks
    FROM documents
  ) s, unnest(generate_series(1, greatest(len(toks) - {D.NGRAM_N - 1}, 0))) t(i)
"""

_JACCARD_SQL = f"""
  WITH sh AS ({_SHINGLE_SQL}),
  sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
  inter AS (
    SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
    GROUP BY a.id, b.id
  )
  SELECT id_a, id_b,
         ROUND(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard6
  FROM inter
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE ROUND(inter * 1.0 / (sa.sz + sb.sz - inter), 6) >= {{thr}}
"""


@q("dedup_ngram_jaccard", _JACCARD_SQL.format(thr=0.4))
def q_dedup_ngram_jaccard(spark, sf_dir):
    return D.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), 0.4)


def _minhash_sql() -> str:
    mh = ", ".join(
        f"MIN(({a} * h + {b}) % {D.MH_PRIME}) AS mh{i}"
        for i, (a, b) in enumerate(D.mh_affine_params(D.MINHASH_K))
    )
    bands = []
    for b in range(D.LSH_BANDS):
        cols = " || ',' || ".join(
            f"CAST(mh{b * D.LSH_ROWS + r} AS VARCHAR)" for r in range(D.LSH_ROWS)
        )
        bands.append(f"SELECT id, {b} AS band, md5({cols}) AS bucket FROM sig")
    bands_sql = " UNION ALL ".join(bands)
    return f"""
    WITH sh AS ({_SHINGLE_SQL}),
    shh AS (SELECT id, {MD5_52_SQL.format(x='shingle')} AS h FROM sh),
    sig AS (SELECT id, {mh} FROM shh GROUP BY id),
    bands AS ({bands_sql}),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    ),
    sizes AS (SELECT id, COUNT(*) AS sz FROM shh GROUP BY id),
    -- intersection via the HASHED shingle table (replays the engine's
    -- long-typed verify join bit-for-bit, including any 52-bit
    -- collision overcount)
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
      FROM shh a JOIN shh b ON a.h = b.h AND a.id < b.id
      GROUP BY a.id, b.id
    )
    SELECT c.id_a, c.id_b,
           ROUND(i.inter * 1.0 / (sa.sz + sb.sz - i.inter), 6) AS jaccard6
    FROM cand c
    JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
    JOIN sizes sa ON sa.id = c.id_a
    JOIN sizes sb ON sb.id = c.id_b
    WHERE ROUND(i.inter * 1.0 / (sa.sz + sb.sz - i.inter), 6) >= 0.4
    """


@q("dedup_minhash_lsh", _minhash_sql())
def q_dedup_minhash_lsh(spark, sf_dir):
    return D.minhash_lsh_pairs(_t(spark, sf_dir, "documents"), 0.4)


def _minhash_incremental_sql() -> str:
    mh = ", ".join(
        f"MIN(({a} * h + {b}) % {D.MH_PRIME}) AS mh{i}"
        for i, (a, b) in enumerate(D.mh_affine_params(D.MINHASH_K))
    )
    bands = []
    for b in range(D.LSH_BANDS):
        cols = " || ',' || ".join(
            f"CAST(mh{b * D.LSH_ROWS + r} AS VARCHAR)" for r in range(D.LSH_ROWS)
        )
        bands.append(f"SELECT id, {b} AS band, md5({cols}) AS bucket FROM sig")
    bands_sql = " UNION ALL ".join(bands)
    # batch = doc_id % 5 == 0, corpus = the rest. Signature
    # independence makes filter-then-index == index-then-filter, so
    # one shared sig CTE filtered per side replays the engine's
    # two-table build exactly.
    return f"""
    WITH sh AS ({_SHINGLE_SQL}),
    shh AS (SELECT id, {MD5_52_SQL.format(x='shingle')} AS h FROM sh),
    sig AS (SELECT id, {mh} FROM shh GROUP BY id),
    bands AS ({bands_sql}),
    cand AS (
      SELECT DISTINCT a.id AS id_new, b.id AS id_corpus
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket
      WHERE a.id % 5 = 0 AND b.id % 5 <> 0
    ),
    sizes AS (SELECT id, COUNT(*) AS sz FROM shh GROUP BY id),
    inter AS (
      SELECT a.id AS id_new, b.id AS id_corpus, COUNT(*) AS inter
      FROM shh a JOIN shh b ON a.h = b.h
      WHERE a.id % 5 = 0 AND b.id % 5 <> 0
      GROUP BY a.id, b.id
    )
    SELECT c.id_new, c.id_corpus,
           ROUND(i.inter * 1.0 / (sn.sz + sc.sz - i.inter), 6) AS jaccard6
    FROM cand c
    JOIN inter i ON i.id_new = c.id_new AND i.id_corpus = c.id_corpus
    JOIN sizes sn ON sn.id = c.id_new
    JOIN sizes sc ON sc.id = c.id_corpus
    WHERE ROUND(i.inter * 1.0 / (sn.sz + sc.sz - i.inter), 6) >= 0.4
    """


@q("dedup_incremental", _minhash_incremental_sql())
def q_dedup_incremental(spark, sf_dir):
    """Recurring-ingest dedup: match a new crawl batch (doc_id % 5
    == 0) against the LSH index of the already-kept corpus (the other
    docs) WITHOUT re-pairing the corpus — candidate volume is
    O(batch), the shape a weekly-snapshot training pipeline needs.
    Graft op (no reference counterpart); engine:
    dedup.minhash_lsh_incremental_pairs."""
    d = _t(spark, sf_dir, "documents")
    idx = D.minhash_index(d.filter(F.col("doc_id") % 5 != 0))
    return D.minhash_lsh_incremental_pairs(d.filter(F.col("doc_id") % 5 == 0), idx, 0.4)


def _simhash_sql() -> str:
    # 60-bit token hash (15 hex chars; see dedup.SIMHASH_BITS)
    h = "CAST(('0x' || substr(md5(tok),1,15)) AS BIGINT)"
    bits = ", ".join(
        f"SUM(CASE WHEN (({h}) // {1 << j}) % 2 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(D.SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(D.SIMHASH_BITS)
    )
    return f"""
    WITH toks AS (
      SELECT DISTINCT doc_id AS id, t.tok
      FROM (SELECT doc_id, string_split_regex(trim({_NORM_SQL}), '\\s+') AS tk FROM documents) s,
           unnest(tk) t(tok)
    ),
    perbit AS (SELECT id, {bits} FROM toks GROUP BY id),
    sig AS (SELECT id, {sig} AS simhash FROM perbit)
    SELECT a.id AS id_a, b.id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sig a JOIN sig b ON a.id < b.id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """


@q("dedup_simhash", _simhash_sql())
def q_dedup_simhash(spark, sf_dir):
    return D.simhash_pairs(_t(spark, sf_dir, "documents"), 3)


@q(
    "embed_neardup",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
                 / NULLIF(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))), 0), 6) AS cos6
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
                 / NULLIF(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))), 0), 6) >= 0.30
    """,
)
def q_embed_neardup(spark, sf_dir):
    """Exact all-pairs baseline (quadratic BY DESIGN — the recall
    oracle for embed_neardup_lsh, same status as dedup_ngram_jaccard;
    validation scale only)."""
    return D.embedding_neardup_pairs(_t(spark, sf_dir, "embeddings"), 0.30)


def _emb_lsh_sql(threshold: float = 0.30, dim: int = 64) -> str:
    """DuckDB mirror of embedding_neardup_lsh: identical md5-derived
    hyperplane constants -> identical buckets -> identical output."""
    planes = D.hyperplanes(dim, D.EMB_LSH_PLANES)
    width = D.EMB_LSH_PLANES // D.EMB_LSH_BANDS
    sig_terms = []
    for p, plane in enumerate(planes):
        lits = ", ".join(repr(v) for v in plane)
        sig_terms.append(
            f"(CASE WHEN ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), "
            f"[{lits}]::DOUBLE[]), 6) > 0 THEN CAST({1 << p} AS BIGINT) ELSE 0 END)"
        )
    sig = " + ".join(sig_terms)
    bands = " UNION ALL ".join(
        f"SELECT vec_id, embedding, {b} AS band, "
        f"(sig // {1 << (b * width)}) % {1 << width} AS bval FROM sig"
        for b in range(D.EMB_LSH_BANDS)
    )
    cos = (
        "ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
        " / NULLIF(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))"
        " * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))), 0), 6)"
    )
    return f"""
    WITH sig AS (SELECT vec_id, embedding, {sig} AS sig FROM embeddings),
    bands AS ({bands})
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cos6
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bval = b.bval AND a.vec_id < b.vec_id
    WHERE {cos} >= {threshold}
    """


@q("embed_neardup_lsh", _emb_lsh_sql())
def q_embed_neardup_lsh(spark, sf_dir):
    """Scale path: deterministic hyperplane-LSH banding + exact cosine
    within buckets (hash equi-join; recall < 1 vs embed_neardup by
    construction, precision 1.0 — the DuckDB oracle replays the SAME
    bucketing, so the comparison is exact)."""
    return D.embedding_neardup_lsh(_t(spark, sf_dir, "embeddings"), 0.30, dim=64)


def _emb_incremental_sql(threshold: float = 0.30, dim: int = 64) -> str:
    """DuckDB mirror of embedding_incremental_pairs: batch = vec_id %
    5 == 0, corpus = the rest. Signature independence makes a single
    shared sig CTE filtered per side replay the engine's two-table
    build exactly (same argument as _minhash_incremental_sql)."""
    planes = D.hyperplanes(dim, D.EMB_LSH_PLANES)
    width = D.EMB_LSH_PLANES // D.EMB_LSH_BANDS
    sig_terms = []
    for p, plane in enumerate(planes):
        lits = ", ".join(repr(v) for v in plane)
        sig_terms.append(
            f"(CASE WHEN ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), "
            f"[{lits}]::DOUBLE[]), 6) > 0 THEN CAST({1 << p} AS BIGINT) ELSE 0 END)"
        )
    sig = " + ".join(sig_terms)
    bands = " UNION ALL ".join(
        f"SELECT vec_id, embedding, {b} AS band, "
        f"(sig // {1 << (b * width)}) % {1 << width} AS bval FROM sig"
        for b in range(D.EMB_LSH_BANDS)
    )
    cos = (
        "ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
        " / NULLIF(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))"
        " * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))), 0), 6)"
    )
    return f"""
    WITH sig AS (SELECT vec_id, embedding, {sig} AS sig FROM embeddings),
    bands AS ({bands})
    SELECT DISTINCT a.vec_id AS id_new, b.vec_id AS id_corpus, {cos} AS cos6
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bval = b.bval
    WHERE a.vec_id % 5 = 0 AND b.vec_id % 5 <> 0
      AND {cos} >= {threshold}
    """


@q("embed_incremental", _emb_incremental_sql())
def q_embed_incremental(spark, sf_dir):
    """Recurring-ingest embedding dedup: match a new embedding batch
    (vec_id % 5 == 0) against the hyperplane-LSH index of the
    already-kept corpus (the rest) WITHOUT re-signing or re-pairing
    the corpus — the embedding twin of dedup_incremental. Graft op
    (no reference counterpart); engine:
    dedup.embedding_incremental_pairs over dedup.embedding_index."""
    e = _t(spark, sf_dir, "embeddings")
    idx = D.embedding_index(e.filter(F.col("vec_id") % 5 != 0), dim=64)
    return D.embedding_incremental_pairs(
        e.filter(F.col("vec_id") % 5 == 0), idx, 0.30, dim=64
    )


@q(
    "ann_cosine_topk",
    """
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_embedding
               FROM embeddings WHERE vec_id % 50 = 0),
    scored AS (
      SELECT q.q_id, e.vec_id,
             ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.q_embedding AS DOUBLE[]))
                   / NULLIF(sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(q.q_embedding AS DOUBLE[]), CAST(q.q_embedding AS DOUBLE[]))), 0), 6) AS cos6
      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id
    )
    SELECT q_id, rank, vec_id, cos6 FROM (
      SELECT q_id, vec_id, cos6,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos6 DESC, vec_id ASC) AS rank
      FROM scored
    ) r WHERE rank <= 5
    """,
)
def q_ann_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return S.cosine_topk(emb, S.make_queries(emb, 50), 5)


def _cos_sql(a: str, b: str) -> str:
    return (
        f"ROUND(list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
        f" / NULLIF(sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
        f" * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))), 0), 6)"
    )


_IVF_SQL = f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_embedding
               FROM embeddings WHERE vec_id % 50 = 0),
    c AS (SELECT vec_id AS c_id, embedding AS c_embedding
          FROM embeddings WHERE vec_id % 25 = 0),
    assigned AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT e.vec_id, e.embedding, c.c_id AS cell,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_cos_sql("e.embedding", "c.c_embedding")} DESC, c.c_id ASC) AS r
        FROM embeddings e CROSS JOIN c) s WHERE r = 1),
    probes AS (
      SELECT q_id, q_embedding, cell FROM (
        SELECT q.q_id, q.q_embedding, c.c_id AS cell,
               ROW_NUMBER() OVER (PARTITION BY q.q_id
                 ORDER BY {_cos_sql("q.q_embedding", "c.c_embedding")} DESC, c.c_id ASC) AS r
        FROM q CROSS JOIN c) s WHERE r <= 3),
    scored AS (
      SELECT p.q_id, a.vec_id, {_cos_sql("a.embedding", "p.q_embedding")} AS cos6
      FROM assigned a JOIN probes p USING (cell) WHERE a.vec_id <> p.q_id)
    SELECT q_id, rank, vec_id, cos6 FROM (
      SELECT q_id, vec_id, cos6,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos6 DESC, vec_id ASC) AS rank
      FROM scored) r WHERE rank <= 5
    """


@q("ann_ivf_topk", _IVF_SQL)
def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN probe. Fully oracled: the coarse quantizer is
    deterministic (every-Nth centroids, cosine rounded to 6dp, ties to
    the lowest centroid id), so DuckDB replays the identical
    assignment -> nprobe probing -> per-query top-k; recall vs the
    exact baseline is additionally pinned by
    tests/test_functions.py::test_ann_ivf_recall."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.ivf_topk(emb, S.make_queries(emb, 50), S.make_centroids(emb, 25), 5, 3)


# =====================================================================
# the engine's marquee aggregations over events (rows-only: EWMA scans
# and exp-decay reservoirs are not ANSI-SQL-expressible — the driver
# records row checks; the full semantics are pinned by the golden
# engine-vs-oracle suite)
# =====================================================================


def _events_as_datapoints(spark, sf_dir, metric_type: str):
    """Adapt events to the datapoint schema: key = event_type, value =
    cents; record_id = md5_52(event_id) for reservoir determinism."""
    e = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    return e.select(
        F.concat(F.lit(f"events.value|{metric_type}|type="), F.col("event_type")).alias("key_id"),
        F.lit("events").alias("group"),
        F.lit(metric_type).alias("metric_type"),
        F.lit("events").alias("key_prefix"),
        F.lit("value").alias("key_suffix"),
        F.concat(F.lit("type="), F.col("event_type")).alias("tags"),
        F.lit("").alias("ref_tag"),
        F.lit(False).alias("never_stale"),
        F.unix_timestamp(F.col("ts").cast("timestamp")).cast("long").alias("ts_sec"),
        cents.alias("value"),
        _md5_52(F.col("event_id").cast("string")).alias("record_id"),
    )


def _events_lg():
    from .config import load_config_str

    return load_config_str(
        """
[log_groups.events]
re = ['(x)']
expected_matches = 1
key_prefix = "events"
interval = 86400
ewma_interval = 3600
histogram_size = 256
histogram_alpha_decay = 0.15
[[log_groups.events.metrics.meter]]
key_suffix = "value"
reference = [[0, ""]]
"""
    ).log_groups[0]


def _events_emissions(dp):
    """Phase A over the events datapoints, then the mixed-group crunch
    (the events group neither sends duplicates nor removes stale keys,
    so no last-window bound is needed)."""
    from .operators.aggregate import crunch_emissions_multi, partial_stage

    lg = _events_lg()
    return crunch_emissions_multi(partial_stage(dp, lg), {lg.name: lg}, {lg.name: -1})


def _meter_ewma_sql(tick: int = 3600, interval: int = 86400) -> str:
    """DuckDB oracle for the Meter emission stream.

    The engine's EWMA recurrence over per-tick sums has a closed form:
    with data ticks t_1<..<t_k (instant I_i = tick_sum/tick) and
    boundary tick T_B = (w+1)*interval/tick,

        rate(B) = (1-a)^(T_B-1-t_k) * [ I_1*(1-a)^(t_k-t_1)
                   + a * sum_{i>=2} I_i*(1-a)^(t_k-t_i) ]

    (first completed tick initializes the rate to its instant — no
    ``a`` factor; every empty tick multiplies by (1-a)). The join is
    ticks x emission-windows per key — quadratic in the window count,
    fine for an oracle."""
    tpw = interval // tick  # ticks per window
    import math as _math

    alphas = {m: 1.0 - _math.exp(-tick / 60.0 / m) for m in (1, 5, 15)}

    def rate_expr(m: int) -> str:
        a = repr(alphas[m])
        return (
            f"SUM(CASE WHEN k.t = f.t1 THEN k.instant * POW(1.0 - {a}, wt.tk - k.t) "
            f"ELSE {a} * k.instant * POW(1.0 - {a}, wt.tk - k.t) END) "
            f"* POW(1.0 - {a}, (c.w + 1) * {tpw} - 1 - wt.tk)"
        )

    return f"""
    WITH dp AS (
      SELECT 'events.value|meter|type=' || event_type AS key_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_sec,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    dp2 AS (SELECT key_id, ts_sec, cents,
                   ts_sec // {tick} AS t, ts_sec // {interval} AS w FROM dp),
    ticks AS (SELECT key_id, t, SUM(cents) / {float(tick)} AS instant
              FROM dp2 GROUP BY key_id, t),
    firstt AS (SELECT key_id, MIN(t) AS t1 FROM ticks GROUP BY key_id),
    wins AS (SELECT key_id, w, MAX(ts_sec) AS last_update, SUM(cents) AS wsum
             FROM dp2 GROUP BY key_id, w),
    cwins AS (SELECT key_id, w, last_update,
                     CAST(SUM(wsum) OVER (PARTITION BY key_id ORDER BY w) AS BIGINT) AS cnt
              FROM wins),
    wt AS (SELECT c.key_id, c.w, MAX(k.t) AS tk
           FROM cwins c JOIN ticks k ON k.key_id = c.key_id AND k.t // {tpw} <= c.w
           GROUP BY c.key_id, c.w),
    rates AS (
      SELECT c.key_id, c.w, c.last_update, c.cnt,
             {rate_expr(1)} AS r1, {rate_expr(5)} AS r5, {rate_expr(15)} AS r15
      FROM cwins c
      JOIN wt ON wt.key_id = c.key_id AND wt.w = c.w
      JOIN ticks k ON k.key_id = c.key_id AND k.t // {tpw} <= c.w
      JOIN firstt f ON f.key_id = c.key_id
      GROUP BY c.key_id, c.w, c.last_update, c.cnt, wt.tk
    )
    SELECT key_id, (w + 1) * {interval} AS boundary, ending, ts, v FROM (
      SELECT key_id, w, 'count' AS ending, last_update AS ts,
             ROUND(CAST(cnt AS DOUBLE), 6) AS v FROM rates
      UNION ALL SELECT key_id, w, 'rate._1min', last_update, ROUND(r1, 6) FROM rates
      UNION ALL SELECT key_id, w, 'rate._5min', last_update, ROUND(r5, 6) FROM rates
      UNION ALL SELECT key_id, w, 'rate._15min', last_update, ROUND(r15, 6) FROM rates
    ) u
    """


@q("meter_ewma", _meter_ewma_sql())
def q_meter_ewma(spark, sf_dir):
    """Event-time Meter: cumulative count + 1/5/15-min EWMA rates per
    key at daily push boundaries (go-timemetrics Meter semantics,
    datapool.go:263). Oracled: the EWMA recurrence has a closed form
    over data ticks (see _meter_ewma_sql)."""
    em = _events_emissions(_events_as_datapoints(spark, sf_dir, "meter"))
    return em.select("key_id", "boundary", "ending", "ts", F.round("value_num", 6).alias("v"))


def _hist_reservoir_sql(size: int = 256, alpha: float = 0.15, interval: int = 86400) -> str:
    """DuckDB oracle for the exp-decay reservoir Histogram emissions.

    The reservoir at window W is EXACTLY the top-``size`` datapoints
    (over all windows <= W) by log-priority alpha*ts - ln(u) with the
    deterministic md5 uniform — order-free, so plain SQL: cumulative
    window join -> ROW_NUMBER top-k -> go-metrics sample stats over
    the kept values (percentile interpolation at rank p*(n+1))."""
    # reservoir-seed contract (contracts.py r03): h52 = affine
    # multiply-xorshift mix of (md5_52(key_id), rid) — replayed here
    # bit-for-bit in BIGINT arithmetic (every intermediate < 2^63)
    from .contracts import HASH_PRIME, MASK52, SEED_A, SEED_A2, SEED_B, XS, XS2

    keyh = MD5_52_SQL.format(x="key_id")
    z = f"xor(({keyh}), rid & {MASK52})"
    w = f"(({SEED_A} * xor(({z}), (({z}) >> {XS}))) % {HASH_PRIME})"
    h52 = f"(({SEED_A2} * xor(({w}), (({w}) >> {XS2})) + {SEED_B}) % {HASH_PRIME})"
    pri = f"(({h52}) + 1) / 4503599627370497.0"

    def pct(p: float) -> str:
        fl = "CAST(FLOOR({p} * (n + 1)) AS BIGINT)".format(p=p)
        pos = f"({p} * (n + 1))"
        return (
            f"CASE WHEN {pos} < 1 THEN CAST(vals[1] AS DOUBLE) "
            f"WHEN {pos} >= n THEN CAST(vals[n] AS DOUBLE) "
            f"ELSE vals[{fl}] + ({pos} - FLOOR({pos})) * (vals[{fl} + 1] - vals[{fl}]) END"
        )

    return f"""
    WITH dp AS (
      SELECT 'events.value|histogram|type=' || event_type AS key_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_sec,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             {MD5_52_SQL.format(x="CAST(event_id AS VARCHAR)")} AS rid
      FROM events
    ),
    dp2 AS (SELECT *, ts_sec // {interval} AS w,
                   {alpha} * ts_sec - ln({pri}) AS pri
            FROM dp),
    wins AS (SELECT key_id, w, MAX(ts_sec) AS last_update FROM dp2 GROUP BY key_id, w),
    cum AS (SELECT ws.key_id, ws.w, ws.last_update, d.pri, d.rid, d.cents
            FROM wins ws JOIN dp2 d ON d.key_id = ws.key_id AND d.w <= ws.w),
    res AS (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY key_id, w ORDER BY pri DESC, rid DESC, cents DESC) AS rk
            FROM cum),
    snap AS (
      SELECT key_id, w, ANY_VALUE(last_update) AS last_update,
             list_sort(list(cents)) AS vals, COUNT(*) AS n,
             MIN(cents) AS mn, MAX(cents) AS mx,
             SUM(CAST(cents AS DOUBLE)) / COUNT(*) AS mean_v,
             COALESCE(var_samp(CAST(cents AS DOUBLE)), 0.0) AS var_v
      FROM res WHERE rk <= {size}
      GROUP BY key_id, w
    )
    SELECT key_id, (w + 1) * {interval} AS boundary, ending, ts, ROUND(v, 6) AS v FROM (
      SELECT key_id, w, 'min' AS ending, last_update AS ts, CAST(mn AS DOUBLE) AS v FROM snap
      UNION ALL SELECT key_id, w, 'max', last_update, CAST(mx AS DOUBLE) FROM snap
      UNION ALL SELECT key_id, w, 'mean', last_update, mean_v FROM snap
      UNION ALL SELECT key_id, w, 'std_dev', last_update, sqrt(var_v) FROM snap
      UNION ALL SELECT key_id, w, 'p50', last_update, {pct(0.50)} FROM snap
      UNION ALL SELECT key_id, w, 'p75', last_update, {pct(0.75)} FROM snap
      UNION ALL SELECT key_id, w, 'p95', last_update, {pct(0.95)} FROM snap
      UNION ALL SELECT key_id, w, 'p99', last_update, {pct(0.99)} FROM snap
      UNION ALL SELECT key_id, w, 'p999', last_update, {pct(0.999)} FROM snap
      UNION ALL SELECT key_id, w, 'sample_size', last_update, CAST(n AS DOUBLE) FROM snap
    ) u2
    """



@q("hist_reservoir", _hist_reservoir_sql())
def q_hist_reservoir(spark, sf_dir):
    """Event-time exp-decay reservoir Histogram: min/max/mean/std_dev/
    p50..p999/sample_size per key at daily boundaries (forward-decay
    sampling, datapool.go:256-258). Oracled: the reservoir is the
    deterministic top-k by md5-derived log-priority (see
    _hist_reservoir_sql)."""
    em = _events_emissions(_events_as_datapoints(spark, sf_dir, "histogram"))
    return em.select("key_id", "boundary", "ending", "ts", F.round("value_num", 6).alias("v"))


@q(
    "json_props_extract",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) FILTER (WHERE CAST(json_extract(props, '$.k') AS BIGINT) > 50) AS n_big
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_json_props_extract(spark, sf_dir):
    """JSON scalar extraction over the events props column (§2.7
    coverage: the reference has no JSON surface; a web-scale pipeline
    needs one for structured log payloads)."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.groupBy("event_type")
        .agg(
            F.sum(k).alias("sum_k"),
            F.count(F.when(k > 50, 1)).alias("n_big"),
        )
        .orderBy("event_type")
    )


# =====================================================================
# multimodal — binary media columns (decode metadata; fake codec)
# =====================================================================

_MM_SQL = """
    WITH m AS (SELECT doc_id AS media_id FROM documents),
    bytes AS (
      SELECT media_id,
             CAST(('0x' || substr(md5(media_id || ':' || i), 2*j+1, 2)) AS BIGINT) AS b
      -- inclusive bounds: 9 digests x 16 bytes = exactly the 144
      -- (8*6*3) pixel bytes fake_payload emits
      FROM m, generate_series(0, 8) s(i), generate_series(0, 15) t(j)
    )
    SELECT media_id, 8 AS width, 6 AS height, 3 AS channels,
           AVG(b) AS mean_pixel, CAST(154 AS BIGINT) AS n_bytes
    FROM bytes GROUP BY media_id ORDER BY media_id
    """


@q("multimodal_decode", _MM_SQL)
def q_multimodal_decode(spark, sf_dir):
    """Binary media decode -> typed metadata (functions/multimodal.py):
    payloads are the deterministic LMIMG fake format (8x6x3, pixels
    from the md5 byte stream), so the DuckDB oracle reconstructs the
    exact pixel bytes by hex-slicing the same md5 stream and replays
    width/height/channels/mean_pixel/n_bytes value-exact. The Spark
    side exercises the REAL plumbing a codec-backed deployment uses:
    binary column -> Arrow batch -> per-payload decode -> typed rows."""
    from .functions import multimodal as M

    return M.decode_stage(_fake_media(spark, sf_dir)).orderBy("media_id")


def _fake_media(spark, sf_dir):
    """documents.doc_id -> (media_id, payload) with deterministic
    LMIMG fake payloads (shared by the three multimodal entries).
    Repartitioned to the session parallelism (r06): the documents
    scan is one input split at bench scale, so the whole payload-gen
    + decode kernel chain otherwise runs in a single task."""
    import pandas as _pd

    from .functions import multimodal as M

    ids = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("media_id"))
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [M.fake_payload(int(m)) for m in pdf["media_id"]],
                }
            )

    return ids.mapInPandas(gen, "media_id long, payload binary")


def _px_hex_sql(coords_sql: str, agg_alias: str) -> str:
    """Shared oracle core: reconstruct selected pixel BYTES of the
    8x6x3 fake payload by hex-slicing the md5 byte stream (pixel
    linear index idx=(y*8+x)*3+c lives at byte idx%16 of digest
    md5(media_id:idx//16)), concatenated in (y, x, c) order — the
    exact bytes the Spark kernel emits, compared as lowercase hex."""
    return f"""
    WITH m AS (SELECT doc_id AS media_id FROM documents),
    px AS (
      SELECT media_id, (y*8 + x)*3 + c AS idx
      FROM m, {coords_sql}, (SELECT unnest(generate_series(0, 2)) AS c) cs
    )
    SELECT media_id,
           string_agg(
             substr(md5(media_id || ':' || CAST(idx // 16 AS VARCHAR)),
                    2 * (idx % 16) + 1, 2),
             '' ORDER BY idx) AS {agg_alias}
    FROM px GROUP BY media_id
    """


_MM_RESIZE_SQL = f"""
    WITH hexed AS ({_px_hex_sql(
        "(SELECT unnest([0, 2, 4]) AS y) ys, (SELECT unnest([0, 2, 4, 6]) AS x) xs",
        "thumb_hex")})
    SELECT media_id, 4 AS thumb_w, 3 AS thumb_h, thumb_hex
    FROM hexed ORDER BY media_id
    """


@q("multimodal_resize", _MM_RESIZE_SQL)
def q_multimodal_resize(spark, sf_dir):
    """Nearest-neighbor thumbnailing over binary media
    (functions/multimodal.py resize_stage): 8x6 -> 4x3 keeps source
    rows {0,2,4} x cols {0,2,4,6}; the oracle reconstructs those
    exact thumb bytes from the md5 pixel stream and compares them as
    hex. Same real-plumbing contract as multimodal_decode."""
    from .functions import multimodal as M

    thumbs = M.resize_stage(_fake_media(spark, sf_dir), out_w=4, out_h=3)
    return thumbs.select(
        "media_id", "thumb_w", "thumb_h", F.lower(F.hex("thumb")).alias("thumb_hex")
    ).orderBy("media_id")


_MM_FRAMES_SQL = f"""
    WITH hexed AS ({_px_hex_sql(
        "(SELECT unnest([0, 2, 4]) AS y) ys, (SELECT unnest(generate_series(0, 7)) AS x) xs",
        "frames_hex")})
    SELECT media_id, 3 AS n_frames, frames_hex
    FROM hexed ORDER BY media_id
    """


@q("multimodal_frame_sample", _MM_FRAMES_SQL)
def q_multimodal_frame_sample(spark, sf_dir):
    """Frame sampling over binary media (functions/multimodal.py
    frame_sample_stage): every-2nd 'frame' (pixel row) of the 6-row
    fake video, bytes compared as hex against the md5 stream oracle."""
    from .functions import multimodal as M

    frames = M.frame_sample_stage(_fake_media(spark, sf_dir), every=2)
    return frames.select(
        "media_id", "n_frames", F.lower(F.hex("frames")).alias("frames_hex")
    ).orderBy("media_id")


# =====================================================================
# sessionization — gaps-and-islands over the event stream
# =====================================================================

_SESS_GAP_US = 1800 * 1_000_000  # 30-minute inactivity gap

_SESS_SQL = f"""
    WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
    flagged AS (
      SELECT user_id, event_id, tus,
             CASE WHEN LAG(tus) OVER w IS NULL
                       OR tus - LAG(tus) OVER w > {_SESS_GAP_US}
                  THEN 1 ELSE 0 END AS new_sess
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
    ),
    sess AS (
      SELECT user_id, tus,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tus, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           CAST(session_id AS BIGINT) AS session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(tus) AS start_us,
           MAX(tus) AS end_us,
           MAX(tus) - MIN(tus) AS duration_us
    FROM sess GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """


@q("sessionize", _SESS_SQL)
def q_sessionize(spark, sf_dir):
    """Per-user sessionization (30-min inactivity gap), the classic
    gaps-and-islands the reference's per-key staleness logic hints at
    but a telemetry engine needs as a first-class query. All time math
    in exact microsecond longs (no float boundary risk vs the oracle).

    Scale shape: one shuffle on user_id + a per-user sort window — the
    state per user is bounded by that user's events, so AQE skew-join/
    salting handles hot users; no global sort, no collect."""
    e = _t(spark, sf_dir, "events")
    # ts is TIMESTAMP_NTZ; session tz is pinned UTC by _t(), so the
    # cast is exact and matches DuckDB epoch_us on the naive timestamp
    tus = F.unix_micros(F.col("ts").cast("timestamp"))
    # two window passes over the SAME (user_id; tus, event_id) spec —
    # lag and the cumulative sum cannot nest in one projection, but
    # Catalyst plans them in a single sort+shuffle (one Window node
    # chain, no second exchange)
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    flagged = e.select("user_id", "event_id", tus.alias("tus")).withColumn(
        "gap", F.col("tus") - F.lag("tus").over(w)
    )
    new_sess = F.when(F.col("gap").isNull() | (F.col("gap") > _SESS_GAP_US), 1).otherwise(0)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = flagged.select(
        "user_id",
        "tus",
        F.sum(new_sess).over(cum).alias("session_id"),
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("tus").alias("start_us"),
            F.max("tus").alias("end_us"),
            (F.max("tus") - F.min("tus")).alias("duration_us"),
        )
        .orderBy("user_id", "session_id")
    )


def _components_sql() -> str:
    """Recursive-CTE oracle for near-dup connected components: min
    reachable id over the SAME minhash-LSH pair set (DuckDB replays
    the full LSH pipeline, then closes it transitively)."""
    return f"""
    WITH RECURSIVE pairs AS ({_minhash_sql()}),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (SELECT u AS id, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u)
    SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
    FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    """


@q("dedup_components", _components_sql())
def q_dedup_components(spark, sf_dir):
    """Near-dup dedup, applied: connected components over the
    MinHash-LSH pair graph (pointer-jumping min-label propagation,
    functions/dedup.py connected_components) — (doc_id, component)
    for EVERY document, singletons as their own component. The DuckDB
    oracle closes the same pair set transitively with a recursive CTE,
    so component assignments are value-exact."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, 0.4)
    comp = D.connected_components(pairs).withColumnRenamed("id", "doc_id")
    return docs.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("comp", F.col("doc_id")).alias("component")
    )


# =====================================================================
# corpus splitting / sampling / composed cleaning (training-data ops)
# =====================================================================


def _split_sql() -> str:
    """Thresholds accumulate with the SAME float arithmetic as
    sampling.with_split (0.9 + 0.05 is not the literal 0.95 in
    binary64 — repr() round-trips the exact value into the SQL)."""
    ratios = {"train": 0.9, "val": 0.05, "test": 0.05}
    u = f"({MD5_52_SQL.format(x='CAST(doc_id AS VARCHAR)')}) / 4503599627370496.0"
    names = list(ratios)
    case = "CASE "
    acc = 0.0
    for name in names[:-1]:
        acc += ratios[name]
        case += f"WHEN {u} < {acc!r} THEN '{name}' "
    case += f"ELSE '{names[-1]}' END"
    return f"SELECT doc_id, {case} AS split FROM documents"


@q("train_val_split", _split_sql())
def q_train_val_split(spark, sf_dir):
    """Deterministic hash split (functions/sampling.py with_split):
    assignment is a pure expression over md5_52(doc_id) — stable under
    corpus growth, repartitioning, and reruns."""
    from .functions import sampling as SP

    d = _t(spark, sf_dir, "documents")
    return SP.with_split(d).select("doc_id", "split")


@q(
    "stratified_sample",
    f"""
    SELECT doc_id, lang FROM documents
    WHERE ({MD5_52_SQL.format(x="lang || '|' || CAST(doc_id AS VARCHAR)")})
          / 4503599627370496.0 < 0.2
    """,
)
def q_stratified_sample(spark, sf_dir):
    """Deterministic ~20% per-language sample (stratum-salted hash
    filter; functions/sampling.py stratified_sample) — shuffle-free,
    reproducible, composes with the split hash without bias."""
    from .functions import sampling as SP

    d = _t(spark, sf_dir, "documents")
    return SP.stratified_sample(d, 0.2, "lang").select("doc_id", "lang")


def _corpus_clean_sql(min_tokens: int = 5, max_punct: float = 0.3) -> str:
    langs = sorted(T.LANG_MARKERS)
    sel = ", ".join(f"({_word_hits_sql(T.LANG_MARKERS[l])}) AS s_{l}" for l in langs)
    case = "CASE "
    for i, lang in enumerate(langs):
        conds = [f"s_{lang} > 0"]
        for j, other in enumerate(langs):
            if j < i:
                conds.append(f"s_{lang} > s_{other}")
            elif j > i:
                conds.append(f"s_{lang} >= s_{other}")
        case += f"WHEN {' AND '.join(conds)} THEN '{lang}' "
    case += "ELSE 'und' END"
    return f"""
    WITH feat AS (
      SELECT doc_id, text, {_TOKC_SQL} AS n_tokens,
             CASE WHEN length(text) > 0
                  THEN {_PUNCT_OCC} * 1.0 / length(text) ELSE 0.0 END AS punct_ratio,
             {case} AS lang_pred
      FROM (SELECT doc_id, text, {sel} FROM documents) s0
    ),
    kept AS (
      SELECT doc_id, text, n_tokens FROM feat
      WHERE lang_pred = 'en' AND n_tokens >= {min_tokens} AND punct_ratio <= {max_punct}
    ),
    keepers AS (SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY md5({_NORM_SQL}))
    SELECT k.doc_id, k.n_tokens FROM kept k JOIN keepers USING (doc_id)
    """


@q("corpus_clean", _corpus_clean_sql())
def q_corpus_clean(spark, sf_dir):
    """The composed training-data cleaning pass (functions/text.py
    corpus_clean): lang-ID + quality thresholds + exact dedup over the
    survivors, one scan + one shuffle. Oracle composes the same SQL
    fragments as the individual feature entries."""
    d = _t(spark, sf_dir, "documents")
    return T.corpus_clean(d)


@q(
    "asof_enrich",
    """
    WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
    r AS (SELECT user_id, ts, MAX(CAST(ROUND(value * 100) AS BIGINT)) AS last_view_cents
          FROM events WHERE event_type = 'view' GROUP BY user_id, ts)
    SELECT l.event_id, l.user_id,
           CAST(FLOOR(epoch(l.ts)) AS BIGINT) AS ts_sec,
           -- clicks with no prior view coalesce to -1: a NULLABLE
           -- column crosses the two engines as None (Spark collect)
           -- vs NaN (duckdb->pandas) and would false-fail any
           -- repr-sensitive comparison
           CAST(COALESCE(r.last_view_cents, -1) AS BIGINT) AS last_view_cents
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def q_asof_enrich(spark, sf_dir):
    """As-of join (operators/asof.py): every click event enriched with
    the user's most recent at-or-before view value. Spark-first
    union+window implementation (one shuffle, log-merge cost — never a
    range join); DuckDB replays it with its native ASOF LEFT JOIN.
    The right side is pre-aggregated to unique (user, ts) so the
    as-of pick is unambiguous on both engines."""
    from .operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    left = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    right = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max(cents).alias("last_view_cents"))
    )
    out = asof_join(left, right, by="user_id", on="ts", value_cols=["last_view_cents"])
    return out.select(
        "event_id",
        "user_id",
        F.floor(_epoch(F.col("ts"))).cast("long").alias("ts_sec"),
        F.coalesce("last_view_cents", F.lit(-1)).cast("long").alias("last_view_cents"),
    )


@q(
    "range_join_sessions",
    """
    WITH s AS (
      SELECT user_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) - 300 AS win_start,
             CAST(FLOOR(epoch(ts)) AS BIGINT) + 300 AS win_end,
             event_id AS signup_event
      FROM events WHERE event_type = 'signup'
    )
    SELECT e.event_id, e.user_id, s.signup_event
    FROM (SELECT event_id, user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_sec
          FROM events WHERE event_type = 'click') e
    JOIN s ON e.user_id = s.user_id AND e.ts_sec BETWEEN s.win_start AND s.win_end
    """,
)
def q_range_join_sessions(spark, sf_dir):
    """Range join (operators/asof.py range_join): clicks landing
    inside a +-5min window around each signup of the same user —
    bucketized interval explosion + hash equi-join + exact BETWEEN
    refilter (never a BroadcastNestedLoopJoin; plan test-pinned).
    Oracle is the plain BETWEEN join."""
    from .operators.asof import range_join

    e = _t(spark, sf_dir, "events")
    ts_sec = F.floor(_epoch(F.col("ts"))).cast("long")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", ts_sec.alias("ts_sec")
    )
    signups = e.filter(F.col("event_type") == "signup").select(
        "user_id",
        (ts_sec - 300).alias("win_start"),
        (ts_sec + 300).alias("win_end"),
        F.col("event_id").alias("signup_event"),
    )
    out = range_join(
        clicks, signups, on="ts_sec", start="win_start", end="win_end",
        by="user_id", bucket=600,
    )
    return out.select("event_id", "user_id", "signup_event")


def _decontam_sql(n: int = 8, min_hits: int = 1) -> str:
    grams = " || ' ' || ".join(f"toks[i+{k}]" for k in range(n))
    return f"""
    WITH sh AS (
      SELECT DISTINCT doc_id AS id, {grams} AS shingle
      FROM (SELECT doc_id, string_split_regex(trim({_NORM_SQL}), '\\s+') AS toks
            FROM documents) s,
           unnest(generate_series(1, greatest(len(toks) - {n - 1}, 0))) t(i)
    ),
    shh AS (SELECT id, {MD5_52_SQL.format(x='shingle')} AS h FROM sh),
    bench AS (SELECT DISTINCT h FROM shh WHERE id % 17 = 0),
    hits AS (
      SELECT s.id AS doc_id, COUNT(*) AS bench_ngram_hits
      FROM shh s JOIN bench b ON s.h = b.h
      WHERE s.id % 17 <> 0
      GROUP BY s.id
    )
    SELECT doc_id, bench_ngram_hits FROM hits
    WHERE bench_ngram_hits >= {min_hits}
    """


@q("decontaminate", _decontam_sql(n=4))
def q_decontaminate(spark, sf_dir):
    """Train-test decontamination: every training doc (doc_id % 17
    != 0) sharing >= 1 distinct word 4-gram with any benchmark doc
    (doc_id % 17 == 0), with its distinct-hit count — the exact
    span-overlap pass a training corpus runs against eval sets before
    release (GPT-3 used 13-grams; 4 here because the fixture docs are
    tens of tokens). The benchmark's n-gram hash set broadcasts; the
    corpus never shuffles shingles. Graft op (no reference
    counterpart); engine: dedup.contamination_report /
    dedup.decontaminate."""
    d = _t(spark, sf_dir, "documents")
    return D.contamination_report(
        d.filter(F.col("doc_id") % 17 != 0),
        d.filter(F.col("doc_id") % 17 == 0),
        n=4,
    )


def _pack_sql(budget: int = 64, n_groups: int = 8) -> str:
    return f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id,
             ((doc_id % {n_groups}) + {n_groups}) % {n_groups} AS grp,
             {_TOKC_SQL} AS n_tokens,
             ROW_NUMBER() OVER (
               PARTITION BY ((doc_id % {n_groups}) + {n_groups}) % {n_groups}
               ORDER BY doc_id) AS rn
      FROM documents
    ),
    packed AS (
      SELECT grp, rn, doc_id, n_tokens,
             CAST(0 AS BIGINT) AS bin_id, n_tokens AS fill
      FROM toks WHERE rn = 1
      UNION ALL
      SELECT t.grp, t.rn, t.doc_id, t.n_tokens,
             CASE WHEN p.fill + t.n_tokens <= {budget}
                  THEN p.bin_id ELSE p.bin_id + 1 END,
             CASE WHEN p.fill + t.n_tokens <= {budget}
                  THEN p.fill + t.n_tokens ELSE t.n_tokens END
      FROM packed p JOIN toks t ON t.grp = p.grp AND t.rn = p.rn + 1
    )
    SELECT doc_id, grp, bin_id, n_tokens FROM packed
    """


@q("pack_sequences", _pack_sql())
def q_pack_sequences(spark, sf_dir):
    """Greedy sequence packing into 64-token context windows, corpus
    sharded into 8 deterministic groups (doc_id % 8) packed
    independently in id order — the corpus-assembly step between
    cleaning and tokenized training shards. Exact greedy is
    sequential, so parallelism comes from the shard: one
    applyInPandas task per group, bit-stable across cluster sizes.
    The oracle replays the same greedy fold as a recursive CTE.
    Graft op (no reference counterpart); engine:
    sampling.pack_sequences."""
    d = _t(spark, sf_dir, "documents")
    from .functions.sampling import pack_sequences

    return pack_sequences(d, budget=64, n_groups=8)


@q(
    "line_dedup",
    r"""
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents
    ),
    seg AS (
      SELECT doc_id, i AS pos,
             array_to_string(toks[(i*3+1):(i*3+3)], ' ') AS seg
      FROM w, unnest(generate_series(0, CAST(ceil(len(toks)/3.0) AS INT) - 1)) t(i)
    ),
    kept AS (
      SELECT doc_id, pos, seg, 1 AS is_content FROM seg WHERE seg <> ''
      QUALIFY ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, pos) = 1
    ),
    allkept AS (
      SELECT * FROM kept
      UNION ALL
      SELECT doc_id, pos, seg, 0 AS is_content FROM seg WHERE seg = ''
    ),
    norig AS (SELECT doc_id, COUNT(*) AS n_orig FROM seg GROUP BY doc_id)
    SELECT k.doc_id,
           string_agg(k.seg, ' ' ORDER BY k.pos) AS text,
           CAST(SUM(is_content) AS BIGINT) AS n_kept,
           ANY_VALUE(n_orig) AS n_orig
    FROM allkept k JOIN norig USING (doc_id)
    GROUP BY k.doc_id
    HAVING SUM(is_content) > 0
    """,
)
def q_line_dedup(spark, sf_dir):
    """C4-style duplicate-span removal across the corpus: keep only
    the globally-first occurrence of each distinct segment (3-word
    windows here — the synthetic docs are single-line; real corpora
    use delim='\\n'), reassemble survivors in order, drop docs left
    empty. Sub-document sibling of dedup_keep: boilerplate spans
    (nav bars, cookie banners) repeat across billions of pages and
    survive whole-document dedup. One min-struct groupBy (map-side
    combine absorbs viral segments — deliberately NOT a row_number
    window, which would sort a hot segment in one task), one equi-join
    back, one bounded per-doc rebuild. Graft op; engine:
    dedup.line_dedup."""
    d = _t(spark, sf_dir, "documents")
    return D.line_dedup(d, words_per_segment=3)


@q(
    "domain_cap",
    """
    SELECT doc_id, source FROM documents
    QUALIFY ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) <= 10
    """,
)
def q_domain_cap(spark, sf_dir):
    """Per-domain document cap (keep the 10 smallest ids per source)
    — no single host may dominate the corpus. Deterministic winners,
    and skew-safe BY CONSTRUCTION: a bounded-state quantile sketch
    picks a per-group threshold that provably covers the cap smallest
    ids, then the exact top-k is taken from that small residual —
    no row_number window (the hot domain would sort in one task) and
    no buffer-the-shard collect_list. Graft op; engine:
    sampling.cap_per_group."""
    d = _t(spark, sf_dir, "documents")
    from .functions.sampling import cap_per_group

    return cap_per_group(d, "source", 10).select("doc_id", "source")


@q(
    "text_unigram_lm",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
    ),
    tok2 AS (SELECT doc_id, tok FROM tok WHERE tok <> ''),
    cnt AS (SELECT tok, COUNT(*) AS c FROM tok2 GROUP BY tok),
    tot AS (SELECT SUM(c) AS total FROM cnt)
    SELECT doc_id, COUNT(*) AS n_tokens,
           ROUND(AVG(ln(c * 1.0 / total)), 6) AS lm_logprob6
    FROM tok2 JOIN cnt USING (tok) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def q_text_unigram_lm(spark, sf_dir):
    """CCNet-style unigram LM quality score: per-doc mean log p(token)
    under the corpus's own unigram distribution — the corpus-level
    quality axis per-doc features can't see (boilerplate scores high,
    rare-garble low). One vocab groupBy (map-side combine absorbs
    stopword skew), lazy 1-row total broadcast, linear join back.
    Graft op; engine: text.unigram_lm_scores."""
    d = _t(spark, sf_dir, "documents")
    return T.unigram_lm_scores(d)
