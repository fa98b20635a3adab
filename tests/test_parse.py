"""Parse-step tests (``make_parse_fn``, the first step of the fused
kernel): match arity, group values, guards, dates, the url filter,
byte-identical text per url (SURVEY.md §5, input_hint invariant)."""

import hashlib

import pandas as pd
from pyspark.sql import functions as F

from logmetrics_spark.operators.parse import make_parse_fn

REST_LINE = (
    "Feb  8 04:02:26 rest1.mynetwork rest_sales.api: [INFO] [performance] "
    "(http-2350-92) [c:session.addItem] [s:d9ea09bf2612060d9] [r:141915]  (34) "
    "[bnt:1/28] [sql:2/1] [membase:0/0] [memcache:4/2] [other:0/0]"
)


def _pages_df(spark, rows):
    return spark.createDataFrame(_pages_pdf(rows))


def _pages_pdf(rows):
    return pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])


def _parse(lg, rows) -> list[dict]:
    out = make_parse_fn(lg)(_pages_pdf(rows))
    return [] if out is None else out.to_dict("records")


def test_readme_example_line_groups(spark, rest_cfg):
    lg = rest_cfg.log_groups[0]
    out = _parse(
        lg, [("https://rest1.mynetwork/x", pd.Timestamp("2024-02-08"), b"", REST_LINE, "en")]
    )
    assert len(out) == 1
    r = out[0]
    # the README's worked example (README.md:198-219)
    assert r["g1"] == "Feb  8 04:02:26"
    assert r["g2"] == "rest1.mynetwork"
    assert r["g4"] == "sales"
    assert r["g5"] == "session.addItem"
    assert r["g6"] == "34"
    assert (r["g7"], r["g8"]) == ("1", "28")
    assert (r["g15"], r["g16"]) == ("0", "0")
    # rfc3164 year patch -> default_year 2024
    assert r["event_ts"].year == 2024
    assert r["event_ts"].month == 2 and r["event_ts"].day == 8


def test_non_matching_line_dropped(spark, rest_cfg):
    lg = rest_cfg.log_groups[0]
    rows = [("https://rest1.mynetwork/x", pd.Timestamp("2024-02-08"), b"", "no metrics here", "en")]
    assert _parse(lg, rows) == []


def test_long_line_guard(spark, rest_cfg):
    lg = rest_cfg.log_groups[0]
    long_line = REST_LINE + " " * 2500  # pushes over max_line_size
    rows = [("https://rest1.mynetwork/x", pd.Timestamp("2024-02-08"), b"", long_line, "en")]
    assert _parse(lg, rows) == []


def test_url_match_filters_foreign_pages(spark, rest_cfg):
    """The url filter runs in the JVM (rlike), ahead of the kernel."""
    from logmetrics_spark.operators.fused import fused_partials_multi

    lg = rest_cfg.log_groups[0]
    own = ("https://rest1.mynetwork/x", pd.Timestamp("2024-02-08"), b"", REST_LINE, "en")
    foreign = ("https://www1.apache.example/x", pd.Timestamp("2024-02-08"), b"", REST_LINE, "en")
    assert fused_partials_multi(_pages_df(spark, [foreign]), [(lg, None)]).count() == 0
    assert fused_partials_multi(_pages_df(spark, [own]), [(lg, None)]).count() > 0


def test_filename_groups_appended(spark, apache_cfg):
    lg = apache_cfg.log_groups[0]
    line = (
        "10.0.0.1\t-\t-\t8/Feb/2024:04:02:26 +0000\tGET /buy/now.php HTTP/1.1\t200"
        "\t1234\thttp://r/\tUA\t4520"
    )
    r = _parse(
        lg,
        [("https://www3.apache.example/httpd_access/9", pd.Timestamp("2024-02-08"), b"", line, "en")],
    )[0]
    assert r["g2"] == "GET" and r["g3"] == "/buy/now.php" and r["g4"] == "200"
    assert r["g7"] == "www3"  # url-derived group (≈ logtail.go:131-134)
    assert r["g8"] == "httpd_access"
    assert r["event_ts"].isoformat() == "2024-02-08T04:02:26"


def test_bad_date_drops_line(spark, apache_cfg):
    lg = apache_cfg.log_groups[0]
    line = (
        "10.0.0.1\t-\t-\t99/Zzz/2024:99:99:99 +0000\tGET /a HTTP/1.1\t200"
        "\t1\thttp://r/\tUA\t5"
    )
    rows = [("https://www3.apache.example/httpd_access/9", pd.Timestamp("2024-02-08"), b"", line, "en")]
    assert _parse(lg, rows) == []


def test_byte_identical_text_per_url(spark, pages, spec):
    """input_hint invariant: text extracted from the html bytes ==
    the text column == generator ground truth (md5 per url)."""
    from logmetrics_spark.operators.parse import extract_text_from_html
    from logmetrics_spark.sources.synth import gen_pages_pdf
    import numpy as np

    ext = extract_text_from_html(pages).select(
        "url", F.md5("text").alias("h_text"), F.md5("text_from_html").alias("h_html")
    )
    got = {r["url"]: (r["h_text"], r["h_html"]) for r in ext.collect()}
    truth_pdf = gen_pages_pdf(np.arange(spec.n_rows), spec)
    for u, t in zip(truth_pdf["url"], truth_pdf["text"]):
        h = hashlib.md5(t.encode()).hexdigest()
        assert got[u] == (h, h), f"text invariant broken for {u}"


def test_multi_regex_first_match_wins(spark):
    """Multiple patterns tried in config order; first match wins
    (logtail.go:124-140). Lines matching only the 2nd pattern still
    extract; lines matching both use the 1st pattern's groups."""
    from logmetrics_spark.config import load_config_str

    cfg = load_config_str(
        """
[log_groups.multi]
re = ['A=(\\d+)\\sB=(\\w+)', '(\\d+)\\sgoes\\s(\\w+)']
expected_matches = 2
key_prefix = "m"
default_year = 2024
[[log_groups.multi.metrics.meter]]
key_suffix = "k"
reference = [[1, ""]]
"""
    )
    lg = cfg.log_groups[0]
    text = "A=7 B=here\n12 goes there\nA=9 B=both 99 goes nowhere\nnothing"
    parsed = _parse(lg, [("https://x/p", pd.Timestamp("2024-02-01"), b"", text, "en")])
    rows = {r["line_no"]: (r["g1"], r["g2"]) for r in parsed}
    assert rows == {
        0: ("7", "here"),     # pattern 1
        1: ("12", "there"),   # pattern 2 only
        2: ("9", "both"),     # both match -> pattern 1 wins
    }


def test_console_sink_prints_put_lines(spark, capsys=None):
    """-D do-not-send mode: routed lines stream to stdout
    (tsdpusher.go:62-63)."""
    import io as _io

    import pandas as pd

    from logmetrics_spark.config import load_config_str
    from logmetrics_spark.operators.route import console_sink
    from logmetrics_spark.plans.pipeline import run_pipeline

    cfg = load_config_str(
        """
[settings]
push_number = 2
push_type = "tsd"
[log_groups.g]
re = ['v=(\\d+)']
expected_matches = 1
key_prefix = "t"
interval = 15
[[log_groups.g.metrics.meter]]
key_suffix = "lines"
reference = [[0, ""]]
"""
    )
    pages = spark.createDataFrame(
        pd.DataFrame(
            [("u1", pd.Timestamp("2024-02-01 00:00:05"), b"", "v=7\nv=9", "en")],
            columns=["url", "warc_ts", "html", "text", "lang"],
        )
    )
    res = run_pipeline(spark, cfg, pages, io=None, write=False)
    buf = _io.StringIO()
    n = console_sink(res.routed, out=buf)
    lines = buf.getvalue().strip().split("\n")
    assert n == len(lines) and n > 0
    assert all(l.startswith("put t.lines.") for l in lines)


def test_parser_test_show_failed_uses_first_match_suite():
    """jobs/parser_test.py --show-failed: a line that only the SECOND
    pattern matches is not a failure (the first-match-wins suite
    decides, not the first pattern alone)."""
    import importlib.util
    import os

    from logmetrics_spark.config import load_config_str

    spec = importlib.util.spec_from_file_location(
        "parser_test", os.path.join(os.path.dirname(__file__), "..", "jobs", "parser_test.py")
    )
    parser_test = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(parser_test)
    lg = load_config_str(
        """
[log_groups.two]
re = ['A=(\\d+)', 'B=(\\d+)']
expected_matches = 1
key_prefix = "t"
[[log_groups.two.metrics.meter]]
key_suffix = "k"
reference = [[1, ""]]
"""
    ).log_groups[0]
    text = "A=1\nB=2\nC=3\n" + "A=" + "9" * 3000
    pdf = _pages_pdf([("https://x/p", pd.Timestamp("2024-02-01"), b"", text, "en")])
    # B=2 matches pattern 2 only; the over-long line is guarded, not failed
    assert list(parser_test.failed_lines(pdf, lg)) == ["C=3"]
