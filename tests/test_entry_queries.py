"""Driver-contract gate inside pytest: a representative sample of
queries()/oracle_sql() pairs validated against DuckDB at sf0.001
(the full 40-pair sweep runs via scripts/check_entry.py)."""

import math

import duckdb
import pytest

import sys

sys.path.insert(0, "/root/repo")

SF = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

SAMPLE = [
    "parse_extract",
    "transform_replace_chain",
    "meter_window_sum",
    "meter_ewma",
    "hist_percentiles",
    "hist_reservoir",
    "stale_keys",
    "enrich_broadcast_join",
    "dedup_exact",
    "dedup_minhash_lsh",
    "embed_neardup",
    "ann_cosine_topk",
    "multimodal_decode",
    "sessionize",
]


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    import decimal

    if isinstance(v, decimal.Decimal):
        return round(float(v), 6)
    if hasattr(v, "timestamp"):
        return int(v.timestamp())
    return v


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", SAMPLE)
def test_query_matches_duckdb_oracle(spark, duck, name):
    import __spark_entry__ as e

    fn = e.queries()[name]
    sql = e.oracle_sql()[name]
    sdf = fn(spark, SF)
    srows = sdf.collect()
    rel = duck.sql(sql)
    orows = rel.fetchall()
    assert len(srows) == len(orows), f"{name}: row count {len(srows)} vs {len(orows)}"
    scols = sdf.columns
    assert sorted(c.lower() for c in scols) == sorted(c.lower() for c in rel.columns)
    sidx = [scols.index(c) for c in sorted(scols, key=str.lower)]
    ocols = [c.lower() for c in rel.columns]
    oidx = [ocols.index(c) for c in sorted(ocols)]
    sset = sorted(tuple(_norm(r[i]) for i in sidx) for r in srows)
    oset = sorted(tuple(_norm(r[i]) for i in oidx) for r in orows)
    assert sset == oset, f"{name}: value mismatch"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())
