"""Catalog contract: every query runs at sf0.001 with a stable schema, and
every oracle is valid DuckDB SQL over the same tables. (The full value-level
differential runs via tools/check_oracle.py at sf0.01.)"""

import os

import duckdb
import pytest

from flink_training_exercises_spark.plans.catalog import (
    CATALOG,
    entry_query,
    oracle_sql,
    queries,
)
from flink_training_exercises_spark.schemas import TESTDATA_TABLES


@pytest.fixture(scope="module")
def duck(sf_small):
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = os.path.join(sf_small, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def test_entry_returns_rows(spark):
    assert entry_query(spark).count() > 0


@pytest.mark.parametrize("name", sorted(CATALOG))
def test_query_runs(spark, sf_small, name):
    df = CATALOG[name].spark(spark, sf_small)
    assert df.columns, name
    df.limit(5).collect()


@pytest.mark.parametrize(
    "name", sorted(n for n in CATALOG if CATALOG[n].oracle is not None)
)
def test_oracle_is_valid_duckdb(duck, name):
    duck.execute(f"SELECT * FROM ({CATALOG[name].oracle}) LIMIT 5").fetchall()


def test_queries_follow_registration_order():
    assert list(queries()) == list(CATALOG)
    assert list(oracle_sql()) == [
        n for n in CATALOG if CATALOG[n].oracle is not None
    ]


def test_bench_headline_is_round1_twelve():
    """bench.py's headline basket is the bench=True flags: the round-1
    twelve."""
    active = sorted(n for n in CATALOG if CATALOG[n].bench)
    assert active == sorted(
        [
            "ride_cleansing",
            "popular_places",
            "mail_count",
            "reply_graph",
            "mail_tfidf",
            "pagerank_weighted",
            "travel_time_prediction",
            "dedup_minhash_lsh",
            "ann_topk_bruteforce",
            "sessionize_events",
            "tpch_q1_pricing_summary",
            "tpch_q5_local_supplier",
        ]
    )


def test_no_stacked_registrations():
    """Two catalog names bound to the same builder function = a @register
    block inserted between another entry's decorator and its def (the
    value_histogram/value_outliers_mad round-4 bug: both names silently
    served the histogram). Every registered name must own a distinct
    function."""
    fns = [spec.spark for spec in CATALOG.values()]
    dupes = {f.__name__ for f in fns if fns.count(f) > 1}
    assert not dupes, f"stacked @register decorators on: {dupes}"
