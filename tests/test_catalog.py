"""Catalog contract: every query equals its DuckDB oracle at sf0.001
under plans/differential.compare -- row count, column names in order,
dtypes and order-insensitive exact values -- and returns rows unless it is
one of the queries measured empty on both sides at this scale. Each side
runs once (conftest's CatalogRuns): test_query_runs and
test_oracle_is_valid_duckdb check the Spark and the DuckDB side on their
own, test_query_matches_oracle compares them. tools/check_oracle.py runs the same compare at sf0.01 and under hostile
time zones and partition counts."""

import pytest

from flink_training_exercises_spark.plans.catalog import (
    CATALOG,
    entry_query,
    oracle_sql,
    queries,
    timed_run,
    warm_up,
)

# Empty on both engines at sf0.001 (too few rows to pass their filters);
# non-empty at sf0.01.
EMPTY_AT_SF0001 = frozenset(
    {
        "tpch_q7_volume_shipping",
        "tpch_q11_important_stock",
        "tpch_q20_excess_inventory",
        "tpch_q21_waiting_suppliers",
    }
)


def test_entry_returns_rows(spark):
    assert entry_query(spark).count() > 0


@pytest.mark.parametrize("name", sorted(CATALOG))
def test_query_runs(catalog_runs, name):
    sdf = catalog_runs.query(name)
    assert list(sdf.columns), name
    assert (len(sdf) == 0) == (name in EMPTY_AT_SF0001)


@pytest.mark.parametrize("name", sorted(CATALOG))
def test_oracle_is_valid_duckdb(catalog_runs, name):
    odf = catalog_runs.oracle(name)
    assert list(odf.columns), name
    assert (len(odf) == 0) == (name in EMPTY_AT_SF0001)


@pytest.mark.parametrize("name", sorted(CATALOG))
def test_query_matches_oracle(catalog_runs, name):
    assert catalog_runs.problems(name) == []


def test_harness_timing_loop(spark, sf_small):
    """bench.py's and tools/profile_query.py's warm-up and timed run."""
    warm_up(spark, sf_small)
    assert timed_run(spark, "popular_places", sf_small) > 0


def test_queries_follow_registration_order():
    assert list(queries()) == list(CATALOG)
    assert list(oracle_sql()) == list(CATALOG)


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
    function; for a streaming entry that is the decorated fn(stream,
    sf_dir) its builder wraps."""
    fns = [getattr(spec.spark, "__wrapped__", spec.spark) for spec in CATALOG.values()]
    dupes = {f.__name__ for f in fns if fns.count(f) > 1}
    assert not dupes, f"stacked @register decorators on: {dupes}"
