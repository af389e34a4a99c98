import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_training_exercises_spark.plans.catalog import (  # noqa: E402
    CATALOG,
    release_query_state,
)
from flink_training_exercises_spark.plans.differential import (  # noqa: E402
    compare,
    duck_con,
)
from flink_training_exercises_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=4)
    yield s


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


class CatalogRuns:
    """Each catalog query and its DuckDB oracle, run to pandas at most once
    per session (all results at sf0.001 come to a few MB), so the catalog
    differential and every test that names one entry share a single run."""

    def __init__(self, spark, sf_dir):
        self.spark, self.sf_dir = spark, sf_dir
        self.duck = duck_con(sf_dir)
        self._query, self._oracle = {}, {}

    def query(self, name):
        if name not in self._query:
            try:
                sdf = CATALOG[name].spark(self.spark, self.sf_dir).toPandas()
            finally:
                release_query_state(self.spark)
            self._query[name] = sdf
        return self._query[name]

    def oracle(self, name):
        if name not in self._oracle:
            self._oracle[name] = self.duck.execute(CATALOG[name].oracle).df()
        return self._oracle[name]

    def problems(self, name):
        """compare()'s problems for one entry: [] when it equals its oracle."""
        return compare(name, self.query(name), self.oracle(name))


@pytest.fixture(scope="session")
def catalog_runs(spark, sf_small):
    return CatalogRuns(spark, sf_small)
