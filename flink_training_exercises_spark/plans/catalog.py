"""Query catalog: every implemented operator registered as a named query
(SURVEY.md §2 coverage checklist) with a DuckDB oracle twin.

Contract (driver harness, __spark_entry__.py):
  * spark builder: (spark, sf_dir) -> DataFrame. A streaming entry
    registers with ``source=`` and is written as fn(stream, sf_dir); its
    builder opens that source and calls fn, so a test can replay the same
    function over a chunked stream (tests/test_streaming.py::
    test_streaming_query_replays_to_oracle).
  * oracle: ANSI SQL over pre-registered DuckDB views (region nation customer
    supplier part orders lineitem events documents embeddings); every
    query has one, and plans/differential.compare defines "equal".
  * queries() and oracle_sql() yield CATALOG in registration order: the
    import order of the q_* family modules below, then each module's
    @register order.

Cross-engine determinism rules used throughout (see plans/rides.py and
functions/hashing.py):
  * float literals in shared SQL are E-notation (decimal literals would be
    DECIMAL-typed in both engines and change the arithmetic);
  * aggregates over doubles avoid sum-order nondeterminism by aggregating
    integers/exact values where the query allows;
  * timestamps are exposed as epoch millis BIGINT, months as 'yyyy-MM'
    strings (reference exposes window.getEnd as a long --
    PopularPlaces.java:139).
"""

from __future__ import annotations

import functools
import gc
import os
import time
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..operators import windows
from . import rides as rides_plan

SparkBuilder = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    spark: SparkBuilder
    oracle: str
    doc: str = ""
    bench: bool = False  # include in bench.py headline set
    # table the entry reads as a stream (a key of
    # streaming.sources.STREAM_SCHEMAS); None for batch entries
    source: str | None = None


CATALOG: dict[str, QuerySpec] = {}


def register(
    name: str, oracle: str, doc: str = "", bench: bool = False, source: str | None = None
):
    def deco(fn):
        builder = fn
        if source is not None:

            @functools.wraps(fn)  # builder.__wrapped__ is fn(stream, sf_dir)
            def builder(spark: SparkSession, sf_dir: str) -> DataFrame:
                from ..streaming.sources import table_stream

                return fn(table_stream(spark, sf_dir, source), sf_dir)

        CATALOG[name] = QuerySpec(name, builder, oracle, doc, bench, source)
        return fn

    return deco


def queries() -> dict[str, SparkBuilder]:
    return {name: spec.spark for name, spec in CATALOG.items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in CATALOG.items()}


def release_query_state(spark: SparkSession) -> None:
    """Drop what one query left behind before the next one runs: once the
    caller has dropped its own references, the localCheckpoint RDDs of the
    driver loops and dedup's signature tables (CC/kcore/SSSP/BPE/MinHash)
    are garbage, and collecting it lets the ContextCleaner free them
    instead of letting executor memory pressure slow later queries. The
    package caches no frame; ``clearCache`` drops any a caller cached. No
    result depends on this call; it only returns memory."""
    spark.catalog.clearCache()
    gc.collect()


def warm_up(spark: SparkSession, sf_dir: str) -> None:
    """Untimed warm-up, so the first timed query is not billed the JVM,
    codegen, parquet/shuffle and Python-worker/Arrow cold start."""
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).groupBy(
        "l_returnflag"
    ).count().collect()
    spark.range(8).mapInPandas(lambda it: it, "id long").collect()


def timed_run(spark: SparkSession, name: str, sf_dir: str) -> float:
    """Wall seconds to build entry ``name`` and write it to the noop sink (a
    bare ``count`` would let Catalyst prune computed columns); its state is
    released afterwards, untimed."""
    t0 = time.perf_counter()
    CATALOG[name].spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    release_query_state(spark)
    return wall


# Family registration modules -- imported for their @register side effects.
# Import order = original registration order, so CATALOG iteration order
# (bench.py) is unchanged by the round-6 file split. These must come after
# register() is defined (circular-import handshake: each module imports
# .catalog, which is already in sys.modules by the time these lines run).
from . import (  # noqa: E402,F401
    q_reference,
    q_dedup_similarity,
    q_text_multimodal,
    q_sessions_streaming,
    q_shaping,
    q_tpch,
    q_relational_indexing,
    q_sketches_graph,
    q_pipeline_cdc,
    q_round5,
)


def entry_query(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """Flagship: PopularPlaces with a density-adjusted threshold so the
    sf0.001 smoke check returns rows."""
    r = rides_plan.rides_view(spark, sf_dir)
    return windows.popular_places(r, window="1 day", slide="6 hours", threshold=2)
