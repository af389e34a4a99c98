"""Batch sources (SURVEY.md §2.1).

S1 (file half)  read_taxi_rides_csv -- the reference's gzipped CSV TaxiRide
                format (TaxiRide.java:92-130): Spark decompresses .gz
                transparently; the *replay pacing* half of S1 is
                streaming/sources.paced_feed.
S3/S5           read_mail_records -- multi-char record delimiter '##//##' and
                field delimiter '#|#' (MBoxParser.java:56-57) via the Hadoop
                textinputformat.record.delimiter conf; a scan this exotic is
                the one place an RDD hop is warranted, and it converts to a
                DataFrame immediately.
S4              read_edge_list -- tab-separated (src, dst, weight)
                (PageRankWithEdgeWeights.java:70-74).
Testdata        load_table over /root/testdata parquet.

The file loaders (taxi CSV, mail records, edge lists) declare explicit
schemas -- no runtime inference. ``load_table`` takes its schema from the
parquet footer, but resolves each file once per session: Spark's own
inference (a job that reads the footer) runs on the first read of a file
identity (path, mtime, size) in a session, and later reads pass the stored
schema. A file rewritten at the same path, or a second session, resolves
afresh. Only schemas and plan properties are stored, never a DataFrame.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import MAIL

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The driver testdata stores TIMESTAMP(NANOS) parquet, which Spark reads only
# as LONG via the legacy conf; these get normalized to microsecond
# TIMESTAMP_NTZ (truncation -- the same thing DuckDB does reading nanos).
# NTZ, not LTZ: DuckDB timestamps are timezone-naive, and NTZ makes every
# downstream date_format/window/epoch computation independent of whatever
# session timezone the caller's SparkSession happens to have.
_NANO_TS_COLS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}

NTZ_EPOCH = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


# One store per session: (path, st_mtime_ns, st_size) -> the inferred
# StructType, and (semanticHash, target) -> widen_scan's "narrower than
# target". Weak keys: an entry lives exactly as long as its session object.
_RESOLVED: weakref.WeakKeyDictionary[SparkSession, dict] = weakref.WeakKeyDictionary()


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """One driver testdata table (TESTDATA.md)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    st = os.stat(path)
    resolved = _RESOLVED.setdefault(spark, {})
    key = (path, st.st_mtime_ns, st.st_size)
    if key not in resolved:
        resolved[key] = spark.read.parquet(path).schema
    df = spark.read.schema(resolved[key]).parquet(path)
    for c in _NANO_TS_COLS.get(name, ()):
        if c in df.columns and dict(df.dtypes)[c] == "bigint":
            # integer div -- double division would lose precision at 1e18 ns
            df = df.withColumn(
                c, F.timestamp_add("MICROSECOND", F.expr(f"{c} div 1000"), F.expr(NTZ_EPOCH))
            )
    return df


def widen_scan(df: DataFrame) -> DataFrame:
    """Raise partition count before CPU-heavy per-row work (minhash
    signatures, all-pairs cosine, shingling): a small local parquet file
    arrives as ONE split (< maxPartitionBytes), serializing e.g. the 32-pass
    md5 signature scan onto one of 32 cores. At cluster scale a 100 TB scan
    already has thousands of splits, so this no-ops (partitions >= target)
    and costs nothing; locally it is a tiny round-robin shuffle that buys
    full-machine parallelism. Row-level operators are partitioning-
    independent, so results are identical either way.

    The split-count probe (``df.rdd.getNumPartitions()``) runs a full
    physical-planning pass (~110 ms even on a trivial scan), and builders
    re-probe the same few plans on every build, so its answer is kept in
    the session's store under (semanticHash, target) and looked up before
    probing. semanticHash is ~1 ms on an analyzed plan. The store holds a
    plan property of a read-only input, never data or results; a
    (vanishingly unlikely) 32-bit hash collision could only mis-skip or
    mis-add the widening shuffle, which leaves results unchanged."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    resolved = _RESOLVED.setdefault(spark, {})
    key = (df.semanticHash(), target)
    if key not in resolved:
        resolved[key] = df.rdd.getNumPartitions() < target
    if resolved[key]:
        return df.repartition(target)
    return df


def read_taxi_rides_csv(spark: SparkSession, path: str) -> DataFrame:
    """Parse the reference's TaxiRide CSV line format.

    Line: rideId,START|END,time,time,startLon,startLat,endLon,endLat,pCnt
    Quirks preserved from TaxiRide.java:92-130:
      * END rows carry (endTime, startTime) -- the two times are SWAPPED
        relative to START rows (TaxiRide.java:76-82).
      * blank lon/lat parse to 0.0f (TaxiRide.java:119-122).
      * times are 'yyyy-MM-dd HH:mm:ss' UTC (TaxiRide.java:42-43).

    .gz inputs decompress transparently; for large fleets prefer converting
    once to parquet (partitioned by date) so scans prune.
    """
    raw = spark.read.csv(
        path,
        schema="rideId LONG, kind STRING, t1 STRING, t2 STRING, "
        "lon1 STRING, lat1 STRING, lon2 STRING, lat2 STRING, passengerCnt SHORT",
    )
    return _ride_columns(raw)


def _ride_columns(raw: DataFrame) -> DataFrame:
    is_start = F.col("kind") == F.lit("START")
    # NTZ: the wire format is UTC wall time (TaxiRide.java:42-43); parsing to
    # NTZ keeps it session-TZ independent like the rest of the engine
    ts1 = F.to_timestamp_ntz("t1", F.lit("yyyy-MM-dd HH:mm:ss"))
    ts2 = F.to_timestamp_ntz("t2", F.lit("yyyy-MM-dd HH:mm:ss"))

    def coord(c: str):  # blank -> 0.0f
        col = F.col(c)
        return (
            F.when(col.isNull() | (F.trim(col) == ""), F.lit(0.0))
            .otherwise(col.cast("float"))
            .cast("float")
        )

    return raw.select(
        F.col("rideId"),
        is_start.alias("isStart"),
        # START rows print (startTime, endTime); END rows print them swapped.
        F.when(is_start, ts1).otherwise(ts2).alias("startTime"),
        F.when(is_start, ts2).otherwise(ts1).alias("endTime"),
        coord("lon1").alias("startLon"),
        coord("lat1").alias("startLat"),
        coord("lon2").alias("endLon"),
        coord("lat2").alias("endLat"),
        F.col("passengerCnt"),
    )


def read_mail_records(spark: SparkSession, path: str) -> DataFrame:
    """Mail-archive records: fields joined by '#|#', records by '##//##'
    (MBoxParser.java:56-57; scans at MailCount.java:49-54 etc.).

    Spark's CSV reader handles the multi-char *field* delimiter, but record
    delimiters are line-based, so the record split uses the Hadoop input
    format conf -- the same trick the reference's DelimitedInputFormat plays
    (MBoxParser.java:91-115). Immediately lifted to a DataFrame so everything
    downstream is Catalyst-visible.
    """
    conf = {"textinputformat.record.delimiter": "##//##"}
    rdd = spark.sparkContext.newAPIHadoopFile(
        path,
        "org.apache.hadoop.mapreduce.lib.input.TextInputFormat",
        "org.apache.hadoop.io.LongWritable",
        "org.apache.hadoop.io.Text",
        conf=conf,
    ).map(lambda kv: (kv[1],))
    raw = spark.createDataFrame(rdd, "value STRING")
    parts = F.split(F.regexp_replace(F.col("value"), r"^\s+|\s+$", ""), r"#\|#")
    df = raw.where(F.trim("value") != "").select(
        *[parts.getItem(i).alias(MAIL.fields[i].name) for i in range(len(MAIL.fields))]
    )
    return df


def read_edge_list(spark: SparkSession, path: str) -> DataFrame:
    """Tab-separated weighted edge list (PageRankWithEdgeWeights.java:70-74)."""
    return spark.read.csv(path, sep="\t", schema="src STRING, dst STRING, weight DOUBLE")
