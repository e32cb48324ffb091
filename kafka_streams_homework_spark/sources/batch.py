"""Batch parquet sources.

The reference's sources are Kafka topics (``builder.stream`` at
``dsl/PriceAlertsApp.java:87-90``, ``topology.addSource`` at
``processor/PriceAlertsApp.java:86-90``). The batch twin is a parquet
scan: Spark's vectorized reader gives columnar decode, and Catalyst
pushes filters/projections into the scan (check ``PushedFilters`` /
``ReadSchema`` in ``df.explain("formatted")``).

Scale note (100 TB): parquet scans parallelize by row-group;
``spark.sql.files.maxPartitionBytes`` (default 128 MB) controls split
size. Nothing here collects to the driver.

Scale note (schema inference): every ``spark.read.parquet(path)``
without a schema runs one Spark job to read parquet footers and infer
the schema (measured on a 4-vCPU VM at sf0.1: a median 79-97 ms per
call, against 11-13 ms with the schema given). ``parquet_schema``
memoizes that inference per local path, file listing and
schema-affecting conf, so a repeat load of an unchanged table plans
with no job. A path the driver cannot stat (a URI with a scheme, an
object store, a glob) still infers on every call.
"""

from __future__ import annotations

import copy
import os
import stat
import threading
from collections import OrderedDict
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# The confs Spark's parquet footer-to-schema conversion and schema merge
# read: the same bytes infer a different schema when any of them differs.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
)
_SCHEMA_MEMO_SIZE = 64
# (absolute path, conf values) -> (file stamps, schema); oldest dropped first
_SCHEMA_MEMO: OrderedDict[tuple, tuple] = OrderedDict()
_SCHEMA_LOCK = threading.Lock()


def _file_stamps(path: str) -> tuple | None:
    """Sorted (relative name, size, st_mtime_ns) of every file at or
    under a local ``path`` — what Spark's file index compares — or None
    when the driver cannot stat it (a URI with a scheme, a glob, a
    missing path). Hidden and ``_``-prefixed files are included: they
    can only add re-inferences, never hide a change."""
    if urlsplit(path).scheme:
        return None
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (("", st.st_size, st.st_mtime_ns),)
        stamps = []
        for root, _dirs, files in os.walk(path, followlinks=True):
            for f in files:
                full = os.path.join(root, f)
                fs = os.stat(full)
                stamps.append((os.path.relpath(full, path), fs.st_size, fs.st_mtime_ns))
    except OSError:  # missing, or a file vanished mid-walk
        return None
    return tuple(sorted(stamps))


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """Spark's own inferred schema of a parquet file or directory,
    inferred again only when the path, its files (name, size, mtime) or
    a schema-affecting conf (``_SCHEMA_CONFS``) changed. Returns a copy,
    so a caller that mutates it cannot alter the memo."""
    # stamps are taken BEFORE inference: a file that changes in between
    # leaves stale stamps next to a newer schema, which the next call's
    # stamps no longer match — it re-infers rather than reusing
    stamps = _file_stamps(path)
    if stamps is None:
        return spark.read.parquet(path).schema
    key = (os.path.abspath(path), tuple(spark.conf.get(k) for k in _SCHEMA_CONFS))
    with _SCHEMA_LOCK:
        hit = _SCHEMA_MEMO.get(key)
    if hit is not None and hit[0] == stamps:
        return copy.deepcopy(hit[1])
    schema = spark.read.parquet(path).schema
    with _SCHEMA_LOCK:
        _SCHEMA_MEMO.pop(key, None)
        _SCHEMA_MEMO[key] = (stamps, schema)
        while len(_SCHEMA_MEMO) > _SCHEMA_MEMO_SIZE:
            _SCHEMA_MEMO.popitem(last=False)
    return copy.deepcopy(schema)


def ts_as_timestamp(df: DataFrame, name: str) -> DataFrame:
    """events.ts is stored as parquet TIMESTAMP(NANOS), which Spark reads
    only as long (spark.sql.legacy.parquet.nanosAsLong); convert it to a
    microsecond TimestampType so downstream operators see a real
    event-time column. Batch scans and streams of a table both apply it."""
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer division — ns epochs exceed double's 53-bit mantissa
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Declarative — pushdown/pruning happen later."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    return ts_as_timestamp(spark.read.schema(parquet_schema(spark, path)).parquet(path), name)


def spread(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Redistribute a narrow scan across the cluster before
    compute-heavy per-row work (shingling, hashing, vector math).

    Parquet files with a single row group cannot be split by
    ``maxPartitionBytes``, so a small file scans as ONE task and
    per-row compute serializes on one core. At 100 TB the scan already
    has far more splits than cores and this is a no-op — the check is
    on the actual scan partitioning, so no shuffle is added where the
    source parallelism suffices.

    The width is read from the physical plan, never from ``df.rdd``:
    under AQE building a frame's RDD runs every exchange upstream of it
    (spreading an already spread corpus would shuffle it once more just
    to count partitions). A frame with an exchange has the width the
    plan states for it (a round-robin ``repartition(n)`` keeps n; AQE
    leaves user repartitions alone) and counts as wide when the root
    does not state one; a frame without one has its scan's split count,
    which building the RDD works out on the driver.
    """
    try:
        target = partitions or df.sparkSession.sparkContext.defaultParallelism
        plan = df._jdf.queryExecution().executedPlan()
        if plan.nodeName() == "AdaptiveSparkPlan":
            current = plan.inputPlan().outputPartitioning().numPartitions() or target
        else:
            current = plan.execute().getNumPartitions()
    except Exception:  # Spark Connect: no sparkContext/_jdf — leave as-is
        return df
    if current >= target:
        return df
    return df.repartition(target)
