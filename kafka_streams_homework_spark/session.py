"""SparkSession factory with scale-aware defaults.

The reference configures its runtime via StreamsConfig
(application id / bootstrap servers / state dir,
``dsl/PriceAlertsApp.java:70-78``). Our equivalent is a SparkSession
with configs chosen for the 100 TB design stance:

- AQE on (runtime re-planning, skew-join splitting, partition
  coalescing) — replaces hand-tuned partition counts at scale.
- Arrow on — every Pandas-UDF op in this engine crosses the JVM/Python
  boundary in columnar batches, never per row.
- UTC session timezone — window starts must be identical across Spark,
  DuckDB (oracle) and parquet metadata.
"""

from __future__ import annotations

import os
import warnings
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

# STATIC SQL confs: must be set on the builder BEFORE the first
# session is created; spark.conf.set on a live session throws
# CANNOT_MODIFY_CONFIG for these. get_spark applies them; an
# EXTERNALLY provided session (the driver's own bench/correctness
# path) cannot receive them at runtime — set them at launch there.
# (r11 ADVICE: this key previously sat in RUNTIME_CONFS, whose
# apply_runtime_confs silently swallowed the failure, so external
# sessions never got the stall fix.)
STATIC_CONFS: dict[str, str] = {
    # r11 root-cause of the in-session stalls (r10 verdict #1, BASELINE
    # round-10 closing leg): the whole-stage-codegen CLASS CACHE
    # defaults to 100 entries, while this engine's registry spans
    # hundreds of distinct operators (and single queries like the BPE
    # loop emit dozens of codegen units) — in a long bench/oracle
    # session the cache thrashes, every re-run re-compiles through
    # Janino + C2 (thread dumps taken MID-STALL show all executor
    # workers parked and the C2 compiler at 8+ s CPU), and identical
    # code runs 2-6x slower. Reproduced: interleaving 3 queries at the
    # default held mmr_rerank at 10-24 s; at 800 entries it settles at
    # ~4 s. Upper bound matters too: at 5000 a full-registry session
    # RETAINS thousands of generated classes and their JIT state, and
    # late-session queries slowed 50-80% (bpe_train 9 -> 16 s,
    # streaming_* +2 s each, A/B-measured) — 800 is the measured sweet
    # spot: several adjacent queries' units stay resident, while
    # eviction still bounds class retention. Sized to the operator
    # surface (not the core count).
    "spark.sql.codegen.cache.maxEntries": "800",
}

# Configs that are safe (and desirable) to apply to an externally
# provided session at runtime. Keys here must be runtime-settable SQL
# confs — static confs go in STATIC_CONFS above.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # events.parquet stores ts as TIMESTAMP(NANOS) which Spark's reader
    # rejects; read as long and convert in the loader (sources/batch.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Fixture parquet stores timestamps without a timezone; PySpark 4.1
    # would infer TIMESTAMP_NTZ for them, leaking NTZ into every derived
    # window column and breaking the entry() schema contract. Load them
    # as TIMESTAMP_LTZ under the pinned UTC session zone instead.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Write offset, commit and state-store files through the Hadoop
    # FileSystem API instead of the default FileContext one. On the local
    # file system FileContext.rename forks `readlink` for every file and
    # its .crc sibling, which set the micro-batch floor (state-store
    # commit p50 544 ms -> 14 ms on a 4-vCPU box, measured with the 8
    # state partitions streams then ran on).
    # Spark already picks this manager for any file system without an
    # AbstractFileSystem; local rename is an atomic POSIX rename, and the
    # checksum files are still written. Spark 4.1 package path: if a
    # later release moves the class, streams fail with ClassNotFound.
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "kafka-streams-homework-spark") -> SparkSession:
    """Build (or get) a local session sized from SPARK_GRAFT_CPUS.

    On a real cluster the master/memory configs come from spark-submit;
    everything set here is safe under any deployment.
    """
    cpus = default_parallelism()
    # Keep managed-table artifacts (bucketed-table plan tests) out of the
    # repo working tree: the default warehouse is ./spark-warehouse, which
    # would accumulate test tables under version control. Static conf, so
    # it must be set before the first session is created.
    warehouse = os.environ.get("SPARK_GRAFT_WAREHOUSE_DIR")
    if not warehouse:
        import atexit
        import shutil
        import tempfile

        warehouse = tempfile.mkdtemp(prefix="spark-warehouse-")
        # Process-owned scratch dir: remove it on interpreter exit so
        # repeated test/bench runs don't accumulate /tmp directories.
        atexit.register(shutil.rmtree, warehouse, ignore_errors=True)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        # One shuffle partition per core locally; at cluster scale AQE
        # coalesces from a deliberately high initial number instead.
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.warehouse.dir", warehouse)
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**STATIC_CONFS, **RUNTIME_CONFS}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply engine-required runtime confs to an external session.

    The driver hands us its own SparkSession; timezone + AQE + Arrow
    are runtime-settable and required for correct/fast results.
    STATIC_CONFS (the codegen-cache stall fix) can NOT be applied here
    — a session built outside get_spark must set them at launch. A conf
    the session rejects is skipped with a warning that names the key.

    shuffle.partitions: when the session still carries Spark's default
    (200), fit it to the actual core count — a vanilla local session
    otherwise pays 200-task overhead on every exchange, and streaming
    state pins the number into each new checkpoint. A deliberate
    non-default setting is left untouched.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:  # conf may be static in some builds
            _warn_conf(k, e)
    key = "spark.sql.shuffle.partitions"
    try:
        if spark.conf.get(key) == "200":
            spark.conf.set(key, str(spark.sparkContext.defaultParallelism))
    except Exception as e:  # e.g. Connect sessions have no sparkContext
        _warn_conf(key, e)
    return spark


@contextmanager
def bounded_loop(
    spark: SparkSession, *, small_shuffles: bool = False
) -> Iterator[None]:
    """Run a driver loop over bounded frames with AQE off.

    The iterative operators (connected components, BFS, k-core, BPE,
    MMR, IPF) run many small actions over tables bounded by a
    dimension or a vocabulary. Under AQE every action splits into
    sequential stage-jobs with ~0.1 s of driver gap each and gains
    nothing (no skew, no join to re-plan), so the block runs with
    ``spark.sql.adaptive.enabled=false``. ``small_shuffles=True`` also
    sizes ``spark.sql.shuffle.partitions`` to the bounded table:
    ``max(8, defaultParallelism // 4)`` (local[32] -> 8, measured
    equal-or-better than 32 with far fewer tasks per step). On exit,
    normal or not, each conf gets back exactly the value it had, or is
    unset again if it was unset.

    Single-threaded session assumption: the confs are set on the
    caller's session, not on a clone, because the loop's input frames
    are bound to it. Any other query planned on the same session while
    the block runs inherits the loop's confs.
    """
    confs = {"spark.sql.adaptive.enabled": "false"}
    if small_shuffles:
        confs["spark.sql.shuffle.partitions"] = str(
            max(8, spark.sparkContext.defaultParallelism // 4)
        )
    before = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _warn_conf(key: str, error: Exception) -> None:
    warnings.warn(
        f"apply_runtime_confs: could not set {key}: {error}",
        RuntimeWarning,
        stacklevel=3,
    )
