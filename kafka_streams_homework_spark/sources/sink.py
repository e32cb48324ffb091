"""Sinks.

Reference: Kafka sink via ``.to(RESULT_TOPIC, Produced.with(...))``
(``dsl/PriceAlertsApp.java:134``) / ``topology.addSink``
(``processor/PriceAlertsApp.java:126-131``). Batch twin: parquet write;
streaming twin lives in ``streaming/`` (``writeStream``).

Scale note: writers run one task per partition — repartition before
write to control file count/size; never coalesce(1) a big result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_and_read_back(df: DataFrame, spark: SparkSession, path: str) -> DataFrame:
    """Round-trip a result through the parquet sink (proves S5/S6).

    Reads back with the written frame's own schema: a bare read would
    run one schema-inference job per call for a schema already known.
    """
    write_parquet(df, path)
    return spark.read.schema(df.schema).parquet(path)


def compact_parquet(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_file_mb: int = 128,
) -> int:
    """Small-files compaction — the maintenance pass every long-running
    100 TB pipeline needs (streaming sinks and fine-grained partitioned
    writes accumulate KB-scale files; scans then pay one task + one
    open per file).

    Sizes the output from the INPUT's real on-disk bytes (not row
    counts): n_files = ceil(input_bytes / target), then rewrites with
    round-robin repartition so files come out uniform. Returns the
    output file count. Rewrite is scan+write only — no shuffle besides
    the round-robin exchange, no driver-side data.
    """
    import math

    # on-disk size via the Hadoop FS API (works for any FS Spark sees)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    fs_path = jvm.org.apache.hadoop.fs.Path(in_path)
    fs = fs_path.getFileSystem(conf)
    input_bytes = fs.getContentSummary(fs_path).getLength()

    n_files = max(1, math.ceil(input_bytes / (target_file_mb * 1024 * 1024)))
    spark.read.parquet(in_path).repartition(n_files).write.mode(
        "overwrite"
    ).parquet(out_path)
    return n_files
