"""Structured Streaming plumbing (SURVEY.md §2.8).

The reference's only asynchronous dataflow is a RabbitMQ queue between the
write path and the Elasticsearch index build (PlanController.java:100–108 →
IndexingListener.java:23–45, at-most-once, FIFO, no windows/watermarks).
Spark-native replacement: file-source ``readStream`` over the ingest
directory, transformations, and ``foreachBatch`` / memory sinks, with
watermarks and windowed aggregations as first-class operators.

Design notes for scale:
- every helper here takes an explicit schema from a one-off batch read, so
  the stream never pays schema inference per micro-batch;
- ``run_available_now`` drains the source with the availableNow trigger —
  the batch-replay mode that makes streaming plans deterministically
  testable (stream result ≡ batch result on the same input);
- a checkpoint the caller passes is caller-owned (on a cluster it would be
  durable storage, and crash-replay needs it to survive); without one, the
  drain uses a temporary checkpoint and removes it when the drain ends.
"""

from __future__ import annotations

import contextlib
import itertools
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_qname_counter = itertools.count()


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """readStream over one driver test table (Parquet file source).

    Uses ``pathGlobFilter`` so the stream sees exactly the one table file in
    the shared sf directory. The ``events`` table may be Parquet
    TIMESTAMP(NANOS) (earlier test-data generations); as in
    :func:`bigdataindexing_spark.tables.table` we read nanos as longs and
    truncate to micros, and pass a native MICROS timestamp through untouched.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        if isinstance(schema["ts"].dataType, T.LongType):
            raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        else:
            # NTZ → session-time TIMESTAMP (UTC session: value-preserving);
            # withWatermark requires the LTZ type.
            raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
        return raw
    schema = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )


def stream_dir(spark: SparkSession, path: str, schema) -> DataFrame:
    """readStream over a caller-owned ingest directory (the change-log)."""
    return spark.readStream.schema(schema).parquet(path)


def _checkpoint(checkpoint: str | None):
    """The caller's checkpoint dir, or a temporary one removed on exit."""
    if checkpoint:
        return contextlib.nullcontext(checkpoint)
    return tempfile.TemporaryDirectory(prefix="ckpt_", ignore_cleanup_errors=True)


def run_available_now(
    sdf: DataFrame,
    output_mode: str = "complete",
    checkpoint: str | None = None,
) -> DataFrame:
    """Drain a streaming DataFrame with availableNow into a memory sink and
    return the result as a batch DataFrame."""
    qname = f"stream_result_{next(_qname_counter)}"
    with _checkpoint(checkpoint) as ckpt:
        query = (
            sdf.writeStream.trigger(availableNow=True)
            .format("memory")
            .queryName(qname)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .start()
        )
        query.awaitTermination()
    return sdf.sparkSession.table(qname)


def write_arrivals(dfs, base_dir: str) -> list[str]:
    """Write each DataFrame as one file-source 'arrival'. Explicit mtimes
    force the FileStreamSource to pick the files up in list order under
    ``maxFilesPerTrigger=1`` — the deterministic replay harness for
    multi-batch semantics (watermark advancement, late-data drop, state
    carry-over) that wall-clock arrival order can't guarantee in a test."""
    import os

    paths = []
    for i, df in enumerate(dfs):
        sub = os.path.join(base_dir, f"arrival_{i}")
        df.coalesce(1).write.mode("overwrite").parquet(sub)
        parts = sorted(n for n in os.listdir(sub) if n.endswith(".parquet"))
        # coalesce(1) above makes this structural; assert anyway so a
        # future multi-part write fails loudly instead of silently
        # renaming every part onto the same dst (ADVICE r4)
        if len(parts) != 1:
            raise AssertionError(
                f"arrival {i} wrote {len(parts)} parquet parts; exactly one "
                "file per arrival is required for deterministic replay"
            )
        full = os.path.join(sub, parts[0])
        dst = os.path.join(base_dir, f"file_{i}.parquet")
        os.rename(full, dst)
        os.utime(dst, (1_000_000 + i * 1000, 1_000_000 + i * 1000))
        paths.append(dst)
    return paths


def run_foreach_batch(
    sdf: DataFrame,
    fn,
    checkpoint: str | None = None,
) -> None:
    """Drain a streaming DataFrame through ``foreachBatch(fn)`` (availableNow)."""
    with _checkpoint(checkpoint) as ckpt:
        query = (
            sdf.writeStream.trigger(availableNow=True)
            .foreachBatch(fn)
            .option("checkpointLocation", ckpt)
            .start()
        )
        query.awaitTermination()
