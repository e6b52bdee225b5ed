"""The one place the package runs a bounded streaming query.

The reference wires layers through Kafka and runs each as a forever-job;
our registry entries, tests and the batch-shaped correctness gate
(``__spark_entry__.py``) run the same streaming plans to completion
instead. Every such query goes through ``_run_available_now``: it pins
the state partitions, starts the query with an ``availableNow``
trigger, waits for it to terminate and deletes the checkpoint dir it
created. The sinks on top:

* ``run_stream_to_table`` — memory sink, returns the settled table;
* ``run_stream_foreach_batch`` — a foreachBatch callable (keyed-upsert
  stores, idempotent batch stores, incremental indexes);
* ``run_stream_hop`` — a parquet dir re-read as a stream by the next
  query: the Kafka-topic hop between two layers.

Identical code path to production (file or Kafka source, real trigger,
real state stores), different endpoints; the deployed Kafka sink is
``sources.kafka``. Multi-sink fan-out (SURVEY §7.3 #3) = one query per
sink over the shared source; with Kafka/files the replay is free, no
persist() needed.

State partitioning: a stateful streaming query materializes ONE state
store instance per shuffle partition, each committing a delta file to
the checkpoint every micro-batch — so the partition count must be sized
to STATE VOLUME, not inherited from the batch-oriented session default.
At bench SFs the keyed state is a few MB: 32 partitions means 32 ×
(stores + commit files) per stateful operator per batch, and the commit
overhead dominates wall time ~3×. In production with 10^8+ keys you
raise it (it is fixed at the query's FIRST start and persisted in the
checkpoint — choose for peak state, it cannot change across restarts
without a new checkpoint). Every query started here runs with
``spark.sql.shuffle.partitions`` pinned to ``DEFAULT_STATE_PARTITIONS``;
the session value is restored when the query ends.
"""

from __future__ import annotations

import shutil
import tempfile
from contextlib import contextmanager
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

#: Local-mode value sized for the bench and test SFs (state ≪ 1 GB). A real
#: deployment sizes it to keys × state row width.
DEFAULT_STATE_PARTITIONS = 8


@contextmanager
def _pinned_shuffle_partitions(spark: SparkSession, n: int):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _run_available_now(
    writer: DataStreamWriter, spark: SparkSession, checkpoint: str | None = None
) -> None:
    """Run ``writer``'s query to completion. The checkpoint dir is a
    fresh temp dir, deleted afterwards, unless the caller passes one."""
    ckpt = checkpoint or tempfile.mkdtemp(prefix="gmall_ckpt_")
    try:
        with _pinned_shuffle_partitions(spark, DEFAULT_STATE_PARTITIONS):
            q = (
                writer.trigger(availableNow=True)
                .option("checkpointLocation", ckpt)
                .start()
            )
            q.awaitTermination()
    finally:
        if checkpoint is None:
            shutil.rmtree(ckpt, ignore_errors=True)


def run_stream_to_table(
    sdf: DataFrame,
    name: str,
    output_mode: str = "append",
    checkpoint: str | None = None,
) -> DataFrame:
    """Run a streaming DataFrame to completion into an in-memory table;
    returns the batch DataFrame of the result."""
    spark: SparkSession = sdf.sparkSession
    writer = sdf.writeStream.format("memory").queryName(name).outputMode(output_mode)
    _run_available_now(writer, spark, checkpoint)
    return spark.table(name)


def run_stream_foreach_batch(
    sdf: DataFrame,
    fn: Callable[[DataFrame, int], None],
    output_mode: str = "append",
) -> None:
    """Run a streaming DataFrame to completion through the foreachBatch
    function ``fn(batch_df, batch_id)``."""
    _run_available_now(
        sdf.writeStream.outputMode(output_mode).foreachBatch(fn), sdf.sparkSession
    )


def run_stream_hop(
    sdf: DataFrame, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Run a streaming DataFrame to completion into the parquet dir
    ``path`` (the caller owns and deletes it) and return a streaming read
    of that dir for the next layer's query. The read's schema is the
    writing plan's, never inferred from the files: an empty input writes
    no data file, and inference would raise instead of settling empty."""
    spark = sdf.sparkSession
    _run_available_now(sdf.writeStream.format("parquet").option("path", path), spark)
    reader = spark.readStream.schema(sdf.schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)
