"""Structured Streaming wrap for the ETL pipelines.

The reference's pipeline is a chain of ksqlDB persistent queries
(RAW → MAPPED → MULTIVALUE → SINK streams over Kafka topics,
src/controllers/index.js:574-610). Every transform in
``plans/pipeline.py`` is stateless and stream-safe, so the whole chain
runs as ONE Structured Streaming query — Spark fuses the stages; no
intermediate topics are materialized (SURVEY.md §2.4).

Batch/stream parity: ``EtlPipeline.apply`` takes either a batch
DataFrame or a ``readStream`` DataFrame with the same schema and builds
the identical logical plan. For sinks that need transactional upsert
semantics (the reference's Oracle target), use ``foreach_batch_upsert``
— per-micro-batch JDBC-style merge keyed by RECID.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..plans.pipeline import EtlPipeline, PipelineSpec


def run_pipeline_stream(
    spark: SparkSession,
    spec: PipelineSpec,
    source: DataFrame,
    output_path: str,
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
):
    """Run a compiled pipeline as a streaming query writing parquet.

    ``source`` must be a streaming DataFrame with the raw CDC schema.
    With ``trigger_available_now`` (default) the query drains available
    input and stops — the streaming analogue of a batch backfill, and
    what a 100 TB replay would use (checkpointed, restartable).
    """
    sink = EtlPipeline(spec).apply(source).sink
    return _start_sink(sink, output_path, checkpoint, trigger_available_now)


def _start_sink(
    sink: DataFrame,
    output_path: str,
    checkpoint: str | None,
    trigger_available_now: bool,
):
    """Start the parquet ``writeStream`` of an applied pipeline's sink."""
    checkpoint = checkpoint or os.path.join(
        tempfile.gettempdir(), f"ksql_spark_ckpt_{uuid.uuid4().hex}"
    )
    writer = (
        sink.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_to_batch(
    spark: SparkSession,
    spec: PipelineSpec,
    source: DataFrame,
    output_path: str | None = None,
    timeout_sec: int = 120,
) -> DataFrame:
    """Convenience: drain ``source`` through the pipeline with an
    availableNow trigger and return the materialized result as a batch
    DataFrame (used by parity tests and the driver contract).

    Raises TimeoutError if the drain does not finish in ``timeout_sec``
    (stopping the query first) — reading the sink while the query still
    writes would silently return partial results. The read-back carries
    the sink's known schema so a zero-row drain returns an empty
    DataFrame instead of failing parquet schema inference.  The
    pipeline is applied once: the same sink feeds the writer and the
    schema."""
    output_path = output_path or os.path.join(
        tempfile.gettempdir(), f"ksql_spark_out_{uuid.uuid4().hex}"
    )
    sink = EtlPipeline(spec).apply(source).sink
    q = _start_sink(sink, output_path, None, True)
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"streaming drain did not finish within {timeout_sec}s "
            f"(query {q.id} stopped; partial output at {output_path})"
        )
    return spark.read.schema(sink.schema).parquet(output_path)


def foreach_batch_upsert(df: DataFrame, write_fn, checkpoint: str):
    """``foreachBatch`` sink shape for idempotent per-batch upserts (the
    reference's RDBMS sink contract — Oracle table keyed by RECID,
    src/controllers/index.js:45-50). ``write_fn(batch_df, batch_id)``
    performs the merge; exactly-once comes from checkpoint + idempotent
    merge key, the standard Spark pattern for JDBC targets."""
    return (
        df.writeStream.foreachBatch(write_fn)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
