"""Streaming runner: the compiler's pipeline under Structured Streaming.

One ``StreamingQuery`` per pipeline (the reference's per-stage pods +
NATS hops collapse into a single Spark DAG — SURVEY.md §3.2). Delivery
semantics: checkpointing + the sink's idempotency column give
at-least-once with harmless replays, replacing the reference's
ack/commit choreography (kafka/consumer.go:253-362).

The per-source chains and the join/mapping step come from
plans/compiler.py; the runner adds only what streaming needs: JSON
validation with a DLQ query per source, the state GC timeout, sink-side
ANN serving, and the trigger. Dedup on a streaming frame is
``dropDuplicatesWithinWatermark`` — the faithful "first seen within
window wins" with state eviction by watermark (the reference's Badger
TTL, deduplication/badger/deduplication.go:30-103, shifted from
processing to event time as documented).
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.validate import validate_json
from ..plans.compiler import compile_pipeline, join_and_map
from ..spec.model import PipelineSpec, SourceConfig


def kafka_source_stream(
    spark: SparkSession, src: SourceConfig, max_batch_size: int | None = None
) -> DataFrame:
    """readStream.format('kafka') with the spec's connection options
    (PLAIN/SCRAM auth mapped in spec/model.py:_kafka_options), Confluent
    SR envelope stripped, JSON payload as string.

    Offset discipline: startingOffsets from the spec; commit-after-sink
    ≡ checkpoint-after-foreachBatch (S1, kafka/consumer.go:69-376).
    Intake is bounded by maxOffsetsPerTrigger ≈ the sink's
    max_batch_size (the reference's backpressure knob collapses into
    the micro-batch pull model, SURVEY.md §2.7 C4).
    """
    reader = (
        spark.readStream.format("kafka")
        .option("subscribe", src.topic)
        .option("startingOffsets", src.initial_offset)
        .option("failOnDataLoss", "false")
    )
    if max_batch_size:
        reader = reader.option("maxOffsetsPerTrigger", str(max_batch_size))
    for k, v in src.kafka_options.items():
        if k.startswith("jvm."):
            # JVM system property (e.g. java.security.krb5.conf for
            # GSSAPI) — not a Kafka client option. Driver-side here; a
            # multi-node cluster ships it via executor extraJavaOptions.
            spark._jvm.java.lang.System.setProperty(k[4:], v)  # noqa: SLF001
        else:
            reader = reader.option(k, v)
    raw = reader.load()

    from ..spec.schema_registry import strip_sr_envelope

    payload, schema_id = strip_sr_envelope(F.col("value"))
    return raw.select(
        payload.cast("string").alias("value"),
        schema_id.alias("_schema_id"),
        F.col("timestamp").alias("_kafka_ts"),
    )


@dataclass
class StreamingPipeline:
    spec: PipelineSpec
    checkpoint_dir: str
    dlq_queries: list = None  # populated by start() when a DLQ sink is wired

    def start(
        self,
        spark: SparkSession,
        sources: dict[str, DataFrame],
        ts_cols: dict[str, str],
        sink_fn: Callable[[DataFrame, int], None],
        trigger: Optional[dict] = None,
        dlq_writer=None,
    ):
        """Assemble and start the StreamingQuery.

        ``sources`` are streaming DataFrames (kafka_source_stream or any
        test source); ``sink_fn`` is the foreachBatch body (typically
        ClickHouseSink.foreach_batch()). max_delay_time becomes the
        processing-time trigger — the reference's flush cadence
        (sink/clickhouse.go:161-197).
        """
        trigger = trigger or {"processingTime": f"{int(self.spec.sink.max_delay_time_s)} seconds"}
        self.dlq_queries = []

        # sink-side ANN serving (VERDICT r8 #4): a TERMINAL ann_serve
        # dataop on a joinless single-source pipeline is popped from the
        # chain and wired into foreachBatch — each micro-batch of query
        # vectors runs the exact pq_index_query path (session-cached
        # artifacts, partition-pruned codes scan) and the ANSWER frame
        # reaches the sink. Any other position raises when the chain is
        # applied (plans.compiler.source_chain).
        spec = self.spec
        serve_cfg = None
        if (
            spec.join is None
            and len(spec.sources) == 1
            and spec.sources[0].dataops
            and spec.sources[0].dataops[-1].op == "ann_serve"
        ):
            src0 = spec.sources[0]
            serve_cfg = src0.dataops[-1]
            spec = replace(spec, sources=(replace(src0, dataops=src0.dataops[:-1]),))
        plan = compile_pipeline(spec, ts_cols)

        staged: dict[str, DataFrame] = {}
        for src in spec.sources:
            source_df = sources[src.source_id]
            ts = ts_cols[src.source_id]
            if ts in source_df.columns and isinstance(
                source_df.schema[ts].dataType, T.TimestampNTZType
            ):
                # timezone-naive parquet timestamps read as TIMESTAMP_NTZ,
                # which withWatermark rejects as event time — read them
                # in the session zone once, before any watermark is set
                source_df = source_df.withColumn(ts, F.col(ts).cast("timestamp"))
            if src.schema_fields and "value" in source_df.columns:
                # a source-side event-time column (e.g. _kafka_ts) rides
                # through validation next to the typed payload
                payload = {f.name for f in src.schema_fields}
                keep = [ts] if ts in source_df.columns and ts not in payload else None
                source_df, dlq_frame = validate_json(
                    source_df, src.schema_fields,
                    component=f"ingestor:{src.source_id}", keep_cols=keep,
                )
                if dlq_writer is not None:
                    # the failure frame runs as its OWN StreamingQuery
                    # over the same source (each query keeps independent
                    # offsets — the reference's per-operator DLQ
                    # middleware, processor/dlq_processor.go:13-60)
                    dq = (
                        dlq_frame.writeStream.foreachBatch(
                            lambda df, _bid: dlq_writer.write(df) if not df.isEmpty() else None
                        )
                        .option("checkpointLocation", f"{self.checkpoint_dir}/dlq_{src.source_id}")
                        .outputMode("append")
                        .trigger(**trigger)
                        .start()
                    )
                    self.dlq_queries.append(dq)
            staged[src.source_id] = plan.source_chains[src.source_id](source_df)

        if serve_cfg is not None:
            # the sink mapping (if any) applies to the ANSWER frame, so
            # it moves inside the serving foreachBatch; the streaming
            # frame itself stays the raw query stream
            from ..dataops.similarity import pq_index_serve_foreach_batch

            ((sid, df),) = staged.items()
            params = dict(serve_cfg.params)
            index_path = params.pop("index_path")
            inner_sink = sink_fn

            def mapped_sink(ans: DataFrame, batch_id: int) -> None:
                inner_sink(join_and_map(spec, {sid: ans}), batch_id)

            sink_fn = pq_index_serve_foreach_batch(spark, index_path, mapped_sink, **params)
        else:
            # GC timers only for continuous deployments — a registered
            # timer keeps availableNow runs alive with empty epochs
            gc_ms = None
            if spec.join is not None and "availableNow" not in trigger:
                w = max(spec.join.left.time_window_s, spec.join.right.time_window_s)
                gc_ms = int(w * 1000 * 2) or 3600_000
            df = join_and_map(spec, staged, ts_cols, state_gc_timeout_ms=gc_ms)

        writer = (
            df.writeStream.foreachBatch(sink_fn)
            .option("checkpointLocation", f"{self.checkpoint_dir}/main")
            .outputMode("append")
        )
        writer = writer.trigger(**trigger)
        return writer.start()
