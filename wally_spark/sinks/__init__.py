"""Sink configs — counterpart of the reference's TCPSinkConfig /
Kafka sinks (machida/__init__.py:537-598). Batch sinks write once;
stream sinks configure a writeStream."""

from __future__ import annotations

from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


class SinkConfig:
    def write_batch(self, df: DataFrame):
        raise NotImplementedError

    def write_stream(self, df: DataFrame):
        raise NotImplementedError


@dataclass
class ReturnSink(SinkConfig):
    """Batch: hand the result DataFrame back to the caller (the
    default for embedding the engine in a larger job)."""

    def write_batch(self, df):
        return df


@dataclass
class MemorySink(SinkConfig):
    """Streaming test sink: results land in an in-memory table."""

    query_name: str
    output_mode: str = "append"

    def write_stream(self, df):
        return (
            df.writeStream.format("memory")
            .queryName(self.query_name)
            .outputMode(self.output_mode)
        )


@dataclass
class ParquetSink(SinkConfig):
    path: str
    checkpoint: str | None = None
    partition_by: tuple[str, ...] = ()
    mode: str = "overwrite"

    def write_batch(self, df):
        w = df.write.mode(self.mode)
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        w.parquet(self.path)
        return df

    def write_stream(self, df):
        w = df.writeStream.format("parquet").option("path", self.path)
        if self.checkpoint:
            w = w.option("checkpointLocation", self.checkpoint)
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        return w


@dataclass
class ORCSink(SinkConfig):
    """ORC columnar sink (batch + stream) — the warehouse-interchange
    twin of ParquetSink; Spark-native, same partitioning/checkpoint
    contract."""

    path: str
    checkpoint: str | None = None
    partition_by: tuple[str, ...] = ()
    mode: str = "overwrite"

    def write_batch(self, df):
        w = df.write.mode(self.mode)
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        w.orc(self.path)
        return df

    def write_stream(self, df):
        w = df.writeStream.format("orc").option("path", self.path)
        if self.checkpoint:
            w = w.option("checkpointLocation", self.checkpoint)
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        return w


@dataclass
class AvroSink(SinkConfig):
    """Avro row-file sink (batch + stream) — same partitioning and
    checkpoint contract as ParquetSink/ORCSink; requires the
    spark-avro module jar at deployment (see AvroSourceConfig)."""

    path: str
    checkpoint: str | None = None
    partition_by: tuple[str, ...] = ()
    mode: str = "overwrite"

    def write_batch(self, df):
        w = df.write.mode(self.mode).format("avro")
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        w.save(self.path)
        return df

    def write_stream(self, df):
        w = df.writeStream.format("avro").option("path", self.path)
        if self.checkpoint:
            w = w.option("checkpointLocation", self.checkpoint)
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        return w


@dataclass
class ConsoleSink(SinkConfig):
    output_mode: str = "append"

    def write_batch(self, df):
        df.show(truncate=False)
        return df

    def write_stream(self, df):
        return df.writeStream.format("console").outputMode(self.output_mode)


@dataclass
class KafkaSink(SinkConfig):
    """Reference Kafka sink analog (CustomKafkaSinkCLIParser,
    machida/lib/wallaroo/__init__.py:575-600); encodes rows as JSON
    values. ``writer_options`` is the single source of truth for the
    connector options — pinned against golden configs in
    tests/test_sources_sinks.py since no broker exists in this
    container."""

    topic: str
    brokers: str
    checkpoint: str | None = None

    def writer_options(self) -> dict[str, str]:
        return {
            "kafka.bootstrap.servers": self.brokers,
            "topic": self.topic,
        }

    def _encode(self, df):
        return df.select(
            F.to_json(F.struct(*df.columns)).alias("value")
        )

    def write_batch(self, df):
        w = self._encode(df).write.format("kafka")
        for k, v in self.writer_options().items():
            w = w.option(k, v)
        w.save()
        return df

    def write_stream(self, df):
        w = self._encode(df).writeStream.format("kafka")
        for k, v in self.writer_options().items():
            w = w.option(k, v)
        if self.checkpoint:
            w = w.option("checkpointLocation", self.checkpoint)
        return w


@dataclass
class TCPSink(SinkConfig):
    """TCPSinkConfig analog (reference lib/wallaroo/core/sink/tcp_sink).
    Rows are encoded in Catalyst, in one of two wire modes:
    newline-framed JSON (default: ``to_json`` over every column with
    nulls kept, so timestamps render ISO-8601 and binary base64), or
    ``framed=True`` sending a pre-encoded binary ``frame`` column
    (functions/framing.encode_frame, the reference's length-prefixed
    wire format) as raw bytes.

    A batch write sends per partition, each task on its own
    connection. A stream collects each micro-batch's encoded column
    and sends it from the driver, one connection per non-empty
    micro-batch: a per-partition Python task would cost more than the
    encoded rows of a latency-bound micro-batch. Fan-out at volume
    belongs to KafkaSink, the external sinks and the ``wally_tcp``
    native sink. ``dry_run`` collects the rows locally for tests
    instead of opening sockets. Real-socket round-trips are tested in
    tests/test_sources_sinks.py."""

    host: str
    port: int
    dry_run: bool = False
    framed: bool = False
    captured: list = field(default_factory=list)

    def _encode(self, df):
        if self.framed:
            line = F.col("frame")
        else:
            line = F.concat(
                F.to_json(F.struct(*df.columns), {"ignoreNullFields": "false"}),
                F.lit("\n"),
            ).cast("binary")
        return df.select(line.alias("payload"))

    def _send(self, rows):
        import socket

        payload = b"".join(r[0] for r in rows)
        if not payload:
            return
        with socket.create_connection((self.host, self.port), timeout=10) as s:
            s.sendall(payload)

    def write_batch(self, df):
        if self.dry_run:
            self.captured.extend(df.collect())
            return df
        self._encode(df).foreachPartition(self._send)
        return df

    def write_stream(self, df):
        def handle(batch_df, batch_id):
            if self.dry_run:
                self.captured.extend(batch_df.collect())
            else:
                self._send(self._encode(batch_df).collect())

        return df.writeStream.foreachBatch(handle)


@dataclass
class IdempotentParquetSink(SinkConfig):
    """Exactly-once streaming parquet sink: each micro-batch writes to
    a batchId-keyed subdirectory and skips batches already present, so
    replays after failure don't duplicate output (the engine-side
    guarantee the reference's at-least-once connector protocol needs a
    dedup step for; connectors.py:270 MultiSourceConnector)."""

    path: str
    checkpoint: str

    def write_stream(self, df):
        import os

        def handle(batch_df, batch_id):
            dst = os.path.join(self.path, f"batch_id={batch_id}")
            if os.path.exists(os.path.join(dst, "_SUCCESS")):
                return  # replayed batch: already committed
            batch_df.write.mode("overwrite").parquet(dst)

        return df.writeStream.foreachBatch(handle).option(
            "checkpointLocation", self.checkpoint
        )
