"""External-service sinks — counterparts of the reference's connector
sink scripts (reference connectors/kinesis_sink:1-14, udp_sink:1-16,
redis_hash_sink:1-14, s3_bucket_sink:1-15,
templates/postgres_insert_sink). Each reference script is one OS
process draining the engine's output into a service client call per
record; the Spark-first analog is ``foreachPartition`` — every
PARTITION opens its own client and drains its rows, so the write path
scales with the executor count and never funnels through the driver
(as TCPSink's batch writes, sinks/__init__.py).

Every sink takes a ``client_factory`` (or ``connection_factory``):
the zero-arg callable each partition invokes to build its client.
Defaults build the real service client (boto3 / redis / psycopg2 /
a UDP socket — deployment dependencies, none shipped in this
sandbox); tests inject factories that record calls to shared storage,
so the executor-side wiring is exercised for real (see
tests/test_connectors.py). Request payloads are built by
golden-config methods mirroring the reference scripts' exact calls.

Delivery: foreachPartition inside foreachBatch is at-least-once under
retry (a re-run partition re-sends its rows) — exactly the reference
connector protocol's guarantee; services with idempotent keys
(s3 put_object, redis hset, kinesis PartitionKey dedup downstream)
absorb replays keyed writes."""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Any, Callable

from wally_spark.sinks import SinkConfig


def _keyed_rows(rows, key_col: str, value_col: str):
    for r in rows:
        d = r.asDict()
        if key_col in d and value_col in d:
            yield str(d[key_col]), d[value_col]
        else:
            # un-keyed rows: JSON-encode the whole row, key by position
            yield "", json.dumps(d, default=str)


@dataclass
class KinesisSink(SinkConfig):
    """reference connectors/kinesis_sink:1-14: per record,
    ``put_record(StreamName=stream, PartitionKey=key, Data=value)``.
    PartitionKey preservation keeps Kinesis shard affinity aligned
    with the pipeline's key_by."""

    stream: str
    key_col: str = "key"
    value_col: str = "value"
    client_factory: Callable[[], Any] | None = None

    def put_request(self, key: str, value) -> dict:
        data = value if isinstance(value, (bytes, bytearray)) else str(value)
        return {
            "StreamName": self.stream,
            "PartitionKey": key,
            "Data": data,
        }

    def _factory(self):
        if self.client_factory is not None:
            return self.client_factory
        import boto3  # deployment dependency

        return lambda: boto3.client("kinesis")

    def write_batch(self, df):
        factory, req = self._factory(), self.put_request
        kc, vc = self.key_col, self.value_col

        def send(rows):
            client = factory()
            for key, value in _keyed_rows(rows, kc, vc):
                client.put_record(**req(key, value))

        df.foreachPartition(send)
        return df

    def write_stream(self, df):
        def handle(batch_df, batch_id):
            self.write_batch(batch_df)

        return df.writeStream.foreachBatch(handle)


@dataclass
class UDPSink(SinkConfig):
    """reference connectors/udp_sink:1-16: each value datagram'd to
    ``host:port``. One socket per partition; rows become datagrams
    (the value column if present, else the JSON row)."""

    host: str
    port: int
    value_col: str = "value"

    def write_batch(self, df):
        host, port, vc = self.host, self.port, self.value_col

        def send(rows):
            import socket

            sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
            try:
                for r in rows:
                    d = r.asDict()
                    v = d.get(vc, None)
                    payload = (
                        bytes(v)
                        if isinstance(v, (bytes, bytearray))
                        else (
                            str(v) if v is not None else json.dumps(d, default=str)
                        ).encode()
                    )
                    sock.sendto(payload, (host, port))
            finally:
                sock.close()

        df.foreachPartition(send)
        return df

    def write_stream(self, df):
        def handle(batch_df, batch_id):
            self.write_batch(batch_df)

        return df.writeStream.foreachBatch(handle)


@dataclass
class RedisHashSink(SinkConfig):
    """reference connectors/redis_hash_sink:1-14: per record,
    ``hset(hash_key, k, v)`` — the engine's keyed output materialized
    as one Redis hash (key → latest value), i.e. a serving-layer
    upsert. Replays overwrite the same field: idempotent."""

    hash_key: str
    host: str = "localhost"
    port: int = 6379
    password: str | None = None
    key_col: str = "key"
    value_col: str = "value"
    client_factory: Callable[[], Any] | None = None

    def command(self, k: str, v) -> tuple:
        return ("hset", self.hash_key, k, v)

    def _factory(self):
        if self.client_factory is not None:
            return self.client_factory
        host, port, password = self.host, self.port, self.password

        def mk():
            from redis import Redis  # deployment dependency

            return Redis(host, int(port), password=password)

        return mk

    def write_batch(self, df):
        factory, hkey = self._factory(), self.hash_key
        kc, vc = self.key_col, self.value_col

        def send(rows):
            client = factory()
            for k, v in _keyed_rows(rows, kc, vc):
                client.hset(hkey, k, v)

        df.foreachPartition(send)
        return df

    def write_stream(self, df):
        def handle(batch_df, batch_id):
            self.write_batch(batch_df)

        return df.writeStream.foreachBatch(handle)


@dataclass
class S3BucketSink(SinkConfig):
    """reference connectors/s3_bucket_sink:1-15: per record,
    ``put_object(Bucket, Key, Body, ACL)``. Two faces:

    - OBJECT mode (reference parity, ``write_batch``/``write_stream``):
      each keyed row becomes one S3 object — the per-record contract
      the reference script implements. Idempotent under replay (same
      key overwrites).
    - PATH mode (``bulk_path()`` + Spark-native writers): S3 is just a
      path scheme to Spark — ``df.write.parquet(sink.bulk_path())``
      with the hadoop-aws jar is the 100 TB route (columnar, committed
      via the S3A committer, no per-row PUT cost). See
      docs/TUNING.md §S3.
    """

    bucket: str
    prefix: str = ""
    acl: str = "authenticated-read"
    key_col: str = "key"
    value_col: str = "value"
    scheme: str = "s3a"
    client_factory: Callable[[], Any] | None = None

    def bulk_path(self) -> str:
        base = f"{self.scheme}://{self.bucket}"
        return f"{base}/{self.prefix}" if self.prefix else base

    def put_request(self, key: str, body) -> dict:
        data = body if isinstance(body, (bytes, bytearray)) else str(body)
        obj_key = f"{self.prefix}/{key}" if self.prefix else key
        return {
            "Bucket": self.bucket,
            "Key": obj_key,
            "Body": data,
            "ACL": self.acl,
        }

    def _factory(self):
        if self.client_factory is not None:
            return self.client_factory
        import boto3  # deployment dependency

        return lambda: boto3.client("s3")

    def write_batch(self, df):
        factory, req = self._factory(), self.put_request
        kc, vc = self.key_col, self.value_col

        def send(rows):
            client = factory()
            for key, body in _keyed_rows(rows, kc, vc):
                client.put_object(**req(key, body))

        df.foreachPartition(send)
        return df

    def write_stream(self, df):
        def handle(batch_df, batch_id):
            self.write_batch(batch_df)

        return df.writeStream.foreachBatch(handle)


@dataclass
class PostgresInsertSink(SinkConfig):
    """reference connectors/templates/postgres_insert_sink: per
    record, ``INSERT INTO count (key, value) VALUES (%s, %s)`` on an
    autocommit connection. ``connection_factory`` returns any DB-API
    connection (tests use sqlite3 — a real DB-API engine — so the
    executor-side insert path runs for real; live runs build psycopg2
    from ``connection``). Rows batch through ``executemany`` per
    partition instead of the reference's one-round-trip-per-record
    loop."""

    connection: str = ""
    table: str = "count"
    key_col: str = "key"
    value_col: str = "value"
    paramstyle: str = "%s"
    connection_factory: Callable[[], Any] | None = None

    def insert_sql(self) -> str:
        p = self.paramstyle
        return (
            f"INSERT INTO {self.table} ({self.key_col}, {self.value_col}) "
            f"VALUES ({p}, {p})"
        )

    def _factory(self):
        if self.connection_factory is not None:
            return self.connection_factory
        conn_str = self.connection

        def mk():
            import psycopg2  # deployment dependency
            import psycopg2.extensions

            conn = psycopg2.connect(conn_str)
            conn.set_isolation_level(
                psycopg2.extensions.ISOLATION_LEVEL_AUTOCOMMIT
            )
            return conn

        return mk

    def write_batch(self, df):
        factory, sql = self._factory(), self.insert_sql()
        kc, vc = self.key_col, self.value_col

        def send(rows):
            pairs = list(_keyed_rows(rows, kc, vc))
            if not pairs:
                return
            conn = factory()
            try:
                cur = conn.cursor()
                cur.executemany(sql, pairs)
                conn.commit()
            finally:
                conn.close()

        df.foreachPartition(send)
        return df

    def write_stream(self, df):
        def handle(batch_df, batch_id):
            self.write_batch(batch_df)

        return df.writeStream.foreachBatch(handle)
