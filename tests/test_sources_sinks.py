"""Source/sink configs and the frame codec."""

from __future__ import annotations

import json
import os
import socket
import threading
import time
import uuid

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_SMALL
from wally_spark import api
from wally_spark.functions import cosine_similarity, decode_frame, encode_frame
from wally_spark.sinks import MemorySink, ParquetSink, TCPSink
from wally_spark.sources import (
    CSVSourceConfig,
    DataFrameSource,
    GenSourceConfig,
    JSONSourceConfig,
    KafkaSourceConfig,
    ParquetSourceConfig,
    SocketSourceConfig,
)
from wally_spark.tables import load_tables


def test_parquet_source_roundtrip(spark, tmp_path):
    cfg = ParquetSourceConfig("events", f"{SF_SMALL}/events.parquet")
    df = cfg.read_batch(spark)
    assert df.count() > 0 and "ts" in df.columns


def test_csv_json_source_roundtrip(spark, tmp_path):
    ev = load_tables(spark, SF_SMALL)["events"].limit(100)
    csv_path, json_path = f"{tmp_path}/ev_csv", f"{tmp_path}/ev_json"
    ev.select("event_id", "event_type", "value").write.option("header", "true").csv(
        csv_path
    )
    ev.select("event_id", "event_type", "value").write.json(json_path)
    assert CSVSourceConfig("c", csv_path).read_batch(spark).count() == 100
    assert JSONSourceConfig("j", json_path).read_batch(spark).count() == 100


def test_parquet_sink_batch_and_stream(spark, tmp_path):
    ev = load_tables(spark, SF_SMALL)["events"].select("event_id", "value")
    out = f"{tmp_path}/out_parquet"
    ParquetSink(out).write_batch(ev)
    assert spark.read.parquet(out).count() == ev.count()


def test_tcp_sink_dry_run(spark):
    ev = load_tables(spark, SF_SMALL)["events"].limit(5)
    sink = TCPSink("localhost", 9999, dry_run=True)
    sink.write_batch(ev)
    assert len(sink.captured) == 5


def test_tcp_sink_real_socket(spark):
    """foreachPartition socket write against an in-test TCP server."""
    received = []

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(8)
    port = srv.getsockname()[1]
    stop = threading.Event()

    def serve():
        srv.settimeout(10)
        while not stop.is_set():
            try:
                conn, _ = srv.accept()
            except (socket.timeout, OSError):
                break
            with conn:
                buf = b""
                while chunk := conn.recv(65536):
                    buf += chunk
                received.extend(json.loads(l) for l in buf.splitlines())

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    ev = load_tables(spark, SF_SMALL)["events"].limit(7).coalesce(1)
    TCPSink("127.0.0.1", port).write_batch(ev.select("event_id", "value"))
    time.sleep(0.5)
    stop.set()
    srv.close()
    t.join(timeout=5)
    assert len(received) == 7 and all("event_id" in r for r in received)


def test_socket_source_stream(spark):
    """Spark socket source fed by an in-test line server."""
    lines = [f"u{i}|{i * 1.5}" for i in range(10)]

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]

    def serve():
        srv.settimeout(30)
        try:
            conn, _ = srv.accept()
            with conn:
                conn.sendall(("\n".join(lines) + "\n").encode())
                time.sleep(8)
        except (socket.timeout, OSError):
            pass

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    cfg = SocketSourceConfig(
        "s",
        "127.0.0.1",
        port,
        decoder={
            "user": F.split(F.col("value"), r"\|")[0],
            "amount": F.split(F.col("value"), r"\|")[1].cast("double"),
        },
    )
    name = f"t_{uuid.uuid4().hex[:8]}"
    q = (
        cfg.read_stream(spark)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    deadline = time.time() + 30
    got = 0
    while time.time() < deadline:
        got = spark.sql(f"SELECT count(*) c FROM {name}").collect()[0]["c"]
        if got >= 10:
            break
        time.sleep(0.5)
    q.stop()
    srv.close()
    assert got >= 10
    row = spark.sql(f"SELECT * FROM {name} WHERE user = 'u4'").collect()[0]
    assert row["amount"] == 6.0


def test_gen_source_stream_rate(spark):
    class Gen:
        def initial_value(self):
            return {"n": 0}

        def apply(self, last):
            return {"n": last["n"] + 1}

    cfg = GenSourceConfig("g", Gen(), rows_per_second=200)
    name = f"t_{uuid.uuid4().hex[:8]}"
    q = (
        cfg.read_stream(spark)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    deadline = time.time() + 20
    got = 0
    while time.time() < deadline:
        got = spark.sql(f"SELECT count(*) c FROM {name}").collect()[0]["c"]
        if got >= 20:
            break
        time.sleep(0.5)
    q.stop()
    assert got >= 20


def test_kafka_source_config_only():
    cfg = KafkaSourceConfig("k", topic="events", brokers="b1:9092,b2:9092")
    opts = cfg.reader_options()
    assert opts["subscribe"] == "events"
    assert opts["kafka.bootstrap.servers"] == "b1:9092,b2:9092"


def test_frame_codec_roundtrip(spark):
    df = spark.createDataFrame(
        [(1700000000123, "user-1", "hello wally"), (0, "", "x")],
        "t long, k string, p string",
    )
    framed = df.select(
        "t",
        "k",
        "p",
        encode_frame(F.col("t"), F.col("k"), F.col("p").cast("binary")).alias("frame"),
    )
    decoded = framed.select(
        "t", "k", "p", decode_frame(F.col("frame")).alias("d")
    ).select("t", "k", "p", "d.event_time_ms", "d.key", F.col("d.payload").cast("string").alias("payload"))
    for r in decoded.collect():
        assert r["event_time_ms"] == r["t"]
        assert r["key"] == r["k"]
        assert r["payload"] == r["p"]


def test_vector_helpers(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0])], "a array<double>, b array<double>"
    )
    got = [round(r[0], 6) for r in df.select(cosine_similarity(F.col("a"), F.col("b"))).collect()]
    assert got == [1.0, 0.0]


def test_parquet_sink_partitioned(spark, tmp_path):
    ev = load_tables(spark, SF_SMALL)["events"].select("event_id", "event_type", "value")
    out = f"{tmp_path}/part_out"
    ParquetSink(out, partition_by=("event_type",)).write_batch(ev)
    import os

    parts = [d for d in os.listdir(out) if d.startswith("event_type=")]
    assert len(parts) == 5
    # partition pruning: reading one partition only scans that directory
    one = spark.read.parquet(out).where(F.col("event_type") == "view")
    assert one.count() == ev.where(F.col("event_type") == "view").count()


def test_gen_source_stream_value_at(spark):
    """Gen with value_at(n): rate ticks map through the generator."""

    class Gen:
        def initial_value(self):
            return {"n": 0, "sq": 0}

        def apply(self, last):
            n = last["n"] + 1
            return {"n": n, "sq": n * n}

        def value_at(self, i):
            return {"n": i, "sq": i * i}

    cfg = GenSourceConfig("g", Gen(), rows_per_second=100)
    name = f"t_{uuid.uuid4().hex[:8]}"
    q = (
        cfg.read_stream(spark)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    deadline = time.time() + 20
    got = 0
    while time.time() < deadline:
        got = spark.sql(f"SELECT count(*) c FROM {name}").collect()[0]["c"]
        if got >= 10:
            break
        time.sleep(0.5)
    q.stop()
    assert got >= 10
    bad = spark.sql(f"SELECT count(*) c FROM {name} WHERE sq <> n * n").collect()[0]["c"]
    assert bad == 0


def test_tcp_sink_framed_stream_real_socket(spark, tmp_path):
    """Stream-mode TCP sink sending the reference's length-prefixed
    wire format (encode_frame) over a real socket; the server parses
    frames byte-for-byte per ConnectorEncoder's layout
    (machida/lib/wallaroo/__init__.py:432-454)."""
    chunks = []
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(8)
    port = srv.getsockname()[1]
    stop = threading.Event()

    def serve():
        srv.settimeout(15)
        while not stop.is_set():
            try:
                conn, _ = srv.accept()
            except (socket.timeout, OSError):
                break
            with conn:
                buf = b""
                while chunk := conn.recv(65536):
                    buf += chunk
                chunks.append(buf)

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    ev = (
        load_tables(spark, SF_SMALL)["events"]
        .orderBy("event_id")
        .limit(9)
        .select(
            (F.unix_timestamp("ts") * 1000).alias("t_ms"),
            F.col("user_id").cast("string").alias("key"),
            F.col("event_type").cast("binary").alias("payload"),
        )
    )
    src = f"{tmp_path}/framed_src"
    ev.coalesce(1).write.mode("overwrite").parquet(src)
    sdf = spark.readStream.schema(ev.schema).parquet(src)
    framed = sdf.select(
        encode_frame(F.col("t_ms"), F.col("key"), F.col("payload")).alias("frame")
    ).coalesce(1)
    q = (
        TCPSink("127.0.0.1", port, framed=True)
        .write_stream(framed)
        .option("checkpointLocation", f"{tmp_path}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    time.sleep(0.5)
    stop.set()
    srv.close()
    t.join(timeout=5)

    frames = []
    for buf in chunks:
        while buf:
            total = int.from_bytes(buf[:4], "big")
            body, buf = buf[4 : 4 + total], buf[4 + total :]
            t_ms = int.from_bytes(body[:8], "big")
            klen = int.from_bytes(body[8:12], "big")
            key = body[12 : 12 + klen].decode()
            payload = body[12 + klen :].decode()
            frames.append((t_ms, key, payload))
    expected = {
        (r["t_ms"], r["key"], bytes(r["payload"]).decode()) for r in ev.collect()
    }
    assert len(frames) == 9 and set(frames) == expected


def test_tcp_sink_json_stream_real_socket(spark, tmp_path):
    """Stream-mode TCP sink in its default JSON wire mode over a real
    socket. Each row arrives as one ``to_json`` line with null fields
    kept, and each non-empty micro-batch is sent from the driver on
    one connection; an empty micro-batch opens none. Values beyond
    JSON's own types render as ``to_json`` renders them: timestamps
    ISO-8601 in the session time zone (``2024-01-01T00:00:01.500Z``)
    and binary as base64 (the per-partition Python encoder this
    replaced sent ``str()`` of the value)."""
    conns = []
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(8)
    port = srv.getsockname()[1]

    def serve():
        srv.settimeout(15)
        while True:
            try:
                conn, _ = srv.accept()
            except (socket.timeout, OSError):
                break
            with conn:
                buf = b""
                while chunk := conn.recv(65536):
                    buf += chunk
                conns.append(buf)

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    schema = "id bigint, name string, flag boolean, score double, note string"
    batches = [
        [(1, "a", True, 1.5, None), (2, None, False, None, "x")],
        [],
        [(3, "c", None, -0.25, None)],
    ]
    src = tmp_path / "json_src"
    src.mkdir()
    for i, rows in enumerate(batches):
        stage = tmp_path / f"_stage{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(stage))
        part = next(stage.glob("*.parquet"))
        dst = src / f"batch_{i:03d}.parquet"
        part.rename(dst)
        os.utime(dst, (1_000_000 + i * 100, 1_000_000 + i * 100))
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        TCPSink("127.0.0.1", port)
        .write_stream(sdf)
        .option("checkpointLocation", f"{tmp_path}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    time.sleep(0.5)
    srv.close()
    t.join(timeout=20)
    assert not t.is_alive()

    fed = [p["numInputRows"] for p in q.recentProgress]
    assert fed == [2, 0, 1], fed
    assert len(conns) == 2
    got = sorted(
        (json.loads(line) for buf in conns for line in buf.splitlines()),
        key=lambda r: r["id"],
    )
    cols = ["id", "name", "flag", "score", "note"]
    assert got == [dict(zip(cols, r)) for b in batches for r in b]


def test_kafka_connector_contract():
    """No broker exists in this container, so the option-building is
    pinned against golden configs for BOTH directions (reference
    CustomKafkaSource/SinkCLIParser, machida __init__.py:548-600)."""
    from wally_spark.sinks import KafkaSink

    src = KafkaSourceConfig(
        "k", topic="events", brokers="b1:9092,b2:9092", starting_offsets="latest"
    )
    assert src.reader_options() == {
        "kafka.bootstrap.servers": "b1:9092,b2:9092",
        "subscribe": "events",
        "startingOffsets": "latest",
    }
    sink = KafkaSink(topic="alerts", brokers="b1:9092")
    assert sink.writer_options() == {
        "kafka.bootstrap.servers": "b1:9092",
        "topic": "alerts",
    }


@pytest.mark.skipif(
    not os.environ.get("WALLY_KAFKA_BOOTSTRAP"),
    reason="set WALLY_KAFKA_BOOTSTRAP=host:port (broker + kafka connector "
    "jar required) to run the live Kafka round-trip",
)
def test_kafka_roundtrip_e2e(spark):
    """Live round-trip against a real broker: KafkaSink.write_batch →
    KafkaSourceConfig.read_batch on a fresh topic, values intact. The
    golden-config contract tests above pin the option-building in
    broker-less environments; this upgrades coverage for free wherever
    a broker exists."""
    from wally_spark.sinks import KafkaSink

    brokers = os.environ["WALLY_KAFKA_BOOTSTRAP"]
    topic = f"wally_e2e_{uuid.uuid4().hex[:8]}"
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, s string"
    )
    KafkaSink(topic=topic, brokers=brokers).write_batch(df)
    out = KafkaSourceConfig("k", topic=topic, brokers=brokers).read_batch(spark)
    got = sorted(
        (json.loads(r["value"])["id"], json.loads(r["value"])["s"])
        for r in out.collect()
    )
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_kafka_sink_value_encoding(spark):
    """Kafka messages carry one JSON `value` column (string) — the
    shape format('kafka') requires."""
    from wally_spark.sinks import KafkaSink

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    enc = KafkaSink("t", "b:9092")._encode(df)
    assert enc.columns == ["value"]
    assert dict(enc.dtypes)["value"] == "string"
    vals = sorted(json.loads(r["value"])["s"] for r in enc.collect())
    assert vals == ["a", "b"]


def test_orc_roundtrip_batch_and_stream(spark, tmp_path):
    """ORC source/sink: batch write → batch read → file-stream read all
    preserve rows and schema (the warehouse-interchange format next to
    parquet; Spark-native, no external package)."""
    from wally_spark.sinks import ORCSink
    from wally_spark.sources import ORCSourceConfig
    from wally_spark.tables import load_tables

    from tests.conftest import SF_SMALL

    ev = load_tables(spark, SF_SMALL)["events"].select(
        "event_id", "user_id", "event_type", "value"
    )
    path = f"{tmp_path}/orc"
    ORCSink(path=path).write_batch(ev)

    src = ORCSourceConfig(name="ev", path=path)
    back = src.read_batch(spark)
    assert back.schema == ev.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, ev.collect()))

    out = f"{tmp_path}/out"
    q = (
        ORCSink(path=out, checkpoint=f"{tmp_path}/ckpt")
        .write_stream(src.read_stream(spark))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.read.orc(out)
    assert sorted(map(tuple, streamed.collect())) == sorted(map(tuple, ev.collect()))


def test_avro_roundtrip_batch_and_stream(spark, tmp_path):
    """Avro source/sink round-trip — env-gated like the Kafka e2e: the
    spark-avro module is an external jar the sandbox doesn't ship, so
    this skips unless the datasource resolves; wherever it does, the
    same batch/stream contract as the ORC test is asserted."""
    import pytest

    from wally_spark.sinks import AvroSink
    from wally_spark.sources import AvroSourceConfig
    from wally_spark.tables import load_tables

    from tests.conftest import SF_SMALL

    ev = load_tables(spark, SF_SMALL)["events"].select(
        "event_id", "user_id", "event_type", "value"
    )
    path = f"{tmp_path}/avro"
    try:
        AvroSink(path=path).write_batch(ev)
    except Exception as e:  # noqa: BLE001 — availability probe
        if "Failed to find data source: avro" in str(e):
            pytest.skip("spark-avro module not deployed in this env")
        raise

    src = AvroSourceConfig(name="ev", path=path)
    back = src.read_batch(spark)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, ev.collect()))

    out = f"{tmp_path}/out"
    q = (
        AvroSink(path=out, checkpoint=f"{tmp_path}/ckpt")
        .write_stream(src.read_stream(spark))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.read.format("avro").load(out)
    assert sorted(map(tuple, streamed.collect())) == sorted(map(tuple, ev.collect()))
