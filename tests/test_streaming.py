"""Structured Streaming: upsert cache semantics + windowed density."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType, TimestampType,
)

from geomesa_spark.streaming.upsert import upsert_cache, windowed_density

_IN_SCHEMA = StructType([
    StructField("feature_id", StringType()),
    StructField("ts", LongType()),
    StructField("lon", DoubleType()),
    StructField("lat", DoubleType()),
])


def _write_batch(path, rows, name):
    with open(os.path.join(path, f"{name}.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_upsert_cache_event_time_ordering(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_batch(src, [
        {"feature_id": "a", "ts": 100, "lon": 1.0, "lat": 2.0},
        {"feature_id": "a", "ts": 300, "lon": 3.0, "lat": 4.0},
        {"feature_id": "a", "ts": 200, "lon": 9.0, "lat": 9.0},  # stale
        {"feature_id": "b", "ts": 100, "lon": 5.0, "lat": 6.0},
        {"feature_id": "b", "ts": 150, "lon": None, "lat": None},  # delete
    ], "b0")

    stream = (spark.readStream.schema(_IN_SCHEMA).json(src))
    out = upsert_cache(stream)
    q = (out.writeStream.format("memory").queryName("upserts")
            .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(40)  # stateful availableNow never self-terminates
    q.stop()

    rows = {(r["feature_id"], r["ts"]): r["op"]
            for r in spark.sql("select * from upserts").collect()}
    assert rows[("a", 100)] == "upsert"
    assert rows[("a", 300)] == "upsert"
    assert rows[("a", 200)] == "reject_stale"  # event-time ordering
    assert rows[("b", 100)] == "upsert"
    assert rows[("b", 150)] == "delete"


def test_windowed_density_stream(spark, tmp_path):
    src = str(tmp_path / "src2")
    os.makedirs(src)
    base = "2024-01-01T00:00:"
    _write_batch(src, [
        {"feature_id": "x", "ts": f"{base}05", "lon": 10.5, "lat": 20.5},
        {"feature_id": "y", "ts": f"{base}10", "lon": 10.7, "lat": 20.9},
        {"feature_id": "z", "ts": f"{base}50", "lon": -170.2, "lat": -33.0},
    ], "b0")
    schema = StructType([
        StructField("feature_id", StringType()),
        StructField("ts", StringType()),
        StructField("lon", DoubleType()),
        StructField("lat", DoubleType()),
    ])
    stream = (spark.readStream.schema(schema).json(src)
                   .withColumn("event_time", F.to_timestamp("ts")))
    dens = windowed_density(stream, window="1 minute")
    # complete mode: append would hold windows until the watermark passes,
    # which never happens in a single availableNow batch
    q = (dens.writeStream.format("memory").queryName("dens")
             .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(40)  # stateful availableNow never self-terminates
    q.stop()
    got = {(r["i"], r["j"]): r["weight"] for r in spark.sql("select * from dens").collect()}
    # both (10.x, 20.x) points share the 1-deg tile (190, 110)
    assert got[(190, 110)] == 2
    assert got[(9, 57)] == 1


def test_lambda_store_merge_persist(spark, tmp_path):
    from geomesa_spark.streaming.lambda_store import LambdaStore

    path = str(tmp_path / "lambda")
    store = LambdaStore(spark, path)

    batch1 = spark.createDataFrame(
        [("a", 100, 1.0), ("b", 100, 2.0)], "feature_id string, ts long, lon double")
    store.persist(batch1)

    # transient newer update for a, tombstone for b, new c
    transient = spark.createDataFrame(
        [("a", 200, 9.0), ("b", 300, None), ("c", 150, 3.0)],
        "feature_id string, ts long, lon double")
    view = {r["feature_id"]: (r["ts"], r["lon"])
            for r in store.merged_view(transient).collect()}
    assert view == {"a": (200, 9.0), "c": (150, 3.0)}  # b tombstoned

    # persisting folds + compacts: persistent-only view now matches
    store.persist(transient)
    view2 = {r["feature_id"]: (r["ts"], r["lon"])
             for r in store.merged_view().collect()}
    assert view2 == view

    # stale transient update loses to the persisted newer state
    stale = spark.createDataFrame([("a", 150, 0.0)],
                                  "feature_id string, ts long, lon double")
    view3 = {r["feature_id"]: (r["ts"], r["lon"])
             for r in store.merged_view(stale).collect()}
    assert view3["a"] == (200, 9.0)


def test_ttl_by_cql_resolution(spark):
    """Per-CQL dynamic expiry: first matching predicate wins, fallback to
    the default (KafkaDataStoreParams.scala:208-226 semantics)."""
    from geomesa_spark.functions import register_functions
    from geomesa_spark.streaming.upsert import ttl_by_cql_expr

    register_functions(spark)
    df = (spark.createDataFrame(
            [("hot", 0.5, 0.5), ("warm", 5.0, 5.0), ("cold", 50.0, 50.0)],
            "feature_id string, lon double, lat double")
          .withColumn("geom", F.expr("st_makePoint(lon, lat)")))
    rules = [("BBOX(geom, 0, 0, 1, 1)", 1000),        # hot zone: 1 s
             ("BBOX(geom, 0, 0, 10, 10)", 60000)]     # warm zone: 1 min
    out = {r["feature_id"]: r["ttl"]
           for r in df.withColumn("ttl", ttl_by_cql_expr(rules, 3_600_000))
                      .collect()}
    assert out == {"hot": 1000, "warm": 60000, "cold": 3_600_000}


def test_upsert_cache_with_dynamic_ttl_runs(spark, tmp_path):
    """End-to-end: the dynamic-TTL cache processes a batch and emits the
    same change feed (timeout wiring exercised; actual expiry is a
    processing-time effect not assertable in availableNow mode)."""
    from geomesa_spark.functions import register_functions

    register_functions(spark)
    src = str(tmp_path / "src_ttl")
    os.makedirs(src)
    _write_batch(src, [
        {"feature_id": "hot", "ts": 100, "lon": 0.5, "lat": 0.5},
        {"feature_id": "cold", "ts": 100, "lon": 50.0, "lat": 50.0},
        {"feature_id": "hot", "ts": 50, "lon": 0.6, "lat": 0.6},  # stale
    ], "b0")
    stream = spark.readStream.schema(_IN_SCHEMA).json(src)
    out = upsert_cache(stream, ttl_ms=3_600_000,
                       ttl_by_cql=[("BBOX(geom, 0, 0, 1, 1)", 1000)])
    q = (out.writeStream.format("memory").queryName("ttl_upserts")
            .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(40)  # stateful availableNow never self-terminates
    q.stop()
    rows = {(r["feature_id"], r["ts"]): r["op"]
            for r in spark.sql("select * from ttl_upserts").collect()}
    assert rows[("hot", 100)] == "upsert"
    assert rows[("hot", 50)] == "reject_stale"
    assert rows[("cold", 100)] == "upsert"


def test_upsert_cache_socket_source_equivalence(spark, tmp_path):
    """Kafka-wire analog: the same keyed message stream delivered over a
    TCP socket source (one JSON message per line — the KafkaDataStore
    upsert/delete-by-id wire semantics, KafkaFeatureCache.scala:24-31)
    must produce exactly the change feed the file-source run produces.
    No broker ships in this container; the socket source exercises the
    same row-at-a-time network ingestion path (readStream.format('kafka')
    differs only in the source config + key/value columns)."""
    import socket
    import threading

    msgs = [
        {"feature_id": "a", "ts": 100, "lon": 1.0, "lat": 2.0},
        {"feature_id": "a", "ts": 300, "lon": 3.0, "lat": 4.0},
        {"feature_id": "a", "ts": 200, "lon": 9.0, "lat": 9.0},  # stale
        {"feature_id": "b", "ts": 100, "lon": 5.0, "lat": 6.0},
        {"feature_id": "b", "ts": 150, "lon": None, "lat": None},  # delete
    ]

    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    port = server.getsockname()[1]
    server.listen(1)
    stop_evt = threading.Event()

    def serve():
        conn, _ = server.accept()
        with conn:
            payload = "".join(json.dumps(m) + "\n" for m in msgs)
            conn.sendall(payload.encode())
            stop_evt.wait(60)  # keep the pipe open until the query stops

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    raw = (spark.readStream.format("socket")
           .option("host", "127.0.0.1").option("port", port).load())
    parsed = (raw.select(F.from_json("value", _IN_SCHEMA).alias("m"))
                 .select("m.*"))
    out = upsert_cache(parsed)
    q = (out.writeStream.format("memory").queryName("sock_upserts")
            .outputMode("append").start())
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.sql("select * from sock_upserts").count() >= len(msgs):
                break
            time.sleep(1)
    finally:
        stop_evt.set()
        q.stop()
        server.close()

    rows = {(r["feature_id"], r["ts"]): r["op"]
            for r in spark.sql("select * from sock_upserts").collect()}
    expected = {("a", 100): "upsert", ("a", 300): "upsert",
                ("a", 200): "reject_stale", ("b", 100): "upsert",
                ("b", 150): "delete"}
    assert rows == expected  # identical change feed to the file-source run

    # final live state: last op per id — a alive at ts 300, b deleted
    last = {}
    for (fid, ts), op in sorted(rows.items(), key=lambda kv: kv[0][1]):
        last[fid] = (ts, op)
    assert last == {"a": (300, "upsert"), "b": (150, "delete")}


def test_streaming_sessions(spark, tmp_path):
    from geomesa_spark.streaming.upsert import streaming_sessions

    src = str(tmp_path / "src_sess")
    os.makedirs(src)
    _write_batch(src, [
        # user u1: two events 10 s apart (one session), one 10 min later
        {"feature_id": "u1", "ts": "2024-01-01T00:00:00", "lon": 0.0, "lat": 0.0},
        {"feature_id": "u1", "ts": "2024-01-01T00:00:10", "lon": 0.0, "lat": 0.0},
        {"feature_id": "u1", "ts": "2024-01-01T00:10:00", "lon": 0.0, "lat": 0.0},
        {"feature_id": "u2", "ts": "2024-01-01T00:00:30", "lon": 0.0, "lat": 0.0},
    ], "b0")
    schema = StructType([
        StructField("feature_id", StringType()),
        StructField("ts", StringType()),
        StructField("lon", DoubleType()),
        StructField("lat", DoubleType()),
    ])
    stream = (spark.readStream.schema(schema).json(src)
                   .withColumn("event_time", F.to_timestamp("ts")))
    sess = streaming_sessions(stream, key_col="feature_id", gap="1 minute")
    q = (sess.writeStream.format("memory").queryName("sess")
             .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(40)
    q.stop()
    got = {(r["feature_id"], str(r["t_start"])): r["n_events"]
           for r in spark.sql("select * from sess").collect()}
    assert got[("u1", "2024-01-01 00:00:00")] == 2   # merged 0s+10s
    assert got[("u1", "2024-01-01 00:10:00")] == 1   # > 1 min gap -> new
    assert got[("u2", "2024-01-01 00:00:30")] == 1


def test_stream_dedup_exact(spark, tmp_path):
    from geomesa_spark.streaming.dedup import stream_dedup

    src = str(tmp_path / "src_dd")
    os.makedirs(src)
    _write_batch(src, [
        {"feature_id": "a", "ts": 100, "lon": 1.0, "lat": 2.0},
        {"feature_id": "b", "ts": 110, "lon": 1.0, "lat": 2.0},  # dup content
        {"feature_id": "c", "ts": 120, "lon": 3.0, "lat": 4.0},
    ], "b0")
    _write_batch(src, [
        {"feature_id": "d", "ts": 130, "lon": 3.0, "lat": 4.0},  # dup content
        {"feature_id": "e", "ts": 140, "lon": 5.0, "lat": 6.0},
    ], "b1")

    stream = (spark.readStream.schema(_IN_SCHEMA).option("maxFilesPerTrigger", 1)
                   .json(src)
                   .withColumn("ts", F.timestamp_seconds(F.col("ts"))))
    out = stream_dedup(stream, ["lon", "lat"], ts_col="ts", delay="1 hour")
    q = (out.writeStream.format("memory").queryName("dd")
            .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(40)
    q.stop()

    rows = sorted((r["lon"], r["lat"])
                  for r in spark.sql("select * from dd").collect())
    # one survivor per distinct content, across micro-batches
    assert rows == [(1.0, 2.0), (3.0, 4.0), (5.0, 6.0)]


def test_upsert_cache_same_batch_fold_deterministic(spark, tmp_path):
    """Deletes are unconditional regardless of event time (reference
    KafkaFeatureCacheImpl.remove ignores feature time), and a null-LAT
    row is a tombstone, not a crash."""
    import json
    import os

    from geomesa_spark.streaming.upsert import upsert_cache

    src = str(tmp_path / "in")
    os.makedirs(src)
    rows = [
        {"feature_id": "a", "ts": 10, "lon": 1.0, "lat": 2.0},   # upsert
        {"feature_id": "a", "ts": 5, "lon": None, "lat": None},  # older delete
        {"feature_id": "b", "ts": 7, "lon": 3.0, "lat": None},   # null lat -> delete
    ]
    with open(os.path.join(src, "batch0.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    stream = (spark.readStream.schema(
        "feature_id string, ts long, lon double, lat double").json(src))
    out = upsert_cache(stream)
    q = (out.writeStream.format("memory").queryName("upsfold")
            .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.feature_id, r.ts): r.op
           for r in spark.sql("select * from upsfold").collect()}
    # a: delete(ts=5) folds BEFORE upsert(ts=10) -> final state lives
    assert got[("a", 5)] == "delete"
    assert got[("a", 10)] == "upsert"
    # b: malformed half-null coordinate handled as tombstone, not a crash
    assert got[("b", 7)] == "delete"


def test_simhash_banding_exact_recall_default(spark):
    """Default bands = max_hamming + 1: the pair set equals the brute-
    force hamming join (no pair lost to chunk banding) at a threshold
    the old fixed 4x16 banding could not guarantee."""
    import numpy as np

    from geomesa_spark.operators import cache
    from geomesa_spark.operators.dedup import simhash_dedup_pairs, simhash_udf

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sim = simhash_udf(2)
    sigs = {r["doc_id"]: r["h"]
            for r in docs.select("doc_id", sim(F.col("text")).alias("h")).collect()}
    ids = sorted(sigs)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ham = bin((sigs[a] ^ sigs[b]) & 0xFFFFFFFFFFFFFFFF).count("1")
            if ham <= 6:
                want.add((a, b))
    out = simhash_dedup_pairs(docs, "doc_id", "text", max_hamming=6)
    got = {(r.id_a, r.id_b) for r in out.collect()}
    cache.release(out)
    assert got == want and got


def test_stream_interval_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream temporal join == the batch join on the
    same data (inner join, |dt| <= 30s, keyed)."""
    import json as _json

    from geomesa_spark.streaming.joins import stream_interval_join

    lsrc = str(tmp_path / "ij_l")
    rsrc = str(tmp_path / "ij_r")
    os.makedirs(lsrc)
    os.makedirs(rsrc)
    base = "2024-01-01T00:0"
    lrows = [{"l_id": 1, "k_l": 7, "l_ts": f"{base}0:10"},
             {"l_id": 2, "k_l": 7, "l_ts": f"{base}1:30"},
             {"l_id": 3, "k_l": 8, "l_ts": f"{base}0:10"}]
    rrows = [{"r_id": 11, "k_r": 7, "r_ts": f"{base}0:25"},   # +15s of l1
             {"r_id": 12, "k_r": 7, "r_ts": f"{base}0:50"},   # +40s: out
             {"r_id": 13, "k_r": 8, "r_ts": f"{base}0:05"},   # -5s of l3
             {"r_id": 14, "k_r": 9, "r_ts": f"{base}0:10"}]   # wrong key
    with open(os.path.join(lsrc, "b0.json"), "w") as f:
        f.write("\n".join(_json.dumps(x) for x in lrows))
    with open(os.path.join(rsrc, "b0.json"), "w") as f:
        f.write("\n".join(_json.dumps(x) for x in rrows))

    lschema = "l_id long, k_l long, l_ts string"
    rschema = "r_id long, k_r long, r_ts string"
    ls = (spark.readStream.schema(lschema).json(lsrc)
          .withColumn("l_ts", F.to_timestamp("l_ts")))
    rs = (spark.readStream.schema(rschema).json(rsrc)
          .withColumn("r_ts", F.to_timestamp("r_ts")))
    out = stream_interval_join(ls, rs, "l_ts", "r_ts", 30,
                               on=("k_l", "k_r"))
    q = (out.writeStream.format("memory").queryName("ivj")
            .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(60)
    q.stop()
    got = {(r.l_id, r.r_id)
           for r in spark.sql("select * from ivj").collect()}
    assert got == {(1, 11), (3, 13)}

    # batch equivalence on the same frames
    lb = spark.read.schema(lschema).json(lsrc).withColumn(
        "l_ts", F.to_timestamp("l_ts"))
    rb = spark.read.schema(rschema).json(rsrc).withColumn(
        "r_ts", F.to_timestamp("r_ts"))
    iv = F.expr("INTERVAL 30 SECONDS")
    batch = {(r.l_id, r.r_id) for r in lb.join(
        rb, (F.col("k_l") == F.col("k_r"))
        & (F.col("l_ts") >= F.col("r_ts") - iv)
        & (F.col("l_ts") <= F.col("r_ts") + iv)).collect()}
    assert got == batch

    import pytest as _pt
    with _pt.raises(ValueError):
        stream_interval_join(ls, ls, "l_ts", "l_ts", 30)


def test_stream_ingest_indexed(spark, tmp_path):
    """Streaming ingest -> z2 store: content equals a batch write_indexed
    of the same rows, bbox_query pruning still works, per-batch lineage
    manifests carry counts + cell histograms, and a replayed batch_id is
    an idempotent no-op."""
    import json

    from geomesa_spark.plans.store import DIGITS, bbox_query, read_indexed
    from geomesa_spark.streaming.ingest import (_batch_writer,
                                                ingest_manifests,
                                                stream_ingest_indexed)

    src = str(tmp_path / "pts_src")
    os.makedirs(src)
    rows1 = [{"pid": i, "lon": float(i % 60) - 30.0,
              "lat": float(i % 40) - 20.0} for i in range(200)]
    rows2 = [{"pid": 200 + i, "lon": 100.0 + i * 0.1, "lat": 45.0}
             for i in range(50)]
    with open(os.path.join(src, "b0.json"), "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows1))
    with open(os.path.join(src, "b1.json"), "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows2))

    store = str(tmp_path / "live_store")
    q = stream_ingest_indexed(
        spark.readStream.schema("pid long, lon double, lat double")
             .option("maxFilesPerTrigger", 1).json(src),
        store, checkpoint=str(tmp_path / "ckpt"),
        trigger={"availableNow": True})
    q.awaitTermination(60)
    q.stop()

    got = read_indexed(spark, store)
    assert got.count() == 250
    mans = ingest_manifests(store)
    assert sum(m["row_count"] for m in mans) == 250
    assert all(m["cell_histogram"] for m in mans)

    # pruned bbox query over the live store: equals the plain filter
    want = sorted(r["pid"] for r in got.collect()
                  if -10 <= r["lon"] <= 10 and -5 <= r["lat"] <= 5)
    res = sorted(r["pid"] for r in
                 bbox_query(spark, store, -10, -5, 10, 5).collect())
    assert res == want and len(res) > 0

    # the live store holds default-width prefixes, and a writer at any
    # other width is refused before it could mix two widths
    parts = [d for d in os.listdir(store) if d.startswith("z2_p=")]
    assert 0 < len(parts) <= 16
    with pytest.raises(ValueError, match="hex chars"):
        _batch_writer(store, "lon", "lat", DIGITS + 1, 64)

    # replaying an already-manifested batch id is a no-op
    writer = _batch_writer(store, "lon", "lat", DIGITS, 64)
    replay = spark.createDataFrame(rows1[:5])
    writer(replay, mans[0]["batch_id"])
    assert read_indexed(spark, store).count() == 250

    # crash window: data published but manifest lost -> replay with the
    # same rows must REPLACE its earlier files, not duplicate them
    m0 = mans[0]
    os.remove(os.path.join(store, "_stream_manifests",
                           f"batch-{m0['batch_id']}.json"))
    same_rows = rows1 if m0["row_count"] == len(rows1) else rows2
    writer(spark.createDataFrame(same_rows), m0["batch_id"])
    assert read_indexed(spark, store).count() == 250
    mans2 = ingest_manifests(store)
    assert sum(m["row_count"] for m in mans2) == 250


def test_await_sink_rows_raises_when_the_stream_dies(spark):
    """The entry's memory-sink wait fails with the stream's own error as
    soon as the query dies, not at its deadline."""
    import sys
    import uuid

    from pyspark.errors import StreamingQueryException

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry

    name = f"dead_{uuid.uuid4().hex[:12]}"
    broken = (spark.readStream.format("rate").option("rowsPerSecond", 10).load()
              .select((F.col("value")
                       + F.raise_error(F.lit("stream boom")).cast("long"))
                      .alias("v")))
    q = broken.writeStream.format("memory").queryName(name).start()
    t0 = time.monotonic()
    try:
        with pytest.raises(StreamingQueryException, match="stream boom"):
            entry._await_sink_rows(spark, q, name, 10, timeout=240)
    finally:
        q.stop()
    assert time.monotonic() - t0 < 120
