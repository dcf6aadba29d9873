"""Event-time streaming surface (T9 gap): watermarked tumbling windows and
the applyInPandasWithState cross-batch dedup operator, both driven through
real micro-batched streams (file source, availableNow / maxFilesPerTrigger).
"""

import json

import pytest
from pyspark.sql import functions as F

from kafka_cdc_redshift_spark.sources import load_table
from kafka_cdc_redshift_spark.streaming import (
    hourly_rollup,
    seen_keys_dedup,
)


def test_watermarked_rollup_matches_batch_twin(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    src = tmp_path / "events_json"
    events.select(F.to_json(F.struct("*")).alias("value")).coalesce(1).write.text(
        str(src)
    )

    schema = events.schema
    stream = (
        spark.readStream.schema(schema)
        .json(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    rolled = hourly_rollup(stream, watermark="1 hour")
    q = (
        rolled.writeStream.format("memory")
        .queryName("rollup_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.table("rollup_sink").collect()
    }
    batch = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in hourly_rollup(
            events.withColumn("ts", F.col("ts").cast("timestamp"))
        ).collect()
    }
    # append mode emits only windows the watermark has closed — everything
    # emitted must agree exactly with the batch twin, and most windows close
    assert got, "no windows emitted"
    assert set(got) <= set(batch)
    assert all(got[k] == batch[k] for k in got)
    assert len(got) >= len(batch) - 26  # tail windows (+1h watermark) pending


def test_seen_keys_dedup_suppresses_cross_batch_replays(spark, tmp_path):
    src = tmp_path / "cdc_json"
    src.mkdir()
    b1 = [
        {"k": 1, "ts_ms": 100, "v": "a"},
        {"k": 2, "ts_ms": 50, "v": "b"},
    ]
    b2 = [
        {"k": 1, "ts_ms": 100, "v": "replayed-drop"},
        {"k": 1, "ts_ms": 200, "v": "c"},
        {"k": 2, "ts_ms": 40, "v": "out-of-order-drop"},
    ]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in b1) + "\n")
    (src / "b2.json").write_text("\n".join(json.dumps(r) for r in b2) + "\n")

    stream = spark.readStream.schema("k long, ts_ms long, v string").option(
        "maxFilesPerTrigger", 1
    ).json(str(src))
    deduped = seen_keys_dedup(stream, ["k"], ts_col="ts_ms")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)

    got = {(r.k, r.ts_ms): r.v for r in spark.table("dedup_sink").collect()}
    assert got == {(1, 100): "a", (2, 50): "b", (1, 200): "c"}


def test_seen_keys_dedup_rejects_batch_dataframe(spark):
    df = spark.createDataFrame([(1, 1, "x")], ["k", "ts_ms", "v"])
    with pytest.raises(Exception):
        seen_keys_dedup(df, ["k"]).collect()


def test_watermarked_dedup_drops_redeliveries(spark, sf_dir, tmp_path):
    from kafka_cdc_redshift_spark.streaming import watermarked_dedup

    events = load_table(spark, sf_dir, "events").limit(500)
    src = tmp_path / "dup_json"
    # simulate at-least-once redelivery: every event arrives 3x
    tripled = events.unionAll(events).unionAll(events)
    tripled.select(F.to_json(F.struct("*")).alias("value")).coalesce(2).write.text(
        str(src)
    )

    stream = (
        spark.readStream.schema(events.schema)
        .json(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    deduped = watermarked_dedup(stream, ["event_id"], delay="24 hours")
    q = (
        deduped.writeStream.format("memory")
        .queryName("wm_dedup_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_wm"))
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("wm_dedup_sink")
    assert got.count() == events.count()
    assert got.select("event_id").distinct().count() == events.count()


def test_stream_interval_join_matches_batch_twin(spark, sf_dir, tmp_path):
    """Stream-stream interval join (view->purchase attribution within 30
    min): watermarks on both sides bound join state; every pair the stream
    emits must exist in the batch twin, and all but the watermark-pending
    tail must be emitted."""
    from kafka_cdc_redshift_spark.streaming.windows import stream_interval_join

    events = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts"), F.col("event_id").alias("view_id")
    )
    buys = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("buy_ts"), F.col("event_id").alias("buy_id")
    )
    for df, d in ((views, "views"), (buys, "buys")):
        df.select(F.to_json(F.struct("*")).alias("value")).coalesce(1).write.text(
            str(tmp_path / d)
        )

    v_stream = (
        spark.readStream.schema("user_id long, view_ts string, view_id long")
        .json(str(tmp_path / "views"))
        .withColumn("view_ts", F.col("view_ts").cast("timestamp"))
    )
    b_stream = (
        spark.readStream.schema("user_id long, buy_ts string, buy_id long")
        .json(str(tmp_path / "buys"))
        .withColumn("buy_ts", F.col("buy_ts").cast("timestamp"))
    )
    joined = stream_interval_join(
        v_stream, b_stream,
        on="user_id", left_ts="view_ts", right_ts="buy_ts",
        watermark="1 hour", within="30 minutes",
    ).select("l.view_id", "r.buy_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("attrib_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_join"))
        .start()
    )
    q.awaitTermination(120)

    got = {(r.view_id, r.buy_id) for r in spark.table("attrib_sink").collect()}
    batch = {
        (r.view_id, r.buy_id)
        for r in stream_interval_join(
            views, buys,
            on="user_id", left_ts="view_ts", right_ts="buy_ts",
            watermark="1 hour", within="30 minutes",
        ).select("l.view_id", "r.buy_id").collect()
    }
    assert batch, "batch twin found no attributable pairs"
    assert got <= batch
    # inner stream-stream joins emit matches as they arrive; only pairs
    # still inside the watermark tail may be missing
    assert len(got) >= int(0.8 * len(batch)), (len(got), len(batch))


def test_stream_static_enrich_matches_batch_join(spark, sf_dir, tmp_path):
    from kafka_cdc_redshift_spark.sources import load_table
    from kafka_cdc_redshift_spark.streaming.windows import enrich_stream

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    src = tmp_path / "ev"
    events.coalesce(2).write.json(str(src))

    stream = spark.readStream.schema(
        "event_id long, user_id long, value double"
    ).json(str(src))
    out = enrich_stream(stream, dim, ["user_id"])
    q = (
        out.writeStream.format("memory")
        .queryName("enriched")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(
        map(tuple, spark.table("enriched")
            .select("event_id", "user_id", "c_mktsegment").collect())
    )
    want = sorted(
        map(tuple, enrich_stream(events, dim, ["user_id"])
            .select("event_id", "user_id", "c_mktsegment").collect())
    )
    assert got == want
    assert len(got) == events.count()  # left join preserves every event
