"""X1 checkpoint recovery (exactly-once across restarts) and K6
dashboard rendering."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from public_transit_status_with_apache_kafka_spark import generator
from public_transit_status_with_apache_kafka_spark.operators import cta_views
from public_transit_status_with_apache_kafka_spark.streaming import views as sv
from public_transit_status_with_apache_kafka_spark.streaming.render import (
    render_dashboard,
)
from public_transit_status_with_apache_kafka_spark.plans.streaming_queries import _await_drained


def test_checkpoint_restart_no_double_count(spark, tmp_path):
    """Stop a streaming aggregation mid-input, restart it from the same
    checkpoint with more input: the recovered query must not re-count
    already-processed rows (Structured Streaming exactly-once state,
    vs the reference's replay-on-restart at-least-once, SURVEY X1)."""
    fx = generator.generate_all(spark)
    t = fx["turnstile"]
    src_dir = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out: dict = {}

    def upsert(batch_df, _bid):
        for r in batch_df.collect():
            out[r.station_id] = r["count"]

    def run_once():
        src = spark.readStream.schema(generator.TURNSTILE_SCHEMA).parquet(src_dir)
        q = (
            sv.turnstile_counts_stream(src)
            .writeStream.outputMode("update")
            .foreachBatch(upsert)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await_drained(q, 120)

    half_a = t.filter(F.col("station_id") < 100)
    half_b = t.filter(F.col("station_id") >= 100)
    half_a.write.mode("append").parquet(src_dir)
    run_once()  # first run sees only half_a, then "crashes" (stops)
    half_b.write.mode("append").parquet(src_dir)
    run_once()  # recovery from checkpoint: must process ONLY half_b

    batch = {r.station_id: r["count"] for r in cta_views.turnstile_counts(t).collect()}
    assert out == batch


def test_render_dashboard_text(spark):
    fx = generator.generate_all(spark)
    dash = cta_views.dashboard(
        cta_views.stations_dim(fx["stations"]),
        cta_views.train_positions(fx["arrivals"]),
        cta_views.turnstile_counts(fx["turnstile"]),
    )
    weather = cta_views.weather_now(fx["weather"]).first()
    text = render_dashboard(dash, weather)
    assert text.startswith("Weather: ")
    # three line blocks in fixed order (O2)
    bi, gi, ri = (text.index(s) for s in ("== Blue Line ==", "== Green Line ==", "== Red Line =="))
    assert bi < gi < ri
    assert text.count("\n") >= 18  # 18 station rows + headers


def test_k4_summary_payload_contract(spark):
    """K4: the TURNSTILE_SUMMARY changelog payload is JSON with UPPERCASE
    field names (consumers/ksql.py:35-39; consumed with uppercase keys at
    consumers/models/line.py:72)."""
    fx = generator.generate_all(spark)
    counts = cta_views.turnstile_counts(fx["turnstile"])
    payloads = counts.select(
        F.to_json(
            F.struct(
                F.col("station_id").alias("STATION_ID"), F.col("count").alias("COUNT")
            )
        ).alias("value")
    ).collect()
    decoded = [json.loads(r.value) for r in payloads]
    assert all(set(d) == {"STATION_ID", "COUNT"} for d in decoded)
    total = sum(d["COUNT"] for d in decoded)
    assert total == fx["turnstile"].count()
