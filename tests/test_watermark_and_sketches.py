"""X2 watermark semantics (late-data bounds for windowed streaming
aggregation) and sketch mergeability (HyperLogLog partial-merge ==
direct, the distributed-sketch contract)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql import types as T

from public_transit_status_with_apache_kafka_spark.plans.streaming_queries import _await_drained


def test_windowed_agg_drops_data_later_than_watermark(spark, tmp_path):
    """Append-mode windowed aggregation with a 5-minute watermark: a
    window's result emits once the watermark passes its end; events
    arriving after EVICTION are dropped (X2 — the reference has NO
    late-data policy, state grows forever; the engine bounds it).

    Two real Spark subtleties this test pins down: the watermark
    computed from batch N's data applies from batch N+1, and late-data
    dropping is only guaranteed once the window's state is EVICTED —
    a late row arriving in the same batch that evicts its window still
    merges (docs call the drop 'best-effort'). Hence four batches:
    on-time -> advancer -> eviction batch -> late arrival."""
    schema = T.StructType(
        [T.StructField("ts", T.TimestampType()), T.StructField("v", T.LongType())]
    )
    import time

    base = dt.datetime(2024, 1, 1, 0, 0)
    src = str(tmp_path / "wm_src")
    batches = [
        # batch 0: two on-time events in window [00:00, 00:10)
        [(base + dt.timedelta(minutes=1), 1), (base + dt.timedelta(minutes=2), 1)],
        # batch 1: advancer at 00:30 -> watermark 00:25 from batch 2 on
        [(base + dt.timedelta(minutes=30), 1)],
        # batch 2: runs with watermark 00:25 -> window 0 evicted+emitted
        [(base + dt.timedelta(minutes=31), 1)],
        # batch 3: LATE event for the evicted window -> dropped
        [(base + dt.timedelta(minutes=3), 100)],
    ]
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)  # distinct mtimes keep file->batch order stable

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n"), F.sum("v").alias("sum_v"))
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_agg")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await_drained(q, 120)
    emitted = [
        (r.w.start.minute, r.n, r.sum_v) for r in spark.table("wm_agg").collect()
    ]
    # window 0 emitted exactly once, with ONLY the two on-time events —
    # the late v=100 row neither merged nor re-opened the window
    assert emitted.count((0, 2, 2)) == 1
    assert not any(m == 0 and sv != 2 for m, _n, sv in emitted)


def test_hll_partial_merge_equals_direct(spark):
    """Distributed sketching: per-group HLL sketches merged with
    hll_union_agg must estimate the same cardinality as one direct
    sketch over the union — the property that lets 100 TB cardinality
    jobs pre-aggregate per partition/day and merge later."""
    df = spark.range(50_000).select(
        (F.col("id") % 10).alias("g"), (F.col("id") % 7_919).alias("v")
    )
    direct = df.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("v")).alias("est")
    ).first().est
    merged = (
        df.groupBy("g")
        .agg(F.hll_sketch_agg("v").alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .first()
        .est
    )
    assert merged == direct  # identical sketch parameters -> identical merge
    assert abs(merged - 7_919) / 7_919 < 0.05


def test_multimodal_features_deterministic_and_bounded(spark):
    from public_transit_status_with_apache_kafka_spark.io_util import load
    from public_transit_status_with_apache_kafka_spark.operators import multimodal

    docs = load(spark, "/root/testdata/sf0.001", "documents").limit(50)
    payloads = multimodal.with_binary_payload(docs, "text", "doc_id")
    f1 = {r.id: tuple(r.features) for r in multimodal.extract_features(payloads).collect()}
    f2 = {r.id: tuple(r.features) for r in multimodal.extract_features(payloads).collect()}
    assert f1 == f2  # deterministic across runs
    assert all(len(v) == multimodal.FEATURE_DIM for v in f1.values())
    assert all(0.0 <= x <= 1.0 for v in f1.values() for x in v)


def test_multimodal_frame_sample_offsets(spark):
    from public_transit_status_with_apache_kafka_spark.io_util import load
    from public_transit_status_with_apache_kafka_spark.operators import multimodal

    docs = load(spark, "/root/testdata/sf0.001", "documents").limit(20)
    payloads = multimodal.with_binary_payload(docs, "text", "doc_id")
    frames = multimodal.frame_sample(payloads, every_n_bytes=64)
    rows = frames.collect()
    assert all(r.byte_offset == r.frame_no * 64 for r in rows)
    # every doc yields at least one frame marker
    assert {r.id for r in rows} == {r.id for r in payloads.select("id").collect()}
