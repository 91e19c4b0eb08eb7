"""Stream-length endurance for PER-KEY-STATE maintainers (VERDICT r11
#7): round 11 proved the LSM class bounded (e8_stream_index_update, 128
batches, flat serve); this probe drives the two registered maintainers
that CARRY KEYED STATE across batches through the same 128-micro-batch
regime:

1. **markov carry** (x3_stream_markov's loop): per-user last-event
   snapshot advanced every batch + seen-set + (from,to)-count delta
   log, with in-loop compaction AND the round-12 carry-version GC
   (without it the state directory grows one |users|-row snapshot per
   batch — the exact growth class this probe exists to catch).
   Time-ordered delivery; redeliveries planted every 16th batch.
2. **bitmap words** (x_stream_bitmap_distinct's loop): per-(group,
   word-index) bitmap words appended + bit_or-folded in-loop; state is
   |domain|/64 words per group — bounded by the KEY DOMAIN, not stream
   length; redelivery absorbed by bit_or algebra (no seen-set at all).

Per 16-batch checkpoint each maintainer records its live file counts,
its STATE SIZE (carry rows / word rows), and the serving-read wall —
all three must stay flat to the last checkpoint. After the drain each
folded result is equality-checked against its from-scratch batch twin.

Usage: python tools/probe_stream_endurance_r12.py [sf_dir] [out.jsonl] [n_batches]
Defaults: /root/testdata/sf0.01 tools/probe_results/stream_endurance_r12.jsonl 128
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from public_transit_status_with_apache_kafka_spark.io_util import load  # noqa: E402
from public_transit_status_with_apache_kafka_spark.operators import (  # noqa: E402
    bitmap,
    maintenance,
)
from public_transit_status_with_apache_kafka_spark.session import get_spark  # noqa: E402

CHECK_EVERY = 16


def run_markov(spark, sf_dir: str, n_batches: int) -> list[dict]:
    from pyspark.sql.window import Window as W

    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    ).localCheckpoint()
    tmp = tempfile.mkdtemp(prefix="endur_markov_")
    lines: list[dict] = []
    try:
        deliver = tmp + "/deliver"
        # n_batches TIME-ordered slices (rank-sliced so every slice is
        # non-empty-ish); redelivery: every 16th delivery re-sends j-8
        ranked = ev.withColumn(
            "_slice",
            F.ntile(n_batches).over(W.orderBy("ts", "event_id")),
        ).localCheckpoint()
        for j in range(1, n_batches + 1):
            d = ranked.filter(F.col("_slice") == j)
            if j % CHECK_EVERY == 0 and j > 8:
                d = d.unionByName(ranked.filter(F.col("_slice") == j - 8))
            d.drop("_slice").coalesce(1).write.mode("append").parquet(deliver)
        state_dir, seen_dir, log_dir = tmp + "/carry", tmp + "/seen", tmp + "/deltas"
        os.makedirs(state_dir, exist_ok=True)
        t0 = time.time()

        def serve_stats() -> tuple[float, int, int]:
            t = time.time()
            trans = (
                spark.read.parquet(log_dir)
                .groupBy("from_type", "to_type")
                .agg(F.sum("n").alias("n"))
            )
            row = trans.agg(
                F.count(F.lit(1)).alias("k"),
                F.sum(F.pmod(F.xxhash64("from_type", "to_type", "n"),
                             F.lit(1_000_003))).alias("chk"),
            ).first()
            return round(time.time() - t, 3), int(row["k"]), int(row["chk"] or 0)

        def ingest(bdf, eid: int) -> None:
            ss = bdf.sparkSession
            try:
                seen = ss.read.parquet(seen_dir).select("event_id")
                fresh = bdf.join(seen, "event_id", "anti")
            except Exception:
                fresh = bdf
            if fresh.isEmpty():
                return
            fresh = fresh.localCheckpoint()
            fresh.select("event_id").write.mode("append").parquet(seen_dir)
            try:
                versions = sorted(
                    int(d[1:]) for d in os.listdir(state_dir) if d.startswith("v")
                )
                carry = ss.read.parquet(state_dir + f"/v{versions[-1]}")
            except Exception:
                carry = ss.createDataFrame(
                    [], "event_id long, ts timestamp, user_id long, event_type string"
                )
            u = carry.unionByName(fresh)
            w = W.partitionBy("user_id").orderBy("ts", "event_id")
            pairs = (
                u.select(
                    "user_id",
                    F.col("event_type").alias("from_type"),
                    F.lead("event_type").over(w).alias("to_type"),
                )
                .filter(F.col("to_type").isNotNull())
                .groupBy("from_type", "to_type")
                .agg(F.count("*").alias("n"))
            )
            pairs.write.mode("append").parquet(log_dir)
            if maintenance.dir_stats(log_dir)[0] > 2:
                maintenance.compact_delta_log(
                    ss, log_dir, ["from_type", "to_type"], ["n"]
                )
            if maintenance.dir_stats(seen_dir)[0] > 2:
                maintenance.compact_delta_log(ss, seen_dir, ["event_id"], [])
            new_carry = (
                u.groupBy("user_id")
                .agg(
                    F.max_by(
                        F.struct("event_id", "ts", "event_type"),
                        F.struct("ts", "event_id"),
                    ).alias("_last")
                )
                .select(
                    F.col("_last.event_id").alias("event_id"),
                    F.col("_last.ts").alias("ts"),
                    "user_id",
                    F.col("_last.event_type").alias("event_type"),
                )
            )
            new_carry.write.mode("overwrite").parquet(state_dir + f"/v{eid}")
            versions = sorted(
                int(d[1:]) for d in os.listdir(state_dir) if d.startswith("v")
            )
            for v in versions[:-2]:
                shutil.rmtree(state_dir + f"/v{v}", ignore_errors=True)
            if (eid + 1) % CHECK_EVERY == 0:
                serve_sec, k, chk = serve_stats()
                live = sorted(
                    int(d[1:]) for d in os.listdir(state_dir) if d.startswith("v")
                )
                carry_rows = spark.read.parquet(
                    state_dir + f"/v{live[-1]}"
                ).count()
                rec = {
                    "maintainer": "markov_carry",
                    "checkpoint_batch": int(eid + 1),
                    "carry_versions_live": len(live),
                    "carry_rows": carry_rows,
                    "seen_files": maintenance.dir_stats(seen_dir)[0],
                    "delta_files": maintenance.dir_stats(log_dir)[0],
                    "serve_sec": serve_sec,
                    "n_transition_kinds": k,
                    "checksum": chk,
                    "wall_so_far_sec": round(time.time() - t0, 1),
                }
                lines.append(rec)
                print(json.dumps(rec), flush=True)

        q = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, event_type string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(deliver)
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", tmp + "/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(1800)
        assert not q.isActive, "markov endurance stream failed to drain"

        # correctness after 128 batches: folded log == batch twin
        folded = (
            spark.read.parquet(log_dir)
            .groupBy("from_type", "to_type")
            .agg(F.sum("n").alias("n"))
        )
        w = W.partitionBy("user_id").orderBy("ts", "event_id")
        batch = (
            ev.select(
                "user_id",
                F.col("event_type").alias("from_type"),
                F.lead("event_type").over(w).alias("to_type"),
            )
            .filter(F.col("to_type").isNotNull())
            .groupBy("from_type", "to_type")
            .agg(F.count("*").alias("n"))
        )
        n_kinds = batch.count()
        agreed = folded.join(batch, ["from_type", "to_type", "n"], "inner").count()
        summary = {
            "maintainer": "markov_carry",
            "summary": True,
            "n_batches": n_batches,
            "n_events": ev.count(),
            "transition_kinds_batch": n_kinds,
            "transition_kinds_streamed": folded.count(),
            "transition_kinds_agreeing": agreed,
            "endurance_correct": bool(
                agreed == n_kinds == folded.count()
            ),
        }
        lines.append(summary)
        print(json.dumps(summary), flush=True)
        return lines
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run_bitmap(spark, sf_dir: str, n_batches: int) -> list[dict]:
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_custkey"
    ).localCheckpoint()
    tmp = tempfile.mkdtemp(prefix="endur_bitmap_")
    lines: list[dict] = []
    try:
        deliver = tmp + "/deliver"
        part = F.pmod(F.xxhash64("o_orderkey"), F.lit(n_batches))
        for j in range(n_batches):
            d = orders.filter(part == j)
            if j % CHECK_EVERY == 0 and j >= 8:
                d = d.unionByName(orders.filter(part == j - 8))
            d.coalesce(1).write.mode("append").parquet(deliver)
        deltas_dir = tmp + "/word_deltas"
        spark.createDataFrame(
            [], "o_orderpriority string, w_idx long, word long"
        ).write.parquet(deltas_dir)
        t0 = time.time()

        def serve_stats() -> tuple[float, int, int, int]:
            t = time.time()
            merged = (
                spark.read.parquet(deltas_dir)
                .groupBy("o_orderpriority", "w_idx")
                .agg(F.expr("bit_or(word)").alias("word"))
            )
            row = merged.agg(
                F.count(F.lit(1)).alias("words"),
                F.sum(F.expr("bit_count(word)")).alias("n_distinct_total"),
                F.sum(F.pmod(F.xxhash64("o_orderpriority", "w_idx", "word"),
                             F.lit(1_000_003))).alias("chk"),
            ).first()
            return (
                round(time.time() - t, 3),
                int(row["words"]),
                int(row["n_distinct_total"] or 0),
                int(row["chk"] or 0),
            )

        def ingest(bdf, eid: int) -> None:
            if bdf.isEmpty():
                return
            bitmap.bitmap_words(bdf, ["o_orderpriority"], "o_custkey").drop(
                "n_rows"
            ).write.mode("append").parquet(deltas_dir)
            if maintenance.dir_stats(deltas_dir)[0] > 2:
                maintenance.compact_delta_log(
                    bdf.sparkSession, deltas_dir,
                    ["o_orderpriority", "w_idx"], ["word"], fold="bit_or",
                )
            if (eid + 1) % CHECK_EVERY == 0:
                serve_sec, words, nd, chk = serve_stats()
                rec = {
                    "maintainer": "bitmap_words",
                    "checkpoint_batch": int(eid + 1),
                    "delta_files": maintenance.dir_stats(deltas_dir)[0],
                    "word_rows": words,
                    "n_distinct_total": nd,
                    "serve_sec": serve_sec,
                    "checksum": chk,
                    "wall_so_far_sec": round(time.time() - t0, 1),
                }
                lines.append(rec)
                print(json.dumps(rec), flush=True)

        q = (
            spark.readStream.schema(
                "o_orderkey long, o_orderpriority string, o_custkey long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(deliver)
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", tmp + "/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(1800)
        assert not q.isActive, "bitmap endurance stream failed to drain"

        merged = (
            spark.read.parquet(deltas_dir)
            .groupBy("o_orderpriority", "w_idx")
            .agg(F.expr("bit_or(word)").alias("word"))
            .groupBy("o_orderpriority")
            .agg(F.expr("sum(bit_count(word))").cast("long").alias("n_distinct"))
        )
        batch = orders.groupBy("o_orderpriority").agg(
            F.countDistinct("o_custkey").alias("n_distinct")
        )
        n_groups = batch.count()
        agreed = merged.join(
            batch, ["o_orderpriority", "n_distinct"], "inner"
        ).count()
        summary = {
            "maintainer": "bitmap_words",
            "summary": True,
            "n_batches": n_batches,
            "n_orders": orders.count(),
            "groups_batch": n_groups,
            "groups_agreeing": agreed,
            "endurance_correct": bool(agreed == n_groups == merged.count()),
        }
        lines.append(summary)
        print(json.dumps(summary), flush=True)
        return lines
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_path = (
        sys.argv[2]
        if len(sys.argv) > 2
        else "tools/probe_results/stream_endurance_r12.jsonl"
    )
    n_batches = int(sys.argv[3]) if len(sys.argv) > 3 else 128
    # the probe owns its session: 4 partitions for the whole run (the
    # fixture-stream setting of plans/streaming_queries._replay)
    spark = get_spark("stream_endurance_r12", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    lines = run_markov(spark, sf_dir, n_batches)
    lines += run_bitmap(spark, sf_dir, n_batches)
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as f:
        for rec in lines:
            f.write(json.dumps(rec) + "\n")
    print(f"wrote {len(lines)} records to {out_path}")


if __name__ == "__main__":
    main()
