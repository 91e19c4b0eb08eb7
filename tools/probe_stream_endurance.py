"""Streaming-maintainer ENDURANCE probe (VERDICT r10 #4): stream
LENGTH is the one scale axis no prior probe covered — every registered
foreachBatch maintainer is exercised at 2-3 planted micro-batches.
This drives the e8_stream_index_update maintenance loop (the real
foreachBatch stream: seen-ids anti-join -> per-term delta append ->
in-loop LSM compaction) through 128 micro-batches and records, at
every 16-batch checkpoint:

  - live delta-log and seen-set file counts (must stay BOUNDED: the
    in-loop compact_delta_log folds to one base whenever more than two
    generations are live, so the log never grows with stream length);
  - the serving-read wall (fold every live delta generation into the
    (term, df, total_tf) index and count it) — must stay ~flat from
    checkpoint 1 to checkpoint 8;
  - the folded term count and an order-free checksum.

Redeliveries are planted every 16th delivery (slice j-8 rides again)
so idempotence is exercised ACROSS the whole run, not just once.
After the drain the folded index is equality-joined against the
from-scratch batch twin over all delivered docs — endurance must not
drift correctness.

Usage: python tools/probe_stream_endurance.py [sf_dir] [out.jsonl] [n_batches]
Appends one JSON line per checkpoint plus a final summary line; the
committed record lives at tools/probe_results/stream_endurance_r11.jsonl
and is pinned by tests/test_stream_endurance_probe.py.
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
    maintenance,
    search,
)
from public_transit_status_with_apache_kafka_spark.session import get_spark  # noqa: E402

CHECK_EVERY = 16


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_path = (
        sys.argv[2]
        if len(sys.argv) > 2
        else "tools/probe_results/stream_endurance_r11.jsonl"
    )
    n_batches = int(sys.argv[3]) if len(sys.argv) > 3 else 128
    # the probe owns its session: 4 partitions for the whole run (the
    # fixture-stream setting of plans/streaming_queries._replay)
    spark = get_spark("stream_endurance", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.localCheckpoint()  # slice writes must not rescan parquet
    tmp = tempfile.mkdtemp(prefix="endurance_")
    lines: list[dict] = []
    try:
        deltas_dir, seen_dir = tmp + "/deltas", tmp + "/seen"
        spark.createDataFrame([], "doc_id long").write.parquet(seen_dir)
        spark.createDataFrame(
            [], "tok string, df_delta long, tf_delta long"
        ).write.parquet(deltas_dir)

        # n_batches time-ordered delivery files; every 16th delivery
        # re-sends slice j-8 (cross-batch redelivery, planted all run)
        part = F.pmod(F.xxhash64("doc_id"), F.lit(n_batches))
        for j in range(n_batches):
            d = docs.filter(part == j)
            if j % CHECK_EVERY == 0 and j >= 8:
                d = d.unionByName(docs.filter(part == j - 8))
            d.coalesce(1).write.mode("append").parquet(tmp + "/deliver")
        n_delivered_docs = docs.count()

        t0 = time.time()

        def serve_stats() -> tuple[float, int, int]:
            t = time.time()
            folded = (
                spark.read.parquet(deltas_dir)
                .groupBy("tok")
                .agg(
                    F.sum("df_delta").alias("df"),
                    F.sum("tf_delta").alias("total_tf"),
                )
            )
            row = folded.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.pmod(
                        F.xxhash64("tok", "df", "total_tf"), F.lit(1_000_003)
                    )
                ).alias("chk"),
            ).first()
            return round(time.time() - t, 3), int(row["n"]), int(row["chk"] or 0)

        def ingest(bdf, eid: int) -> None:
            seen = spark.read.parquet(seen_dir)
            fresh = bdf.join(seen, "doc_id", "left_anti").localCheckpoint()
            delta = (
                search.term_freqs(fresh, "text", "doc_id")
                .groupBy("tok")
                .agg(
                    F.count(F.lit(1)).alias("df_delta"),
                    F.sum("tf").alias("tf_delta"),
                )
            )
            delta.write.mode("append").parquet(deltas_dir)
            fresh.select("doc_id").write.mode("append").parquet(seen_dir)
            if maintenance.dir_stats(deltas_dir)[0] > 2:
                maintenance.compact_delta_log(
                    spark, deltas_dir, ["tok"], ["df_delta", "tf_delta"]
                )
            if maintenance.dir_stats(seen_dir)[0] > 2:
                maintenance.compact_delta_log(spark, seen_dir, ["doc_id"], [])
            if (eid + 1) % CHECK_EVERY == 0:
                serve_sec, n_terms, chk = serve_stats()
                rec = {
                    "checkpoint_batch": int(eid + 1),
                    "delta_files": maintenance.dir_stats(deltas_dir)[0],
                    "seen_files": maintenance.dir_stats(seen_dir)[0],
                    "serve_sec": serve_sec,
                    "n_terms": n_terms,
                    "checksum": chk,
                    "wall_so_far_sec": round(time.time() - t0, 1),
                }
                lines.append(rec)
                print(json.dumps(rec), flush=True)

        q = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(tmp + "/deliver")
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", tmp + "/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(1800)
        assert not q.isActive, "endurance stream failed to drain"

        # endurance correctness: folded index == from-scratch batch twin
        folded = (
            spark.read.parquet(deltas_dir)
            .groupBy("tok")
            .agg(
                F.sum("df_delta").alias("df"),
                F.sum("tf_delta").alias("total_tf"),
            )
        )
        twin = (
            search.term_freqs(docs, "text", "doc_id")
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("total_tf"))
        )
        n_twin = twin.count()
        n_agree = folded.join(twin, ["tok", "df", "total_tf"], "inner").count()
        n_seen = spark.read.parquet(seen_dir).count()
        summary = {
            "summary": True,
            "n_batches": n_batches,
            "n_checkpoints": len(lines),
            "n_terms_twin": n_twin,
            "n_terms_agree": n_agree,
            "n_seen_docs": n_seen,
            "n_delivered_docs": n_delivered_docs,
            "total_wall_sec": round(time.time() - t0, 1),
            "sf": sf_dir,
        }
        lines.append(summary)
        print(json.dumps(summary), flush=True)
        os.makedirs(os.path.dirname(out_path), exist_ok=True)
        with open(out_path, "w") as f:
            for rec in lines:
                f.write(json.dumps(rec) + "\n")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
