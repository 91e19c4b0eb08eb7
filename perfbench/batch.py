"""The closed-loop batch workload: one client runs round-robin passes
over a fixed query list, in an order permuted by the seed. The list
joins two families: SQL-only analytics and Python/Arrow-kernel curation
queries, so a change to one family shows in its own per-query numbers.

Each query call is built through the ``plans`` registry
(``__spark_entry__.queries()``) and executed by fetching its result as
a pandas frame, as a client would; both halves are timed and tagged
with a job group so the event log can count their jobs and stages. The
first pass runs cold; steady passes follow until the measuring time is
used up. The last pass's results go to the correctness check.
"""

from __future__ import annotations

import math
import random

from .trace import median, now

# scans, joins and shuffles; the rank layout; a graph loop's per-job
# cost; a table write beside the reads
SQL_ANALYTICS = (
    "q3_shipping_priority", "x_ntile_bucketing", "x_pagerank_exact", "x_merge_into",
)
# Python/Arrow kernels, the shared MinHash front and its consumer, and a
# mapInPandas decode
LLM_CURATION = (
    "e1_exact_dedup", "e2_minhash_signatures", "e2_lsh_candidate_pairs",
    "e4_quality_score", "e5_bmp_decode_stats",
)
QUERIES = SQL_ANALYTICS + LLM_CURATION
# The number of steady passes is fixed by --seconds alone, so every run
# does the same work however fast the host is that minute.
SECONDS_PER_PASS = 8
MIN_STEADY_PASSES = 2


def run_passes(run, data_dir: str, seconds: float) -> dict:
    """Cold pass over QUERIES, then one steady pass per SECONDS_PER_PASS
    of ``seconds`` (at least MIN_STEADY_PASSES). Returns the per-pass
    records and the last pass's results."""
    import __spark_entry__ as entry

    spark, tr = run.spark, run.tracer
    registry = entry.queries()
    order = list(QUERIES)
    random.Random(run.seed).shuffle(order)
    passes = []
    results = {}

    def one_pass(k: int) -> None:
        t_pass = now()
        kids = []
        rec = {"pass": k, "queries": {}, "groups": {}}
        for q in order:
            group = f"{tr.run_id}:{run.workload}:p{k}:{q}"
            spark.sparkContext.setJobGroup(group, q)
            run.attempted += 1
            t0 = now()
            t1 = t2 = None
            try:
                df = registry[q](spark, data_dir)
                t1 = now()
                result = df.toPandas()
                t2 = now()
            except Exception as exc:  # attribute and keep measuring
                run.fail(q, exc)
            if t2 is not None:
                rec["queries"][q] = {"build_s": t1 - t0, "exec_s": t2 - t1}
                rec["groups"][q] = group
                results[q] = result
            kids.append((q, t0, t1, t2))
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        t_end = now()
        rec["start"], rec["end"], rec["wall_s"] = t_pass, t_end, t_end - t_pass
        span = tr.add(f"pass{k}", t_pass, t_end, workload=run.workload)
        for q, t0, t1, t2 in kids:
            if t1 is not None:
                tr.add(f"build:{q}", t0, t1, span)
            if t2 is not None:
                tr.add(f"exec:{q}", t1, t2, span)
        rec["span"] = span
        passes.append(rec)

    n_steady = max(MIN_STEADY_PASSES, math.ceil(seconds / SECONDS_PER_PASS))
    for k in range(n_steady + 1):
        one_pass(k)
    return {"order": order, "passes": passes, "results": results}


def query_medians(res: dict) -> dict[str, float]:
    """Per-query median of build + fetch time over the steady passes."""
    steady = res["passes"][1:]
    out = {}
    for q in res["order"]:
        xs = [p["queries"][q]["build_s"] + p["queries"][q]["exec_s"]
              for p in steady if q in p["queries"]]
        if xs:
            out[q] = median(xs)
    return out


def batch_metrics(res: dict) -> dict:
    steady = res["passes"][1:]
    per_query = query_medians(res)
    return {
        "first_pass_s": res["passes"][0]["wall_s"],
        "pass_s": median([p["wall_s"] for p in steady]),
        "slowest_query_s": max(per_query.values(), default=float("nan")),
        "steady_passes": len(steady),
    }
