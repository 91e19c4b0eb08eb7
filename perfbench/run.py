"""Benchmark entry point.

    python3 perfbench/run.py --workload cta_live --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads: ``cta_live`` (the streaming
dashboard, catch-up then live) and ``sql_llm_batch`` (closed-loop passes
over a fixed list of SQL and curation queries). ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones (event log on,
spans kept and written out). The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.

Everything the run writes stays under ``perfbench/``: scratch under
``perfbench/.work`` (removed at the end) and one result record per run
under ``perfbench/out``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
WORK = os.path.join(BENCH, ".work")
OUT = os.path.join(BENCH, "out")
PACKAGE = "public_transit_status_with_apache_kafka_spark"
WORKLOADS = ("cta_live", "sql_llm_batch")
DRIVER_MEM = "2g"


def deadline_s(seconds: float) -> float:
    """Watchdog limit of one run: a fixed allowance for set-up, catch-up,
    drain, check and teardown, plus twice the measuring time."""
    return 120.0 + 2.0 * seconds


def metric_units(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics, as
    BENCHMARK.json at the checkout root declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


class Run:
    """State of one benchmark run: the session, the tracer, operation
    counts and every failure with its attribution."""

    def __init__(self, workload: str, seed: int, trace: bool):
        from perfbench.trace import Tracer

        self.workload, self.seed, self.trace = workload, seed, trace
        self.tracer = Tracer(trace)
        self.work = WORK
        self.spark = None
        self.attempted = 0
        self.failures: list[dict] = []
        self.wrong = False

    def fail(self, op: str, exc: BaseException, wrong: bool = False) -> None:
        msg = str(exc).strip().splitlines()
        self.failures.append({
            "workload": self.workload, "op": op, "error": type(exc).__name__,
            "message": msg[0][:300] if msg else "",
        })
        self.wrong = self.wrong or wrong
        print(f"FAILED {self.workload} {op}: {type(exc).__name__}: "
              f"{msg[0][:300] if msg else ''}", file=sys.stderr, flush=True)


def _conf(trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
    }
    if trace:
        os.makedirs(os.path.join(WORK, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def setup(run: Run) -> dict:
    """The cold set-up, timed once: get_spark (JVM launch) + kafkasim
    register + the first Python task (worker fork)."""
    from perfbench.trace import now
    from public_transit_status_with_apache_kafka_spark.session import get_spark
    from public_transit_status_with_apache_kafka_spark.sources import kafka_sim

    cpus = os.cpu_count() or 1
    t0 = now()
    spark = get_spark(f"perfbench-{run.workload}", cpus=cpus, extra_conf=_conf(run.trace))
    run.spark = spark
    t1 = now()
    kafka_sim.register(spark)
    spark.sparkContext.parallelize(range(cpus), cpus).map(lambda x: x + 1).count()
    t2 = now()
    spark.sparkContext.setLogLevel("ERROR")
    run.tracer.add("setup", t0, t2)
    return {"setup_s": t2 - t0, "get_spark_s": t1 - t0, "first_python_task_s": t2 - t1,
            "cores": int(spark.sparkContext.defaultParallelism)}


def _rev() -> dict:
    try:
        rev = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if rev.returncode == 0:
            return {"git_rev": rev.stdout.strip()}
    except (OSError, subprocess.SubprocessError):
        pass
    # a checkout without git: hash the engine sources instead
    h = hashlib.sha1()
    for base, _dirs, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return {"git_rev": None, "source_sha1": h.hexdigest()}


def _kill_children() -> None:
    from perfbench.trace import child_pids

    for pid in child_pids(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


def teardown(run: Run) -> None:
    """Stop the session and the JVM gateway, then wait for every child."""
    spark = run.spark
    if spark is not None:
        gw = spark.sparkContext._gateway
        proc = getattr(gw, "proc", None)
        spark.stop()
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    _kill_children()


def _watchdog(limit_s: float) -> None:
    def fire():
        print(f"perfbench: run exceeded {limit_s:.0f} s; aborting", file=sys.stderr,
              flush=True)
        _kill_children()
        os._exit(3)

    t = threading.Timer(limit_s, fire)
    t.daemon = True
    t.start()


def measure(run: Run, seconds: float) -> dict:
    from perfbench import batch, check, cta, trace

    out: dict = {}
    t0 = time.time()
    with trace.MemSampler() as rss:
        out["setup"] = setup(run)
        t1 = time.time()
        if run.workload == "cta_live":
            res = cta.run_cta(run, seconds)
            out["rss_peak"] = rss.peak
            out["workload"] = cta.cta_metrics(res)
        else:
            data = os.path.join(WORK, "data")
            res = batch.run_passes(run, data, seconds)
            out["rss_peak"] = rss.peak
            out["workload"] = batch.batch_metrics(res)
    t2 = time.time()
    if run.workload == "cta_live":
        out["layers"] = cta_layers(run, res)
        check.check_cta(run, res)
        for q in res["queries"].values():
            q.stop()
    else:
        out["layers"] = batch_layers(run, res)
        check.check_batch(run, batch.QUERIES, res.pop("results"), data)
    out["phases_s"] = {"setup": t1 - t0, "workload": t2 - t1, "check": time.time() - t2}
    return out


def cta_layers(run: Run, res: dict) -> dict:
    from perfbench import cta
    from perfbench.trace import median, quantile

    live_b = [p for p in res["progress"]
              if p["t_start"] >= res["live"].start and p["numInputRows"] > 0]
    cu_b = [p for p in res["progress"]
            if p["t_start"] < res["catchup"].end and p["numInputRows"] > 0]

    def dur(batches, key, q=0.5):
        xs = [b["durationMs"].get(key, 0) for b in batches]
        return quantile(xs, q) if xs else 0.0

    cu_rows = sum(b["numInputRows"] for b in cu_b)
    cu_time = sum(b["durationMs"].get("triggerExecution", 0) for b in cu_b) / 1000.0
    pos_rows = sum(p["numInputRows"] for p in res["progress"] if p["view"] == "positions")
    last = {}
    for p in res["progress"]:
        last[p["view"]] = p
    live_r = [r for r in res["renders"] if r["phase"] == "live"]
    return {
        "streaming.catchup_s": res["cold_s"],
        "streaming.catchup_eps": res["backlog_events"] / res["cold_s"],
        "sources.produce_ms.p50": 1000 * median(res["generator"].produce_s),
        "sources.latest_offset_ms.p50": dur(live_b, "latestOffset"),
        "sources.segments": cta.segment_count(res["log"]),
        "sources.backlog_events.end": res["backlog_end"],
        "sources.read_rows_per_s": cu_rows / cu_time if cu_time else 0.0,
        "streaming.trigger_ms.p50": dur(live_b, "triggerExecution"),
        "streaming.trigger_ms.p90": dur(live_b, "triggerExecution", 0.9),
        "streaming.planning_ms.p50": dur(live_b, "queryPlanning"),
        "streaming.add_batch_ms.p50": dur(live_b, "addBatch"),
        "streaming.wal_commit_ms.p50": dur(live_b, "walCommit"),
        "streaming.commit_offsets_ms.p50": dur(live_b, "commitOffsets"),
        "streaming.batches": len(cu_b),
        "streaming.input_rows_per_event": pos_rows / max(1, len(res["stream"].arrivals)),
        "streaming.state_rows": sum(
            s.get("numRowsTotal", 0) for p in last.values() for s in p["stateOperators"]),
        "streaming.state_bytes": sum(
            s.get("memoryUsedBytes", 0) for p in last.values() for s in p["stateOperators"]),
        "streaming.render_ms.p50": 1000 * median([r["render_s"] for r in live_r]),
        "operators.dashboard_build_ms": 1000 * median([r["build_s"] for r in live_r]),
        "_window": (res["live"].start, res["live"].end),
        "_parents": [res["catchup"], res["live"]],
    }


def batch_layers(run: Run, res: dict) -> dict:
    from perfbench.batch import LLM_CURATION, SQL_ANALYTICS, query_medians
    from perfbench.trace import median

    steady = res["passes"][1:]
    out = {
        "plans.first_pass_s": res["passes"][0]["wall_s"],
        "plans.build_s": median([sum(v["build_s"] for v in p["queries"].values())
                                 for p in steady]),
        "plans.exec_s": median([sum(v["exec_s"] for v in p["queries"].values())
                                for p in steady]),
    }
    for q, v in query_medians(res).items():
        out[f"plans.{q}.s"] = v
    for fam, names in (("sql", SQL_ANALYTICS), ("llm", LLM_CURATION)):
        out[f"plans.{fam}_pass_s"] = sum(out.get(f"plans.{q}.s", 0.0) for q in names)
    out["_passes"] = steady
    out["_parents"] = [p["span"] for p in res["passes"]]
    return out


def spark_from_log(run: Run, layers: dict, app_id: str) -> dict:
    """spark.* and plans.jobs/stages from the run's event log."""
    from perfbench.trace import group_counts, median, read_event_log, spark_layer

    path = os.path.join(WORK, "eventlog", app_id)
    if not os.path.exists(path):
        path += ".inprogress"
    log = read_event_log(path)
    out: dict = {}
    if "_passes" in layers:
        per = [spark_layer(log, p["start"], p["end"]) for p in layers["_passes"]]
        counts = group_counts(log)
        jobs = [sum(counts.get(g, (0, 0))[0] for g in p["groups"].values())
                for p in layers["_passes"]]
        stages = [sum(counts.get(g, (0, 0))[1] for g in p["groups"].values())
                  for p in layers["_passes"]]
        out["plans.jobs"], out["plans.stages"] = median(jobs), median(stages)
    else:
        per = [spark_layer(log, *layers["_window"])]
    for k in per[0]:
        if k != "tasks":
            out[f"spark.{k}"] = median([p[k] for p in per])
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.exists(
            os.path.join(ROOT, "__spark_entry__.py")):
        print(f"perfbench: no {PACKAGE} package in {ROOT}; run from the root of a "
              "checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import cta, datagen

    if args.workload == "cta_live" and args.seconds < cta.MIN_SECONDS:
        ap.error(f"cta_live needs --seconds of at least {cta.MIN_SECONDS:g} (20 probes)")
    units = metric_units("per_layer" if args.trace else "end_to_end")
    _watchdog(deadline_s(args.seconds))
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "scratch"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ.update({
        "TMPDIR": os.path.join(WORK, "tmp"),
        "SPARK_GRAFT_SCRATCH": os.path.join(WORK, "scratch"),
        # the engine's own choice under the scratch dir, so that a
        # SPARK_LOCAL_DIRS in the caller's environment cannot send shuffle
        # files outside the checkout
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "scratch", "spark-local"),
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
    })
    import tempfile

    tempfile.tempdir = None  # pick up TMPDIR

    run = Run(args.workload, args.seed, bool(args.trace))
    if args.workload != "cta_live":
        datagen.write_tables(args.seed, os.path.join(WORK, "data"))
    t_start = time.time()
    try:
        out = measure(run, args.seconds)
        app_id = run.spark.sparkContext.applicationId
    finally:
        t_down = time.time()
        teardown(run)
    out["phases_s"]["teardown"] = time.time() - t_down
    report(run, args, out, app_id, time.time() - t_start, units)
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


def _e2e(run: Run, out: dict) -> dict:
    w = out["workload"]
    if run.workload == "cta_live":
        steady, tail = w["e2d_p50_s"], w["e2d_tail_s"]
    else:
        steady, tail = w["pass_s"], w["slowest_query_s"]
    return {"setup_s": out["setup"]["setup_s"], "peak_rss_mb": out["rss_peak"] / 2**20,
            "steady_s": steady, "tail_s": tail}


_SUFFIX_UNITS = (("_eps", "1/s"), ("_s", "s"), ("_mb", "MB"), ("_frac", "ratio"),
                 ("_pct", "%"))


def _finite(v) -> bool:
    return isinstance(v, (int, float)) and math.isfinite(v)


def result_line(ok: bool, attempted: int, failed: int, values: dict,
                units: dict[str, str]) -> dict:
    """The run's result object. A metric that could not be measured is
    reported as null and makes the run incorrect."""
    metrics = {name: {"value": float(values[name]) if _finite(values.get(name)) else None,
                      "unit": unit} for name, unit in units.items()}
    correct = ok and all(m["value"] is not None for m in metrics.values())
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def report(run: Run, args, out: dict, app_id: str, wall_s: float,
           units: dict[str, str]) -> None:
    import pyspark

    e2e = _e2e(run, out)
    named = {**out["workload"], "setup_s": e2e["setup_s"], "peak_rss_mb": e2e["peak_rss_mb"],
             "failed_frac": len(run.failures) / max(1, run.attempted)}
    layers = {k: v for k, v in out["layers"].items() if not k.startswith("_")}
    layers["session.get_spark_s"] = out["setup"]["get_spark_s"]
    layers["session.first_python_task_s"] = out["setup"]["first_python_task_s"]
    if run.trace:
        layers.update(spark_from_log(run, out["layers"], app_id))
        layers["trace.child_cover_min"] = min(
            run.tracer.cover(p) for p in out["layers"]["_parents"])
        # a layer this workload does not touch measures zero
        values = {name: layers.get(name, 0.0) for name in units}
    else:
        values = e2e
    result = result_line(not run.wrong, run.attempted, len(run.failures), values, units)
    correct = result["correct"]
    context = {
        "workload": run.workload, "seed": run.seed, "seconds": args.seconds,
        "trace": int(run.trace), "run_id": run.tracer.run_id, "nproc": os.cpu_count(),
        "spark_cores": out["setup"]["cores"], "pyspark": pyspark.__version__,
        **_rev(), "wall_s": wall_s,
    }
    record = {**context, "end_to_end": e2e, "workload_metrics": named, "layers": layers,
              "setup": out["setup"], "phases_s": out["phases_s"],
              "top_spans_s": {s.name: s.end - s.start for s in run.tracer.spans
                              if s.parent is None},
              "failures": run.failures,
              "attempted": run.attempted, "correct": correct}
    os.makedirs(OUT, exist_ok=True)
    stem = f"{run.workload}-seed{run.seed}-trace{int(run.trace)}-{run.tracer.run_id}"
    with open(os.path.join(OUT, stem + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if run.trace:
        run.tracer.dump(os.path.join(OUT, stem + ".spans.json"), context)
    for k, v in named.items():
        unit = next((u for suffix, u in _SUFFIX_UNITS if k.endswith(suffix)), "count")
        print(f"{run.workload:14s} {k:24s} {v:.6g} {unit}" if _finite(v)
              else f"{run.workload:14s} {k:24s} {v}")
    print(json.dumps(result))


if __name__ == "__main__":
    sys.exit(main())
