"""The ``cta_live`` workload: the paper's own pipeline, open loop.

A retained backlog sits on a ``SimBroker``; the three streaming views
(train positions, turnstile counts, weather) start at ``earliest`` and
drain it (catch-up phase, data-bound). Then one generator thread appends
events on a fixed tick schedule (live phase, bound by the fixed cost per
micro-batch) while one dashboard client renders back to back:
``cta_views.dashboard`` followed by ``render_dashboard``.

Every tick, backlog ones included, carries a probe arrival on a reserved
station; a probe's latency runs from its due time to the end of the
first render that shows a probe number at least as high.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
import time

from . import datagen
from .trace import e2d_summary, median, now

LIVE_RATE_EPS = 1_000  # events per second in the live phase (20x the reference)
TICK_S = 0.4  # one produce call (and one probe) every 400 ms
BACKLOG_TICKS = 5
BACKLOG_EVENTS_PER_TICK = 6_000  # 30k events retained before the views start
CATCHUP_TIMEOUT_S = 60.0
DRAIN_TIMEOUT_S = 30.0
MIN_SECONDS = 20 * TICK_S  # 20 probes: the fewest that give a tail percentile

ARRIVAL_DDL = (
    "ts_ms long, station_id int, train_id string, direction string, line string,"
    " train_status string, prev_station_id int, prev_direction string, seq long"
)


def _topic(spark, log: str, name: str, schema, stream: bool = True):
    from pyspark.sql import functions as F

    reader = spark.readStream if stream else spark.read
    raw = reader.format("kafkasim").option("subscribe", name).load(log)
    return raw.select(F.from_json(F.col("value").cast("string"), schema).alias("v")).select("v.*")


def _parse_render(text: str) -> tuple[int, int]:
    """(highest probe number shown, total turnstile entries shown)."""
    shown, entries = -1, 0
    for line in text.splitlines():
        parts = line.split()
        if len(parts) < 4 or line.startswith(("==", "station", "Weather")):
            continue
        train_a, _train_b, n = parts[-3], parts[-2], parts[-1]
        entries += int(n)
        if parts[0] == "probe" and train_a.startswith(datagen.PROBE_PREFIX):
            shown = int(train_a[len(datagen.PROBE_PREFIX):])
    return shown, entries


def _epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class Client:
    """The dashboard client: one request = weather read, dashboard
    build, render."""

    def __init__(self, run, stations):
        from public_transit_status_with_apache_kafka_spark.operators import cta_views
        from public_transit_status_with_apache_kafka_spark.streaming.render import (
            render_dashboard,
        )

        self.run, self.stations = run, stations
        self._dashboard, self._render = cta_views.dashboard, render_dashboard
        self.renders: list[dict] = []

    def request(self, phase) -> dict:
        spark, tr = self.run.spark, self.run.tracer
        self.run.attempted += 1
        t0 = now()
        try:
            weather = spark.table("weather").collect()
            t1 = now()
            df = self._dashboard(
                self.stations, spark.table("positions"), spark.table("counts"))
            t2 = now()
            text = self._render(df, weather[0] if weather else None)
            t3 = now()
        except Exception as exc:
            self.run.fail("render", exc)
            time.sleep(0.1)
            return {}
        shown, entries = _parse_render(text)
        r = {"start": t0, "end": t3, "weather_s": t1 - t0, "build_s": t2 - t1,
             "render_s": t3 - t2, "shown": shown, "entries": entries,
             "phase": phase.name}
        tr.add("render", t0, t3, phase)
        self.renders.append(r)
        return r


class Generator(threading.Thread):
    """Open-loop producer: tick i is due at ``t0 + i * TICK_S`` and is
    produced then, however late the previous tick ran."""

    def __init__(self, run, broker, stream, first_probe: int, n_ticks: int,
                 first_tick: int, phase):
        super().__init__(daemon=True)
        self.bench, self.broker, self.stream = run, broker, stream
        self.first_probe, self.n_ticks, self.first_tick = first_probe, n_ticks, first_tick
        self.phase = phase
        self.due: dict[int, float] = {}
        self.produce_s: list[float] = []
        self.late_s: list[float] = []
        self.error: BaseException | None = None
        self.t0 = 0.0

    def run(self) -> None:  # noqa: D401 - Thread API
        try:
            self._loop()
        except BaseException as exc:  # surfaced by the caller after join
            self.error = exc

    def _loop(self) -> None:
        per_tick = int(LIVE_RATE_EPS * TICK_S)
        self.t0 = now()
        for i in range(self.n_ticks):
            due = self.t0 + i * TICK_S
            wait = due - now()
            if wait > 0:
                time.sleep(wait)
            probe = self.first_probe + i
            self.due[probe] = due
            t_start = now()
            self.late_s.append(t_start - due)
            recs = self.stream.tick(self.first_tick + i, per_tick, probe)
            for topic, rows in recs.items():
                if rows:
                    self.broker.produce(topic, rows)
            t_end = now()
            self.produce_s.append(t_end - t_start)
            self.bench.tracer.add("produce", t_start, t_end, self.phase)


def _progress(queries) -> list[dict]:
    out = []
    for name, q in queries.items():
        for p in q.recentProgress:
            d = json.loads(p.json)
            d["view"] = name
            d["t_start"] = _epoch(d["timestamp"])
            d["t_end"] = d["t_start"] + d["durationMs"].get("triggerExecution", 0) / 1000.0
            out.append(d)
    return out


def _lag(broker, queries) -> int:
    """Events on the broker that the positions and counts views have not
    yet consumed, from their last committed end offsets."""
    lag = 0
    for view, topic in (("positions", "arrivals"), ("counts", "turnstiles")):
        end = broker.end_offsets(topic)
        last = queries[view].lastProgress
        done = {}
        if last is not None:
            src = json.loads(last.json)["sources"][0]["endOffset"]
            done = (json.loads(src) if isinstance(src, str) else src)[topic]
        lag += sum(end[p] - int(done.get(str(p), 0)) for p in end)
    return lag


def run_cta(run, seconds: float) -> dict:
    from public_transit_status_with_apache_kafka_spark.operators import cta_views
    from public_transit_status_with_apache_kafka_spark.sources.kafka_sim import SimBroker
    from public_transit_status_with_apache_kafka_spark.streaming import views

    spark, tr = run.spark, run.tracer
    t_prep = now()
    log = os.path.join(run.work, "broker")
    broker = SimBroker(log, default_partitions=datagen.N_PARTITIONS)
    for t in ("stations", "arrivals", "turnstiles", "weather"):
        broker.create_topic(t)
    stream = datagen.CtaStream(run.seed)
    broker.produce("stations", stream.stations_records())
    for i in range(BACKLOG_TICKS):
        for topic, rows in stream.tick(i, BACKLOG_EVENTS_PER_TICK, i).items():
            if rows:
                broker.produce(topic, rows)
    backlog_events = stream.n_events
    backlog_turnstiles = sum(stream.turnstile_counts.values())
    marker = BACKLOG_TICKS - 1

    from public_transit_status_with_apache_kafka_spark.generator import STATIONS_SCHEMA

    stations = cta_views.stations_dim(
        _topic(spark, log, "stations", STATIONS_SCHEMA, stream=False)
    ).cache()
    stations.count()
    spark.conf.set("spark.sql.streaming.checkpointLocation", os.path.join(run.work, "ckpt"))

    from pyspark.sql import functions as F

    arr = _topic(spark, log, "arrivals", ARRIVAL_DDL).withColumn(
        "ts", F.timestamp_millis("ts_ms"))
    turn = _topic(spark, log, "turnstiles", "ts_ms long, station_id int")
    weather = _topic(spark, log, "weather", "ts_ms long, temperature float, status string"
                     ).withColumn("ts", F.timestamp_millis("ts_ms"))
    client = Client(run, stations)
    tr.add("prepare", t_prep, now())

    catchup = tr.add("catchup", now(), now())
    queries = {}
    for name, df in (("positions", views.train_positions_stream(arr)),
                     ("counts", views.turnstile_counts_stream(turn)),
                     ("weather", views.weather_now_stream(weather))):
        run.attempted += 1
        queries[name] = views.start_memory_view(df, name)
    tr.add("start_views", catchup.start, now(), catchup)
    t_views = catchup.start
    drained = False
    while now() - t_views < CATCHUP_TIMEOUT_S:
        r = client.request(catchup)
        if r and r["shown"] >= marker and r["entries"] == backlog_turnstiles:
            drained = True
            break
        if not r or r["shown"] < 0:
            time.sleep(0.05)  # views still empty: don't spin on them
    catchup.end = now()
    if not drained:
        run.fail("catchup", TimeoutError(
            f"dashboard did not reflect the backlog within {CATCHUP_TIMEOUT_S:.0f} s"))
    cold_s = catchup.end - t_views

    live = tr.add("live", now(), now())
    n_ticks = max(1, int(round(seconds / TICK_S)))
    gen = Generator(run, broker, stream, marker + 1, n_ticks, BACKLOG_TICKS, live)
    gen.start()
    while gen.is_alive():
        client.request(live)
    gen.join()
    if gen.error is not None:
        run.fail("generator", gen.error)
    backlog_end = _lag(broker, queries)
    last_probe = marker + n_ticks
    t_gen_end = now()
    while now() - t_gen_end < DRAIN_TIMEOUT_S:
        r = client.request(live)
        if r and r["shown"] >= last_probe:
            break
    live.end = now()

    renders = [r for r in client.renders if r["phase"] == "live"]
    e2d = e2d_summary(gen.due, [(r["end"], r["shown"]) for r in renders], live.end)
    run.attempted += len(gen.due)
    for p in e2d["unseen"]:
        run.fail(f"probe{p}", LookupError("probe never shown on the dashboard"), wrong=True)

    t_final = now()
    for q in queries.values():
        q.processAllAvailable()
    progress = _progress(queries)
    tr.add("final", t_final, now())
    for name, q in queries.items():
        if q.exception() is not None:
            run.fail(f"view:{name}", q.exception())
    for p in progress:
        phase = catchup if p["t_start"] < catchup.end else live
        tr.add(f"batch:{p['view']}", p["t_start"], p["t_end"], phase, batch=p["batchId"])

    return {
        "stream": stream, "queries": queries, "broker": broker, "log": log,
        "catchup": catchup, "live": live, "generator": gen, "e2d": e2d,
        "progress": progress, "renders": client.renders, "cold_s": cold_s,
        "backlog_events": backlog_events, "backlog_end": backlog_end,
        "drained": drained,
    }


def cta_metrics(res: dict) -> dict:
    live = [r for r in res["renders"] if r["phase"] == "live"]
    e2d = {k: v for k, v in res["e2d"].items() if k != "unseen"}
    return {
        "catchup_eps": res["backlog_events"] / res["cold_s"],
        "catchup_s": res["cold_s"],
        "render_p50_s": median([r["end"] - r["start"] for r in live]) if live else float("nan"),
        "generator_late_p50_s": (median(res["generator"].late_s)
                                 if res["generator"].late_s else float("nan")),
        **e2d,
    }


def segment_count(log: str) -> int:
    n = 0
    for root, _dirs, files in os.walk(log):
        n += sum(f.endswith(".parquet") for f in files)
    return n
