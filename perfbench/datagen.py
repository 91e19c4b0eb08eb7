"""Seeded inputs for the benchmark workloads.

Two generators, both pure functions of the seed:

- ``write_tables`` writes the ten batch tables the registered queries
  read (TPC-H-style star schema, an events table, documents and
  embeddings) as parquet, with the column names, types and value
  domains of the engine's test fixtures at their 0.01 scale. As there,
  each column is drawn on its own (line items spread uniformly over
  orders, ship dates not tied to order dates), so the queries see the
  shape they are checked on.
- ``CtaStream`` produces CTA-shaped JSON events for the broker: the
  230-row stations snapshot, hourly weather, and ticks of arrivals and
  turnstile entries with skewed station keys, about 5% of arrivals out
  of ``ts`` order, plus one probe arrival per tick on a reserved
  station.  It also keeps its own tally of what it produced, which the
  correctness check compares against the dashboard.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the fixtures' 0.01 scale.
TABLE_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
N_USERS = 150
EMBED_DIM = 64

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
_PART_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    start, end = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((end - start).astype(int))
    return (start + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def batch_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = TABLE_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(_SEGMENTS, nc),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    keys = np.arange(npart, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(_PART_TYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": rng.choice(_PRIORITIES, no),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
    })
    ne = n["events"]
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, ne))
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offs, pa.timestamp("us")),
        "user_id": rng.integers(0, N_USERS, ne).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts = [
        " ".join(rng.choice(_VOCAB, int(k))) for k in rng.integers(10, 100, nd)
    ]
    # 5% planted near-duplicates: another document's text plus one token
    for i in np.flatnonzero(rng.random(nd) < 0.05):
        texts[i] = texts[int(rng.integers(0, nd))] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, nd, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32),
    })
    return t


def write_tables(seed: int, out_dir: str) -> None:
    """Write the batch tables for ``seed`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in batch_tables(seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


# ------------------------------------------------------------------ CTA


LINES = ("blue", "green", "red")
N_STATIONS = 114  # plus the probe station, two stop rows each: 230 rows
PROBE_STATION = N_STATIONS  # reserved: no train or rider ever uses it
PROBE_PREFIX = "P"
ARRIVAL_SHARE = 0.15
OUT_OF_ORDER_SHARE = 0.05
SIM_TICK_MS = 60_000  # event time advances one simulated minute per tick
N_PARTITIONS = 4


def probe_id(n: int) -> str:
    """Fixed-width probe train id, short enough for the dashboard column."""
    return f"{PROBE_PREFIX}{n:06d}"


@dataclass
class CtaStream:
    """Seeded CTA event source. ``tick`` returns the records of one tick
    as ``{topic: [(key, value, ts_ms)]}`` and updates the tally."""

    seed: int
    t0_ms: int = 1_700_000_000_000
    turnstile_counts: dict[int, int] = field(default_factory=dict)
    arrivals: list[dict] = field(default_factory=list)
    n_events: int = 0
    _seq: int = 0
    _hour: int = -1

    def __post_init__(self) -> None:
        self.rng = np.random.default_rng(self.seed)
        # Zipf-like station popularity: a few hub stations take most riders
        w = 1.0 / np.arange(1, N_STATIONS + 1) ** 1.1
        self.station_p = self.rng.permutation(w / w.sum())
        self.n_trains = 30
        self.train_pos = self.rng.integers(0, N_STATIONS, self.n_trains)
        self.train_dir = self.rng.choice(["a", "b"], self.n_trains)
        self.train_prev: list[tuple[int, str] | None] = [None] * self.n_trains
        self.weather_temp = 40.0

    def station_rows(self) -> list[dict]:
        rows = []
        for sid in range(N_STATIONS + 1):
            line = LINES[sid % 3]
            name = f"st{sid:03d}" if sid != PROBE_STATION else "probe"
            for k, d in enumerate(("a", "b")):
                rows.append({
                    "stop_id": 30000 + 2 * sid + k, "direction_id": d,
                    "stop_name": f"{name} {d}", "station_name": name,
                    "station_descriptive_name": f"{name} ({line} line)",
                    "station_id": sid, "order": sid // 3,
                    "red": line == "red", "blue": line == "blue",
                    "green": line == "green",
                })
        return rows

    def stations_records(self) -> list[tuple]:
        return [
            (str(r["station_id"]).encode(), json.dumps(r).encode(), self.t0_ms)
            for r in self.station_rows()
        ]

    def _arrival(self, ts_ms: int, sid: int, train: str, d: str,
                 prev: tuple[int, str] | None) -> tuple:
        self._seq += 1
        a = {
            "ts_ms": ts_ms, "station_id": sid, "train_id": train,
            "direction": d, "line": LINES[sid % 3], "train_status": "in_service",
            "prev_station_id": prev[0] if prev else None,
            "prev_direction": prev[1] if prev else None, "seq": self._seq,
        }
        self.arrivals.append(a)
        return (str(sid).encode(), json.dumps(a).encode(), ts_ms)

    def tick(self, i: int, n_events: int, probe: int | None) -> dict[str, list[tuple]]:
        """Records for tick ``i`` (event time ``t0 + i * SIM_TICK_MS``):
        ``n_events`` arrivals and turnstile entries, the hourly weather
        report when the hour changes, and the probe arrival if given."""
        rng = self.rng
        ts = self.t0_ms + i * SIM_TICK_MS
        out: dict[str, list[tuple]] = {"arrivals": [], "turnstiles": [], "weather": []}
        hour = ts // 3_600_000
        if hour != self._hour:
            self._hour = hour
            self.weather_temp = float(np.clip(self.weather_temp + rng.normal(0, 2), -20, 100))
            w = {"ts_ms": ts, "temperature": round(self.weather_temp, 1),
                 "status": str(rng.choice(["sunny", "partly_cloudy", "cloudy",
                                           "windy", "precipitation"]))}
            out["weather"].append((None, json.dumps(w).encode(), ts))
        n_arr = int(rng.binomial(n_events, ARRIVAL_SHARE))
        trains = rng.integers(0, self.n_trains, n_arr)
        late = rng.random(n_arr) < OUT_OF_ORDER_SHARE
        for t, is_late in zip(trains, late):
            pos, d = int(self.train_pos[t]), str(self.train_dir[t])
            step = 1 if d == "a" else -1
            nxt = pos + step
            if nxt < 0 or nxt >= N_STATIONS:
                d = "b" if d == "a" else "a"
                nxt = pos - step
            ets = ts - int(rng.integers(1, 5 * SIM_TICK_MS)) if is_late else ts
            out["arrivals"].append(
                self._arrival(ets, nxt, f"T{t:03d}", d, self.train_prev[t]))
            self.train_pos[t], self.train_dir[t] = nxt, d
            self.train_prev[t] = (nxt, d)
        n_turn = n_events - n_arr
        sids = rng.choice(N_STATIONS, n_turn, p=self.station_p)
        for sid in sids.tolist():
            self.turnstile_counts[sid] = self.turnstile_counts.get(sid, 0) + 1
        out["turnstiles"] = [
            (str(s).encode(), b'{"ts_ms": %d, "station_id": %d}' % (ts, s), ts)
            for s in sids.tolist()
        ]
        if probe is not None:
            out["arrivals"].append(
                self._arrival(ts, PROBE_STATION, probe_id(probe), "a", None))
        self.n_events += sum(len(v) for v in out.values())
        return out
