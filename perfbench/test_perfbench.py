"""Self-tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import collections
import json
import os

import pandas as pd
import pytest

from perfbench import batch, check, cta, datagen
from perfbench import run as bench
from perfbench.trace import (
    Tracer,
    e2d_summary,
    group_counts,
    probe_latencies,
    read_event_log,
    spark_layer,
    tail_percentile,
)

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


# ---------------------------------------------------------- percentile rule


@pytest.mark.parametrize("n,want", [
    (0, None), (9, None), (19, None), (20, 50), (39, 50), (40, 75),
    (99, 75), (100, 90), (199, 90), (200, 95), (1000, 99), (10_000, 99.9),
])
def test_tail_percentile_needs_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


# ---------------------------------------------------------- probe accounting


def test_probe_seen_by_first_render_showing_an_id_at_least_as_high():
    due = {1: 0.0, 2: 1.0, 3: 2.0}
    # the first render shows nothing yet; the second shows probe 2, which
    # also proves probe 1 arrived; the third still shows 2
    renders = [(0.5, 0), (1.5, 2), (3.0, 2)]
    lat, unseen = probe_latencies(due, renders)
    assert lat == {1: 1.5, 2: 0.5}
    assert unseen == [3]


def test_render_before_a_probe_was_due_does_not_count_for_it():
    lat, unseen = probe_latencies({5: 10.0}, [(9.0, 7), (12.0, 7)])
    assert lat == {5: 2.0} and unseen == []


def test_unseen_probe_counts_as_failed_operation():
    class Run:
        workload, attempted, failures, wrong = "cta_live", 0, [], False

        def fail(self, op, exc, wrong=False):
            self.failures.append((op, type(exc).__name__))

    run = Run()
    _, unseen = probe_latencies({1: 0.0, 2: 0.1}, [(1.0, 1)])
    for p in unseen:
        run.fail(f"probe{p}", LookupError("never shown"))
    assert run.failures == [("probe2", "LookupError")]


def test_mostly_unseen_probes_keep_the_scheduled_percentile_and_are_censored():
    # 60 probes scheduled one per 0.4 s; the dashboard stalls after probe 9
    due = {n: 0.4 * n for n in range(60)}
    renders = [(0.4 * n + 1.0, n) for n in range(10)]
    s = e2d_summary(due, renders, t_end=60.0)
    assert s["probes"] == 60 and s["unseen"] == list(range(10, 60))
    assert s["e2d_tail_pct"] == 75  # from 60 scheduled, not 10 seen
    # unseen probes count at their wait until the end of observation
    # (60 - 0.4 n), so the median lies among them: (44.0 + 44.4) / 2
    assert s["e2d_p50_s"] == pytest.approx(44.2)
    assert s["e2d_tail_s"] > s["e2d_p50_s"] > 1.0


def test_every_probe_seen_gives_plain_latencies():
    due = {n: float(n) for n in range(40)}
    s = e2d_summary(due, [(n + 0.5, n) for n in range(40)], t_end=100.0)
    assert s["unseen"] == [] and s["e2d_tail_pct"] == 75
    assert s["e2d_p50_s"] == s["e2d_p75_s"] == s["e2d_tail_s"] == pytest.approx(0.5)


def test_too_few_probes_give_no_figure():
    s = e2d_summary({n: float(n) for n in range(19)}, [], t_end=30.0)
    assert s["e2d_tail_pct"] is None
    assert s["e2d_p50_s"] != s["e2d_p50_s"]  # NaN


def test_render_parse_reads_probe_and_entries():
    text = "\n".join([
        "Weather: 40F and Sunny",
        "== Blue Line ==",
        f"{'station':<16}{'dir a':<8}{'dir b':<8}entries",
        f"{'st000':<16}{'T001':<8}{'---':<8}12",
        f"{'probe':<16}{datagen.probe_id(41):<8}{'---':<8}0",
        f"{'st003':<16}{'---':<8}{'T007':<8}30",
    ])
    assert cta._parse_render(text) == (41, 42)


# ---------------------------------------------------------------- event log


def test_event_log_parser_on_captured_log():
    log = read_event_log(os.path.join(HERE, "testdata", "eventlog_small.json"))
    assert log.cores == 2
    counts = group_counts(log)
    assert counts["g:collect"] == (1, 2)
    assert counts["g:python"] == (1, 2)
    layer = spark_layer(log, 0, 4e9)
    assert layer["tasks"] == len(log.tasks) == 7
    assert layer["shuffle_write_bytes"] > 0
    assert layer["shuffle_read_bytes"] == layer["shuffle_write_bytes"]
    assert layer["python_bytes"] > 0
    assert 0 < layer["task_cpu_s"] <= layer["task_run_s"] + 1e-9
    assert 0.0 <= layer["idle_frac"] <= 1.0
    # a window that ends before every task counts nothing
    assert spark_layer(log, 0, 1)["tasks"] == 0


# ------------------------------------------------------------------- spans


def test_child_cover_merges_overlapping_children():
    tr = Tracer(True)
    parent = tr.add("pass", 0.0, 10.0)
    tr.add("a", 0.0, 4.0, parent)
    tr.add("b", 3.0, 6.0, parent)
    tr.add("c", 8.0, 12.0, parent)  # clipped at the parent's end
    assert tr.cover(parent) == pytest.approx(0.8)


# ------------------------------------------------------------- correctness


def _parity():
    cwd = os.getcwd()
    os.chdir(REPO)
    try:
        return check._parity()
    finally:
        os.chdir(cwd)


def test_perturbed_batch_result_is_caught():
    parity = _parity()
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0]})
    assert check.frame_problems(want.sample(frac=1.0, random_state=1), want, parity) == []
    bad = want.copy()
    bad.loc[1, "v"] = 1.26
    assert check.frame_problems(bad, want, parity) == ["value hash mismatch"]
    assert check.frame_problems(want.iloc[:2], want, parity) == ["rows 2 != 3"]


def _stream(ticks: int = 6):
    s = datagen.CtaStream(seed=3)
    for i in range(ticks):
        s.tick(i, 400, i)
    return s


def test_positions_oracle_matches_itself_and_catches_a_perturbation():
    s = _stream()
    want = check.expected_positions(s.arrivals)
    assert check.positions_problems(want.sample(frac=1.0, random_state=2), want) == []
    bad = want.copy().reset_index(drop=True)
    i = bad.index[bad.train_id.notna()][0]
    bad.loc[i, "train_id"] = "T999"
    assert check.positions_problems(bad, want) == ["positions differ on 1 keys"]


def test_positions_oracle_respects_event_time_not_arrival_order():
    # a late arrival (smaller ts, produced later) must lose to the newer one
    arrivals = [
        {"ts_ms": 200, "station_id": 1, "train_id": "T1", "direction": "a",
         "line": "red", "train_status": "in_service", "prev_station_id": None,
         "prev_direction": None, "seq": 1},
        {"ts_ms": 100, "station_id": 1, "train_id": "T2", "direction": "a",
         "line": "red", "train_status": "in_service", "prev_station_id": None,
         "prev_direction": None, "seq": 2},
    ]
    got = check.expected_positions(arrivals)
    assert got.train_id.tolist() == ["T1"]


def test_perturbed_turnstile_count_is_caught():
    s = _stream()
    got = pd.DataFrame(
        {"station_id": list(s.turnstile_counts), "count": list(s.turnstile_counts.values())})
    assert check.counts_problems(got, s.turnstile_counts) == []
    got.loc[0, "count"] += 1
    assert check.counts_problems(got, s.turnstile_counts) == [
        "turnstile counts differ on 1 stations"]


# ------------------------------------------------------------------ inputs


def test_inputs_depend_only_on_the_seed():
    a, b = datagen.batch_tables(7), datagen.batch_tables(7)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(datagen.batch_tables(8)["lineitem"])
    s1, s2 = _stream(), _stream()
    assert s1.arrivals == s2.arrivals and s1.turnstile_counts == s2.turnstile_counts


def test_stream_mix_and_probe_station():
    s = _stream(ticks=20)
    rows = s.station_rows()
    assert len(rows) == 230
    probes = [a for a in s.arrivals if a["station_id"] == datagen.PROBE_STATION]
    assert len(probes) == 20 and all(a["train_id"].startswith("P") for a in probes)
    regular = len(s.arrivals) - len(probes)
    share = regular / (regular + sum(s.turnstile_counts.values()))
    assert 0.12 < share < 0.18
    assert datagen.PROBE_STATION not in s.turnstile_counts
    late = sum(
        1 for a in s.arrivals
        if a["station_id"] != datagen.PROBE_STATION
        and a["ts_ms"] % datagen.SIM_TICK_MS != s.t0_ms % datagen.SIM_TICK_MS)
    assert 0.02 < late / regular < 0.08


def test_fixture_shape_is_reproduced():
    # Figures of the engine's 0.01-scale test fixture (TPC-H-style tables,
    # seed 42) that the registered queries are checked on. Its columns are
    # drawn independently: l_shipdate is not tied to o_orderdate, line
    # items are spread uniformly over orders, line numbers repeat.
    fixture = {"q3_frac": 0.2557, "dup_key_frac": 0.2361, "items_per_order": 4.07,
               "vocab": 31, "doc_tokens_mean": 54.3}
    t = {k: v.to_pandas() for k, v in datagen.batch_tables(5).items()}
    o, li, d = t["orders"], t["lineitem"], t["documents"]
    m = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
    got = {
        "q3_frac": ((m.o_orderdate < "1998-03-15") & (m.l_shipdate > "1998-03-15")).mean(),
        "dup_key_frac": li.duplicated(["l_orderkey", "l_linenumber"]).mean(),
        "items_per_order": li.groupby("l_orderkey").size().mean(),
        "vocab": len(collections.Counter(w for x in d.text for w in x.split())),
        "doc_tokens_mean": d.text.str.split().str.len().mean(),
    }
    assert {k: len(v) for k, v in t.items() if k != "region" and k != "nation"} == \
        datagen.TABLE_ROWS
    for k, want in fixture.items():
        assert got[k] == pytest.approx(want, rel=0.05), k


# ------------------------------------------------------------------ runner


def _benchmark_json() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_tables_come_from_benchmark_json(monkeypatch):
    monkeypatch.setattr(bench, "ROOT", REPO)
    spec = _benchmark_json()
    e2e = bench.metric_units("end_to_end")
    assert e2e == {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = bench.metric_units("per_layer")
    assert all(f"plans.{q}.s" in layers for q in batch.QUERIES)

    class Fake:
        workload = "sql_llm_batch"

    out = {"workload": {"pass_s": 5.0, "slowest_query_s": 2.0},
           "setup": {"setup_s": 9.0}, "rss_peak": 2**30}
    assert set(bench._e2e(Fake(), out)) == set(e2e)


def test_unmeasured_metric_makes_the_run_incorrect_without_crashing():
    units = {"steady_s": "s", "tail_s": "s"}
    good = bench.result_line(True, 10, 0, {"steady_s": 1.5, "tail_s": 2.0}, units)
    assert good["correct"] and good["metrics"]["tail_s"] == {"value": 2.0, "unit": "s"}
    bad = bench.result_line(True, 10, 3, {"steady_s": float("nan"), "tail_s": None}, units)
    assert not bad["correct"]
    assert bad["metrics"]["steady_s"]["value"] is None
    json.dumps(bad, allow_nan=False)  # still one valid JSON line
    assert not bench.result_line(False, 10, 1, {"steady_s": 1.0, "tail_s": 1.0},
                                 units)["correct"]


def test_deadline_grows_with_the_measuring_time():
    assert bench.deadline_s(24) < 180
    assert bench.deadline_s(100) > 100 + 60  # catch-up and drain still fit
