"""Correctness checks, run untimed after the measured phases.

Batch queries are compared with their ``oracle_sql()`` on DuckDB using
the parity harness's ``normalize`` and ``value_hash``. The CTA views are
compared with the generator's own tally: exact turnstile counts, and
train positions recomputed in pandas as the latest effect per key.
"""

from __future__ import annotations

import importlib.util
import os

import pandas as pd


def _parity():
    """tools/parity.py of the checkout (not a package, so load by path)."""
    path = os.path.join(os.getcwd(), "tools", "parity.py")
    spec = importlib.util.spec_from_file_location("perfbench_parity", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def frame_problems(got: pd.DataFrame, want: pd.DataFrame, parity) -> list[str]:
    """The parity harness's comparison: rows, columns, value hash."""
    problems = []
    if len(got) != len(want):
        problems.append(f"rows {len(got)} != {len(want)}")
    if sorted(got.columns) != sorted(want.columns):
        problems.append(f"cols {sorted(got.columns)} != {sorted(want.columns)}")
    if not problems:
        a, b = parity.normalize(got), parity.normalize(want)
        if parity.value_hash(a) != parity.value_hash(b):
            problems.append("value hash mismatch")
    return problems


def check_batch(run, names, results: dict, data_dir: str) -> None:
    """Compare each query's last result with its DuckDB oracle."""
    import duckdb

    import __spark_entry__ as entry

    parity = _parity()
    oracle = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in parity.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        for q in names:
            if q not in results:
                continue  # its failure is already recorded
            try:
                want = con.execute(oracle[q]).df()
            except Exception as exc:
                run.fail(f"check:{q}", exc, wrong=True)
                continue
            got = results[q]
            problems = frame_problems(got, want, parity)
            if problems:
                run.fail(f"check:{q}", ValueError("; ".join(problems)), wrong=True)
    finally:
        con.close()


def expected_positions(arrivals: list[dict]) -> pd.DataFrame:
    """Latest effect per (station_id, direction): every arrival arrives at
    its station and departs its previous one; order by (ts, seq, kind)
    with depart (0) before arrive (1). A winning depart leaves the slot
    empty."""
    a = pd.DataFrame(arrivals)
    arrive = a.assign(kind=1)[
        ["station_id", "direction", "ts_ms", "seq", "kind", "train_id", "train_status"]]
    d = a[a.prev_station_id.notna() & a.prev_direction.notna()]
    depart = pd.DataFrame({
        "station_id": d.prev_station_id.astype("int64"),
        "direction": d.prev_direction, "ts_ms": d.ts_ms, "seq": d.seq, "kind": 0,
        "train_id": None, "train_status": None,
    })
    eff = pd.concat([arrive, depart], ignore_index=True)
    eff = eff.sort_values(["ts_ms", "seq", "kind"])
    last = eff.drop_duplicates(["station_id", "direction"], keep="last")
    return last[["station_id", "direction", "train_id", "train_status"]]


def positions_problems(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    cols = ["station_id", "direction", "train_id", "train_status"]

    def norm(df):
        df = df[cols].copy()
        df["station_id"] = df["station_id"].astype("int64")
        df = df.astype({"train_id": object, "train_status": object})
        df = df.where(df.notna(), None)
        return df.sort_values(["station_id", "direction"]).reset_index(drop=True)

    g, w = norm(got), norm(want)
    if len(g) != len(w):
        return [f"positions rows {len(g)} != {len(w)}"]
    bad = (g.fillna("<null>") != w.fillna("<null>")).any(axis=1)
    return [f"positions differ on {int(bad.sum())} keys"] if bad.any() else []


def counts_problems(got: pd.DataFrame, tally: dict[int, int]) -> list[str]:
    have = {int(r.station_id): int(r["count"]) for _, r in got.iterrows()}
    if have != tally:
        diff = {k for k in set(have) | set(tally) if have.get(k) != tally.get(k)}
        return [f"turnstile counts differ on {len(diff)} stations"]
    return []


def check_cta(run, res) -> None:
    spark, stream = run.spark, res["stream"]
    for name, problems in (
        ("check:counts", counts_problems(spark.table("counts").toPandas(),
                                         stream.turnstile_counts)),
        ("check:positions", positions_problems(spark.table("positions").toPandas(),
                                               expected_positions(stream.arrivals))),
    ):
        if problems:
            run.fail(name, ValueError("; ".join(problems)), wrong=True)
