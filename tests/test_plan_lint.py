"""Global plan lint: blanket physical-plan bans swept over EVERY
registered batch query, generalizing test_plan_contracts' per-query
assertions into engine-wide invariants:

- no ``CartesianProduct`` anywhere — every intentional cross join must
  be a broadcast variant (a cartesian at 100 TB is a non-starter, and
  AQE can silently fall back to one when a broadcast hint is lost);
- no ``BatchEvalPython`` anywhere — row-at-a-time Python UDFs are the
  documented slow path; Python work must ride Arrow
  (MapInPandas/ArrowEvalPython) or stay JVM-side.

Streaming replays (the whole x3_ family — including
x3_stateful_stream_replay — and the x_stream_* queries) and the
generator pipeline are skipped: invoking them RUNS the stream, and the
plan of their driver-collected result rows is vacuous anyway; their
plan hygiene is pinned by their own tests. The ANN recall report is
skipped for runtime (it executes its searches at build time — its
components are linted individually and contract-pinned)."""

from __future__ import annotations

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"

SKIP_PREFIXES = ("x3_", "x_stream", "cta_fixture_dashboard_stream", "gen_scale")
SKIP = {"e3_ann_recall_report"}


def _unpartitioned_window(plan: str) -> bool:
    # windowspecdefinition(<partition cols,> <order col ASC|DESC ...>,
    # specifiedwindowframe(...)): when the FIRST argument is already an
    # ordering expression (carries ASC/DESC), the partition spec is
    # empty — the WindowExec that logs 'No Partition Defined' and
    # funnels the whole input through one task (round 9, VERDICT r8
    # #9: all bounded-frame rank attaches were rewritten onto
    # rank.attach_bounded_rank / stratified_cumsum, so the registry
    # must stay free of these)
    import re

    for m in re.finditer(r"windowspecdefinition\(([^,)]*)", plan):
        first = m.group(1)
        if " ASC" in first or " DESC" in first:
            return True
    return False


# per-table parquet scan budget (round 9): a plan that re-derives a
# shared subtree once per consumer re-SCANS the corpus once per
# consumer — x_kmv_intersection shipped at 18 events scans and
# e4_dsir_weights at 10 documents scans before their shared frames
# were localCheckpoint-ed. Legitimate multi-branch shapes (funnel
# stages, TPC-H correlated subqueries, two-pool retrieval fusions)
# sit at <= 5 today; anything above the budget is a lineage blowup.
MAX_SCANS_PER_TABLE = 6


def test_no_cartesian_row_udf_or_unpartitioned_window_in_any_plan(spark):
    import collections
    import re

    queries = entry.queries()
    names = [
        n for n in queries if not n.startswith(SKIP_PREFIXES) and n not in SKIP
    ]
    assert len(names) > 190  # the sweep really covers the registry
    cartesian, row_udf, bare_window, rescans = [], [], [], []
    for name in names:
        plan = (
            queries[name](spark, SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        if "CartesianProduct" in plan:
            cartesian.append(name)
        if "BatchEvalPython" in plan:
            row_udf.append(name)
        if _unpartitioned_window(plan):
            bare_window.append(name)
        scans = collections.Counter(
            re.findall(r"file:[^\s,\]]*?/(\w+)\.parquet", plan)
        )
        if scans and max(scans.values()) > MAX_SCANS_PER_TABLE:
            rescans.append((name, dict(scans)))
    assert not cartesian, f"CartesianProduct planned in: {cartesian}"
    assert not row_udf, f"row-at-a-time Python UDF planned in: {row_udf}"
    assert not bare_window, f"unpartitioned Window planned in: {bare_window}"
    assert not rescans, (
        f"per-table scan budget ({MAX_SCANS_PER_TABLE}) exceeded — "
        f"localCheckpoint the shared frame: {rescans}"
    )


def _broad_handlers(tree):
    """(query, line) for every bare ``except`` / ``except Exception`` /
    ``except BaseException`` inside a registered query, nested
    functions included."""
    import ast

    broad = {"Exception", "BaseException"}

    def is_broad(t):
        if t is None:
            return True
        if isinstance(t, ast.Tuple):
            return any(is_broad(e) for e in t.elts)
        return isinstance(t, ast.Name) and t.id in broad

    for fn in ast.walk(tree):
        if not isinstance(fn, ast.FunctionDef) or not any(
            isinstance(d, ast.Call) and getattr(d.func, "id", None) == "_register"
            for d in fn.decorator_list
        ):
            continue
        for node in ast.walk(fn):
            if isinstance(node, ast.ExceptHandler) and is_broad(node.type):
                yield fn.name, node.lineno


def test_no_broad_except_in_stream_query_bodies():
    """A foreachBatch body that catches any error and carries on with an
    empty frame turns a failed state read (IO error, schema drift) into
    silently wrong state. Stream queries create their empty state
    explicitly before the stream starts and let every error surface.
    Parse-only: starts no Spark."""
    import ast
    from pathlib import Path

    plans = Path(entry.__file__).parent / "public_transit_status_with_apache_kafka_spark" / "plans"
    found = []
    for mod in ("streaming_queries.py", "search_queries.py"):
        tree = ast.parse((plans / mod).read_text())
        found += [(mod, q, ln) for q, ln in _broad_handlers(tree)]
    assert not found, f"broad except in a registered query body: {found}"
    # the check itself bites: a planted fallback is found
    planted = ast.parse(
        "@_register('q')\n"
        "def q(spark, sf):\n"
        "    def ingest(bdf, eid):\n"
        "        try:\n"
        "            pass\n"
        "        except Exception:\n"
        "            pass\n"
    )
    assert list(_broad_handlers(planted)) == [("q", 6)]
