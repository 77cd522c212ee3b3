"""Tests of the benchmark's own logic (no Spark session).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import ast
import json
import math
import os
import re
import statistics
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import compare, core  # noqa: E402
from perfbench.eventlog import EventLog  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(HERE), "fixtures", "eventlog_small.jsonl")


# -- percentile rule ----------------------------------------------------------


@pytest.mark.parametrize(
    "n, index, pct",
    [(11, 0, 100 / 11), (36, 25, 100 * 26 / 36), (100, 89, 90.0), (112, 101, 100 * 102 / 112)],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, index, pct):
    xs = list(range(n))[::-1]  # unsorted input
    value, got_pct = core.tail(xs)
    assert value == index
    assert sum(1 for x in xs if x > value) == 10
    assert got_pct == pytest.approx(pct)


def test_tail_needs_eleven_samples():
    with pytest.raises(ValueError):
        core.tail(list(range(10)))


def test_shards_balance_cost_and_keep_order():
    cost = {"a": 5.0, "b": 4.0, "c": 3.0, "d": 2.0, "e": 1.0, "f": 1.0}
    order = ["f", "e", "d", "c", "b", "a"]
    shards = core.shards(order, cost, 2)
    assert sorted(op for s in shards for op in s) == sorted(order)
    loads = [sum(cost[o] for o in s) for s in shards]
    assert max(loads) - min(loads) <= 1.0
    for s in shards:
        assert s == [o for o in order if o in s]
    assert core.shards(order, cost, 1) == [order]


def test_quartiles_match_statistics_quantiles():
    xs = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
    assert core.quartiles(xs) == tuple(statistics.quantiles(xs, n=4))


# -- event-log parser ---------------------------------------------------------


def _fixture_log() -> EventLog:
    return EventLog.from_file(FIXTURE)


def test_eventlog_counts_jobs_stages_tasks_per_group():
    log = _fixture_log()
    groups = log.group_jobs(lambda g: bool(g) and g.startswith("pb:"))
    assert groups == {"pb:0:q03_group_agg:action": 1, "pb:0:x29_rolling_hash:action": 1}
    q03 = log.totals(lambda g: g == "pb:0:q03_group_agg:action")
    assert q03["jobs"] == 1
    assert q03["stages"] == 2
    assert q03["tasks"] == 3
    assert q03["shuffle_write_bytes"] == 600
    assert q03["shuffle_read_bytes"] == 600
    assert q03["scan_bytes"] == 4096
    assert q03["run_s"] == pytest.approx(0.030)
    assert q03["cpu_s"] == pytest.approx(0.025)


def test_eventlog_sql_metrics_by_node_and_unit():
    log = _fixture_log()
    q03 = log.totals(lambda g: g == "pb:0:q03_group_agg:action")
    assert q03["agg_build"] == pytest.approx(0.012)  # timing metric, ms
    assert q03["broadcast_build"] == pytest.approx(0.005)  # driver-side update
    assert "python" not in q03
    udf = log.totals(lambda g: g == "pb:0:x29_rolling_hash:action")
    assert udf["python"] == pytest.approx(0.25)  # timing metric, ms
    assert udf["python_sent"] == 2048
    assert udf["python_rows_out"] == 500
    assert "agg_build" not in udf


def test_eventlog_ignores_ungrouped_jobs():
    log = _fixture_log()
    everything = log.totals(lambda g: True)
    grouped = log.totals(lambda g: bool(g))
    assert everything["jobs"] == grouped["jobs"] + 1


# -- failed-op accounting -----------------------------------------------------


def test_outcomes_count_raises_and_mismatches():
    o = core.Outcomes()
    o.record("a", None, "h1", "h1")
    o.record("b", RuntimeError("boom"), None, "h2")
    o.record("c", None, "h3", "other")
    o.record("c", None, "h3", "other")
    assert o.attempted == 4
    assert o.failed == 3
    assert o.failed_names == ["b", "c"]


def test_runner_counts_raised_and_mismatched_ops():
    from perfbench import run

    dtypes = [("k", "bigint")]
    good = pd.DataFrame({"k": [1, 2]})
    want = core.result_hash(good, dtypes)[0]
    results = {
        "ok": (good, dtypes, None, 0.1),
        "raised": (None, None, RuntimeError("boom"), 0.1),
        "wrong": (pd.DataFrame({"k": [1, 3]}), dtypes, None, 0.1),
    }
    expected = {name: {"hash": want} for name in results}
    o = core.Outcomes()
    run.check_results(results, expected, o)
    assert (o.attempted, o.failed, o.raised, o.mismatched) == (3, 2, ["raised"], ["wrong"])


def test_result_hash_reads_pandas_like_collect():
    """A toPandas frame hashes like the collect() rows of the same data:
    NaN-for-null in numeric columns, numpy arrays and scalars,
    pandas timestamps."""
    dtypes = [("k", "bigint"), ("v", "double"), ("arr", "array<float>"), ("ts", "timestamp")]
    pdf = pd.DataFrame({
        "k": [1.0, np.nan],
        "v": [0.5, np.nan],
        "arr": [np.array([0.1, 0.2], dtype=np.float32), np.array([], dtype=np.float32)],
        "ts": pd.to_datetime(["2024-01-01 00:00:01.5", None]),
    })
    import datetime as dt

    rows = [
        (1, 0.5, [float(np.float32(0.1)), float(np.float32(0.2))], dt.datetime(2024, 1, 1, 0, 0, 1, 500000)),
        (None, None, [], None),
    ]
    assert core.result_hash(pdf, dtypes) == core.frame_hash([c for c, _ in dtypes], rows)


# -- metric names -------------------------------------------------------------


METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_benchmark_metric_names_match_pattern():
    bench = core.load_json(core.BENCHMARK_FILE)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert names and all(METRIC_NAME.match(n) for n in names)
    assert len(set(names)) == len(names)
    assert [n for n in ["ok.name_1-x", "bad name", "bad/unit", "_lead", "x" * 65] if not METRIC_NAME.match(n)] == [
        "bad name", "bad/unit", "_lead", "x" * 65,
    ]


def test_stage_metrics_cover_every_artifact():
    from deva_spark.queries import _infra

    bench = core.load_json(core.BENCHMARK_FILE)
    staged = {m["name"].split(".", 2)[2] for m in bench["per_layer"] if m["name"].startswith("queries.stage_s.")}
    assert staged == set(_infra.ARTIFACT_BUILDERS) | set(_infra.ARTIFACT_STAGERS)


# -- frozen op lists ----------------------------------------------------------


def _bench_py_exclusions() -> set[str]:
    """The op names in bench.py's ``excluded`` set literal."""
    with open(os.path.join(ROOT, "bench.py")) as fh:
        tree = ast.parse(fh.read())
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and any(getattr(t, "id", None) == "excluded" for t in node.targets):
            return {c.value for c in ast.walk(node.value) if isinstance(c, ast.Constant) and isinstance(c.value, str)
                    and c.value in _registry()}
    raise AssertionError("bench.py has no `excluded` assignment")


def _registry() -> set[str]:
    from deva_spark import queries as Q

    return set(Q.SPARK_QUERIES)


def test_frozen_op_lists_are_disjoint_and_cover_the_timed_suite():
    """Every non-streaming op bench.py times, and every streaming drain,
    is in exactly one workload or named, with its reason, under
    ``dropped``."""
    ops = core.load_json(core.OPS_FILE)
    lists = {k: set(v["ops"]) for k, v in ops["workloads"].items()}
    dropped = set(ops["dropped"])
    names = [n for v in ops["workloads"].values() for n in v["ops"]] + list(dropped)
    assert len(names) == len(set(names)), "an op is in two lists"
    streaming = {n for n, e in ops["evidence"].items() if e["streaming"]}
    assert streaming <= _bench_py_exclusions()
    timed_batch = _registry() - _bench_py_exclusions()
    assert set(names) == timed_batch | streaming
    assert all(ops["dropped"][n] for n in dropped)
    # each workload keeps the layers it was chosen for
    serial = lists["serial"]
    assert {n for n in serial if n.startswith("q")} == {n for n in _registry() if n.startswith("q")}
    assert serial & streaming
    assert not lists["curation"] & streaming


def test_every_op_has_an_expected_hash():
    wl = core.load_json(core.OPS_FILE)["workloads"]
    expected = core.load_json(core.EXPECTED_FILE)
    for v in wl.values():
        for n in v["ops"]:
            assert len(expected[n]["hash"]) == 16


# -- comparison rule ----------------------------------------------------------


def test_compare_labels():
    base = [10.0 + 0.1 * i for i in range(10)]
    assert compare.verdict(base, [x * 0.8 for x in base], "lower", 0.1)["label"] == "improved"
    assert compare.verdict(base, [x * 1.3 for x in base], "lower", 0.1)["label"] == "worse"
    assert compare.verdict(base, list(base), "lower", 0.1)["label"] == "unchanged"
    noisy = [5.0, 15.0] * 5
    assert compare.verdict(noisy, noisy[::-1], "lower", 0.1)["label"] == "unresolved"
    assert compare.verdict(base, [x * 1.3 for x in base], "higher", 0.1)["label"] == "improved"
    assert not math.isnan(compare.verdict(base, base, "lower", 0.1)["better_by"])


def test_compare_reads_runner_records(tmp_path):
    rec = {"workload": "relational", "seed": 1, "metrics": {"pass_s": 1.0}, "failed": []}
    (tmp_path / "relational.jsonl").write_text(json.dumps(rec) + "\n" + json.dumps(rec) + "\n")
    assert compare.load_runs(str(tmp_path)) == {"relational": [{"pass_s": 1.0}, {"pass_s": 1.0}]}
