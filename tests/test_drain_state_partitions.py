"""Drain state sizing: the partition count ``twin.run_available_now``
derives from a drain's plan.

Pins the Spark internals the rule reads (the analyzed streaming plan's
node names and the session-window column marker) and checks that every drain query's result is the same
under the derived count and a forced 8.
"""

from __future__ import annotations

import os
import shutil

import pytest

from deva_spark import queries as Q
from deva_spark.streaming import stateful, twin

DRAINS = (
    "x33_streaming_tumbling",
    "x34_streaming_sessions",
    "x35_streaming_running_sum",
    "x36_streaming_zscore",
    "x38_stream_interval_join",
    "x49_streaming_first_seen",
    "x63_streaming_trending",
    "x69_streaming_funnel",
    "x71_streaming_retention",
    "x78_streaming_incremental_dedup",
)


@pytest.fixture(scope="module")
def staged(spark, sf_dir):
    d = twin.stage_event_chunks(spark, sf_dir, chunks=4)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_tumbling_drain_gets_one_partition(spark, staged):
    s = twin.events_file_stream(spark, staged, files_per_trigger=2)
    assert twin.derived_state_partitions(twin.tumbling_counts(s)) == 1


def test_stream_interval_join_gets_one_partition(spark, staged):
    df = twin.stream_interval_join(
        twin.events_file_stream(spark, staged),
        twin.events_file_stream(spark, staged),
    )
    assert twin.derived_state_partitions(df) == 1


def test_python_stateful_drain_gets_one_partition_per_core(spark, staged):
    # defaultParallelism is the local[N] slot count, which may exceed
    # the cores this process can run on
    s = twin.events_file_stream(spark, staged, files_per_trigger=2)
    df = stateful.streaming_running_sum_exact(s)
    assert twin.derived_state_partitions(df) == min(
        spark.sparkContext.defaultParallelism, len(os.sched_getaffinity(0))
    )


def test_session_window_drain_gets_one_partition_per_core(spark, staged):
    # pins the column metadata key Spark puts on a session_window column
    df = twin.session_counts(twin.events_file_stream(spark, staged))
    assert twin.derived_state_partitions(df) == min(
        spark.sparkContext.defaultParallelism, len(os.sched_getaffinity(0))
    )


def _canon_rows(df) -> list[str]:
    return sorted(repr(tuple(r)) for r in df.collect())


@pytest.mark.parametrize("name", DRAINS)
def test_drain_result_invariant_to_state_partitions(
    spark, sf_dir, monkeypatch, name
):
    derived = _canon_rows(Q.SPARK_QUERIES[name](spark, sf_dir))
    monkeypatch.setattr(twin, "derived_state_partitions", lambda df: 8)
    assert _canon_rows(Q.SPARK_QUERIES[name](spark, sf_dir)) == derived
