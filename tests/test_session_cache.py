"""The one per-session cache (deva_spark/session.py).

Pins the lifecycle promise: everything the engine memoizes or persists
for a session is reachable only from that session, so a dropped session
is collectable, and ``release_session_cache`` unpersists what it
registered and deletes the directories it made. Also pins the Spark internal the plan memo's pure-plan guard
reads.
"""

from __future__ import annotations

import gc
import os
import sys
import threading
import types
import weakref

from pyspark import StorageLevel
from pyspark.sql.session import _monkey_patch_RDD

from deva_spark import queries as Q
from deva_spark.queries._infra import _jobs_submitted
from deva_spark.queries.similarity import _staged_docs, _staged_events
from deva_spark.session import (
    persist_now,
    read_table,
    release_session_cache,
    session_cache,
)
from deva_spark.streaming.twin import stage_emb_chunks


def test_jobs_submitted_counts_actions(spark):
    # the plan memo memoizes only constructions that launched no job;
    # if this internal stops answering, the memo silently turns off
    before = _jobs_submitted(spark)
    assert isinstance(before, int)
    spark.range(3).count()
    assert _jobs_submitted(spark) > before


def _populated_session(spark, sf_dir) -> weakref.ref:
    s2 = spark.newSession()
    read_table(s2, sf_dir, "region")
    for _ in range(2):  # the first build's schema-inference reads run jobs
        Q.SPARK_QUERIES["q12_multiway_join"](s2, sf_dir)
    persist_now(s2.range(7).selectExpr("id * 3 AS leak_probe"))
    assert session_cache(s2, "read")
    assert any(k[0] == "q12_multiway_join" for k in session_cache(s2, "plan"))
    assert len(session_cache(s2, "persisted")) == 1
    return weakref.ref(s2)


def test_dropped_session_is_collected(spark, sf_dir):
    ref = _populated_session(spark, sf_dir)
    try:
        # RDD.toDF's closure pins the newest session; point it back
        _monkey_patch_RDD(spark)
        gc.collect()
        assert ref() is None
    finally:
        spark.range(7).selectExpr("id * 3 AS leak_probe").unpersist()


def test_release_unpersists_everything_registered(spark):
    s3 = spark.newSession()
    try:
        a = persist_now(s3.range(5))
        b = persist_now(s3.range(6).selectExpr("id + 1 AS y"))
        assert persist_now(a) is a  # already persisted: not re-registered
        registered = list(session_cache(s3, "persisted").values())
        assert len(registered) == 2
        assert all(d.storageLevel != StorageLevel.NONE for d in registered)
        assert release_session_cache(s3) == 2
        assert all(d.storageLevel == StorageLevel.NONE for d in (a, b))
        assert session_cache(s3, "persisted") == {}
    finally:
        _monkey_patch_RDD(spark)


def test_release_deletes_staged_replay_chunks(spark, sf_dir):
    s4 = spark.newSession()
    try:
        dirs = [
            _staged_events(s4, sf_dir),
            _staged_docs(s4, sf_dir),
            stage_emb_chunks(s4, sf_dir, chunks=2),
        ]
        assert all(os.path.isdir(d) for d in dirs)
        release_session_cache(s4)
        assert not any(os.path.exists(d) for d in dirs)
    finally:
        _monkey_patch_RDD(spark)


def test_concurrent_first_use_shares_one_dict():
    # clients sharing a session can make its cache at the same moment;
    # a second dict raced into existence would lose one client's entry
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for _ in range(100):
            owner = types.SimpleNamespace()
            start = threading.Barrier(16)

            def put(i, owner=owner, start=start):
                start.wait(timeout=10)
                session_cache(owner, "plan")[i] = i

            threads = [threading.Thread(target=put, args=(i,)) for i in range(16)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=10)
            assert not any(t.is_alive() for t in threads)
            assert session_cache(owner, "plan") == {i: i for i in range(16)}
    finally:
        sys.setswitchinterval(old)
