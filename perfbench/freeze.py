"""Regenerate the frozen benchmark definition: ``ops.json`` (the workload
op lists with the plan evidence they were classified from) and
``expected.json`` (canonical result hashes of every op's DuckDB oracle over
``perfbench/data/sf0.01``).

    python3 perfbench/freeze.py

Classification, over the registry at the current commit:

- stream: the op's construction starts a streaming query;
- relational: a declared query (q01-q35) whose executed plan has no
  Python/Arrow UDF node and whose input files include no staged artifact;
- curation: every other non-streaming op the suite times.

The ``serial`` workload runs the relational ops and the kept drains on
one client; ``curation`` runs the kept curation ops on ``nproc`` clients.
A run of every classified op does not fit the benchmark's time budget
(22 runs a workload, each with a fresh JVM, within one hour on 4 cores),
so two lists are cut to a cover, and every op left out is listed under
``dropped`` with the reason:

- curation keeps, for each staged artifact and each Python UDF operator
  kind the curation ops use, the first op in name order that reads or
  runs it; pure-JVM curation ops are covered by the relational queries;
- of the drains, the first in name order of each streaming mechanism in
  :data:`STREAM_MECHANISMS` is kept.

It also runs every op once through ``toPandas()``, records its seconds
(the cost the curation clients' shards are balanced on) and checks that
the canonical hash of that frame equals the oracle hash, so the runner's
result check cannot drift from the oracle gate.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import core, run  # noqa: E402

#: ops the suite does not time (bench.py's exclusions beyond the
#: streaming drains): sequential driver-side rounds whose cost is
#: per-round scheduler latency at test scale
UNTIMED = {
    "x111_chain_dedup_clusters": "star-contraction rounds are sequential scheduler-latency jobs",
    "x120_bpe_merge_table": "BPE merge rounds are sequential 1-row jobs",
}


#: streaming mechanism each drain exercises (read from its definition)
STREAM_MECHANISMS = {
    "x33_streaming_tumbling": "event-time window aggregation",
    "x34_streaming_sessions": "event-time window aggregation",
    "x63_streaming_trending": "event-time window aggregation",
    "x35_streaming_running_sum": "applyInPandasWithState",
    "x36_streaming_zscore": "applyInPandasWithState",
    "x69_streaming_funnel": "applyInPandasWithState",
    "x38_stream_interval_join": "stream joins",
    "x78_streaming_incremental_dedup": "stream joins",
    "x49_streaming_first_seen": "streaming dropDuplicates",
    "x71_streaming_retention": "streaming dropDuplicates",
}


def select(evidence: dict) -> tuple[dict[str, list[str]], dict[str, str]]:
    """The frozen op lists of the two workloads, and the reason each op
    left out of them was dropped. ``serial`` holds the relational queries
    and the streaming drains: both run one at a time on one client (a
    drain resets session-wide confs while it runs, so it cannot share the
    session with concurrent clients)."""
    stream_all = sorted(n for n, e in evidence.items() if e["streaming"])
    relational = sorted(
        n for n, e in evidence.items()
        if n.startswith("q") and not e["streaming"] and not e["udf_nodes"] and not e["artifacts"]
    )
    curation_all = sorted(
        n for n in evidence if n not in stream_all and n not in relational and n not in UNTIMED
    )
    dropped: dict[str, str] = {}
    curation: list[str] = []
    for kind in ("artifacts", "udf_nodes"):
        for item in sorted({i for n in curation_all for i in evidence[n][kind]}):
            users = [n for n in curation_all if item in evidence[n][kind]]
            if not set(users) & set(curation):
                curation.append(users[0])
    for n in curation_all:
        if n in curation:
            continue
        e = evidence[n]
        if e["artifacts"] or e["udf_nodes"]:
            dropped[n] = "time budget; its artifacts and UDF kinds are read by the kept curation ops"
        else:
            dropped[n] = "time budget; pure-JVM op, a layer the relational queries measure"
    stream: list[str] = []
    for mech in sorted(set(STREAM_MECHANISMS.values())):
        drains = sorted(n for n in stream_all if STREAM_MECHANISMS[n] == mech)
        stream.append(drains[0])
        for n in drains[1:]:
            dropped[n] = f"time budget; {drains[0]} drains through the same mechanism ({mech})"
    return {"serial": sorted(relational + stream), "curation": sorted(curation)}, dropped


def oracle_hashes() -> dict[str, dict]:
    import duckdb

    from deva_spark import queries as Q
    from deva_spark.session import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{core.DATA_DIR}/{t}.parquet')"
        )
    out = {}
    for name in sorted(Q.ORACLE_SQL):
        cur = con.execute(Q.ORACLE_SQL[name])
        cols = [d[0] for d in cur.description]
        h, n = core.frame_hash(cols, cur.fetchall())
        out[name] = {"hash": h, "rows": n}
    return out


def classify(expected: dict) -> tuple[dict, list[str]]:
    """Per-op plan evidence, plus the ops whose timed result hash differs
    from the oracle's."""
    from deva_spark import queries as Q
    from deva_spark.queries import _infra

    from perfbench.eventlog import PYTHON_NODES

    run_dir = os.path.join(run.WORK, "runs", f"freeze-{os.getpid()}")
    run.ensure_warm_staging()
    run.isolate(run_dir, None)
    spark = run.build_session()
    listener = run.progress_listener()
    spark.streams.addListener(listener)
    art_dirs = {
        name: os.path.abspath(_infra.staged_artifact_path(core.DATA_DIR, name)) + os.sep
        for name in list(_infra.ARTIFACT_BUILDERS) + list(_infra.ARTIFACT_STAGERS)
    }
    evidence, bad = {}, []
    try:
        for name in Q.SPARK_QUERIES:
            started = listener.started
            t0 = time.perf_counter()
            df = Q.SPARK_QUERIES[name](spark, core.DATA_DIR)
            pdf = df.toPandas()
            seconds = time.perf_counter() - t0
            streaming = listener.started > started
            plan = df._jdf.queryExecution().executedPlan().toString()
            files = [f.split(":", 1)[1] if f.startswith("file:") else f for f in df.inputFiles()]
            udf = sorted({n for n in PYTHON_NODES if n in plan})
            arts = sorted({a for a, d in art_dirs.items() if any(f.lstrip("/").startswith(d.lstrip("/")) for f in files)})
            got = core.result_hash(pdf, df.dtypes)[0]
            if got != expected[name]["hash"]:
                bad.append(name)
            evidence[name] = {
                "streaming": streaming, "udf_nodes": udf, "artifacts": arts, "seconds": round(seconds, 3),
            }
            print(f"# {name}: {evidence[name]} {'OK' if got == expected[name]['hash'] else 'MISMATCH'}", file=sys.stderr)
    finally:
        run.shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    return evidence, bad


def main() -> int:
    os.chdir(ROOT)
    expected = oracle_hashes()
    evidence, bad = classify(expected)
    lists, dropped = select(evidence)
    ops = {
        "workloads": {
            "serial": {"clients": 1, "ops": lists["serial"]},
            "curation": {"clients": "nproc", "ops": lists["curation"]},
        },
        "dropped": dropped,
        "untimed": UNTIMED,
        "evidence": {n: evidence[n] for n in sorted(evidence)},
    }
    with open(core.OPS_FILE, "w") as fh:
        json.dump(ops, fh, indent=1)
        fh.write("\n")
    with open(core.EXPECTED_FILE, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(" ".join(f"{k}={len(v)}" for k, v in lists.items()),
          f"dropped={len(dropped)} timed-result mismatches={bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
