"""Repository benchmark runner.

    python3 perfbench/run.py --workload serial --seed 1 --seconds 5 --trace 0

    # every workload, each metric by name and unit, results checked:
    for w in serial curation; do
        python3 perfbench/run.py --workload $w --seed 1 --trace 0 | tail -1
    done

Runs one workload of the frozen op lists in ``perfbench/ops.json`` over
the sf0.01 tables committed in ``perfbench/data`` and prints, as its last
stdout line, one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics of
``BENCHMARK.json`` and appends the run to
``.perfbench-work/results/<workload>.jsonl`` (the input of
``compare.py``). ``--trace 1`` is a separate run that reports the
per-layer metrics: it turns Spark's event log on, gives every op phase its
own job group, forces analysis/optimization and physical planning phase
by phase, and writes the spans and ``layers.json`` under
``.perfbench-work/traces/<workload>/``. The traced curation run then
stages every artifact into an empty directory, one call each
(``queries.stage_s.<artifact>``), and maps each artifact to the ops whose
``inputFiles()`` read it.

Workloads (closed loops; the op order of a pass is a permutation drawn
from ``--seed``; ``perfbench/freeze.py`` says how the lists were chosen):

- ``serial``: one client running the declared relational queries q01-q35
  and one streaming drain (a Trigger.AvailableNow replay) per streaming
  mechanism, one op at a time.
- ``curation``: ``nproc`` clients sharing one session, running the
  curation ops that cover every staged artifact and Python UDF kind.
  The ops are dealt to the clients in cost-balanced shards, so the pass
  wall time does not hinge on which slow op the order leaves for last.

End-to-end metrics (untraced run): ``setup_s``, the median of three
session set-ups (the first from process start, so it also launches the
JVM; the others restart the session in it), and ``pass_s``, the wall time
of one pass (the median when a run makes several). A run repeats whole
passes until ``--seconds`` have been measured; every pass completes. Each op is timed from the start of its construction call to
the end of ``toPandas()``; its result is hashed afterwards, outside the
timed span, and compared with ``perfbench/expected.json`` (canonical
hashes of the DuckDB oracle). An op that raises or mismatches counts as
failed and is named on stderr.

Isolation: everything the run writes (Spark local dirs, temp files,
warehouse, artifacts, traces) lives under ``.perfbench-work/`` in the
checkout. Warm artifacts are staged once per source digest of
``deva_spark/`` by a separate process, so staging never enters a warm
run's metrics and two commits never share a staging.
"""

from __future__ import annotations

import argparse
import contextlib
import fcntl
import json
import os
import random
import shutil
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import core  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench-work")
SETUPS = 3
WARMUP_TABLE = "lineitem"
CPUS = len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# isolation and session
# ---------------------------------------------------------------------------


def warm_artifact_dir() -> str:
    return os.path.join(WORK, "artifacts", core.source_digest(os.path.join(ROOT, "deva_spark")))


def isolate(run_dir: str, event_log_dir: str | None) -> None:
    """Point every location Spark, Python and the program write to into
    ``run_dir``. Must run before the JVM starts."""
    local, tmp, wh = (os.path.join(run_dir, d) for d in ("local", "tmp", "warehouse"))
    for d in (local, tmp, wh):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # no /tmp/hsperfdata: neither the launcher JVM nor the driver JVM
    # writes outside the checkout
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["DEVA_ARTIFACT_DIR"] = warm_artifact_dir()
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    # Python workers import deva_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    conf = [
        f"spark.sql.warehouse.dir={wh}",
        f"spark.driver.extraJavaOptions={jvm_opts}",
    ]
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{event_log_dir}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["DEVA_EXTRA_CONF"] = ";".join(conf)


def build_session():
    """Session start: program import, context, table registration and one
    warm-up action on a plan that is no benchmark op."""
    from deva_spark import queries  # noqa: F401 -- registry import is set-up work
    from deva_spark.session import TABLES, get_spark, read_table

    spark = get_spark("perfbench", cpus=CPUS)
    for t in TABLES:
        read_table(spark, core.DATA_DIR, t)
    read_table(spark, core.DATA_DIR, WARMUP_TABLE).groupBy("l_returnflag").count().toPandas()
    return spark


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def ensure_warm_staging() -> None:
    """Stage every artifact once per source digest, in a child process so
    the measured JVM starts equally cold on every run."""
    target = warm_artifact_dir()
    done = os.path.join(target, ".staged")
    os.makedirs(os.path.dirname(target), exist_ok=True)
    with open(target + ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(done):
            return
        shutil.rmtree(target, ignore_errors=True)  # a killed earlier staging
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--stage-only"],
            check=True,
            stdout=sys.stderr,
            cwd=ROOT,
        )
        with open(done, "w"):
            pass


def stage_only() -> None:
    run_dir = os.path.join(WORK, "runs", f"stage-{os.getpid()}")
    try:
        isolate(run_dir, None)
        from deva_spark import queries as Q

        spark = build_session()
        try:
            took = Q.stage_artifacts(spark, core.DATA_DIR)
        finally:
            shutdown(spark)
        print(f"# staged {len(took)} artifacts in {sum(took.values()):.1f}s", file=sys.stderr)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


# ---------------------------------------------------------------------------
# measurement helpers
# ---------------------------------------------------------------------------


class RssSampler:
    """Peak summed RSS of this process's descendants (the JVM and the
    Python workers), sampled from /proc."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _descendants_rss(self) -> int:
        parent: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
        children: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            children.setdefault(ppid, []).append(pid)
        mine, todo = [], [os.getpid()]
        while todo:
            kids = children.get(todo.pop(), [])
            mine += kids
            todo += kids
        total = 0
        for pid in mine:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._descendants_rss())
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def progress_listener():
    """A StreamingQueryListener keeping every micro-batch progress."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.batches: list[dict] = []
            self.started = 0
            self.terminated = 0
            self.run_ids: set[str] = set()
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            # delivered synchronously, before DataStreamWriter.start() returns
            with self._lock:
                self.started += 1
                # micro-batch jobs run in a job group named by the run id
                self.run_ids.add(str(event.runId))

        def onQueryProgress(self, event):
            p = event.progress
            ops = p.stateOperators or []
            rec = {
                "query": str(p.id),
                "batch": p.batchId,
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs or {}),
                "state_rows": sum(s.numRowsTotal for s in ops),
                "state_bytes": sum(s.memoryUsedBytes for s in ops),
                "state_commit_ms": sum(s.commitTimeMs for s in ops),
            }
            with self._lock:
                self.batches.append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._lock:
                self.terminated += 1

        def wait_terminated(self, n: int, timeout: float = 30.0) -> None:
            end = time.monotonic() + timeout
            while self.terminated < n and time.monotonic() < end:
                time.sleep(0.05)

    return Progress()


class Tracer:
    """Spans kept in memory, written out when the run ends."""

    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, parent: str | None, op: str) -> str:
        with self._lock:
            sid = f"s{len(self.spans)}"
            self.spans.append({"id": sid, "name": name, "start": start, "end": end, "parent": parent, "op": op})
        return sid

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


# ---------------------------------------------------------------------------
# the workload
# ---------------------------------------------------------------------------


def set_group(spark, group: str | None) -> None:
    """Job group of the calling thread's later jobs (None clears it)."""
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)


def run_op(spark, name: str, tracer: Tracer | None, op_id: str):
    """Run one op; return (result frame, dtypes, error, seconds)."""
    from deva_spark import queries as Q

    fn = Q.SPARK_QUERIES[name]
    phases = []
    t0 = time.perf_counter()
    try:
        if tracer:
            set_group(spark, f"pb:{op_id}:construct")
        df = fn(spark, core.DATA_DIR)
        phases.append(("construct", time.perf_counter()))
        if tracer:
            qe = df._jdf.queryExecution()
            qe.optimizedPlan()
            phases.append(("analyze_optimize", time.perf_counter()))
            qe.executedPlan()
            phases.append(("physical", time.perf_counter()))
            set_group(spark, f"pb:{op_id}:action")
        pdf = df.toPandas()
        t1 = time.perf_counter()
        phases.append(("action", t1))
        err = None
    except Exception as exc:  # an op failure is a result, not a crash
        import traceback

        traceback.print_exc(file=sys.stderr)
        pdf, df, err, t1 = None, None, exc, time.perf_counter()
    finally:
        if tracer:
            set_group(spark, None)
    if tracer:
        parent = tracer.add("op", t0, t1, None, op_id)
        start = t0
        for phase, end in phases:
            tracer.add(phase, start, end, parent, op_id)
            start = end
    dtypes = df.dtypes if df is not None else None
    return pdf, dtypes, err, t1 - t0


def run_pass(spark, shards: list[list[str]], tracer: Tracer | None, pass_no: int):
    """One closed-loop pass: each client runs its shard of ops one after
    another, all clients at once. Returns (wall seconds, {op: (pdf,
    dtypes, error, seconds)})."""
    from concurrent.futures import ThreadPoolExecutor

    def client(shard: list[str]):
        return [(name, run_op(spark, name, tracer, f"{pass_no}:{name}")) for name in shard]

    t0 = time.perf_counter()
    if len(shards) == 1:
        out = dict(client(shards[0]))
    else:
        with ThreadPoolExecutor(max_workers=len(shards)) as pool:
            out = {k: v for done in pool.map(client, shards) for k, v in done}
    return time.perf_counter() - t0, out


def stage_cold(spark, cold_dir: str, tracer: Tracer) -> tuple[dict[str, float], dict[str, int]]:
    """Stage every artifact into an empty directory, one call each.
    Returns (seconds per artifact, bytes on disk per artifact)."""
    from deva_spark import queries as Q
    from deva_spark.queries import _infra

    warm = os.environ["DEVA_ARTIFACT_DIR"]
    os.environ["DEVA_ARTIFACT_DIR"] = cold_dir
    took: dict[str, float] = {}
    size: dict[str, int] = {}
    try:
        for name in list(_infra.ARTIFACT_BUILDERS) + list(_infra.ARTIFACT_STAGERS):
            set_group(spark, f"pb:stage:{name}")
            t0 = time.perf_counter()
            Q.stage_artifacts(spark, core.DATA_DIR, [name])
            t1 = time.perf_counter()
            set_group(spark, None)
            tracer.add("stage", t0, t1, None, name)
            took[name] = t1 - t0
            path = _infra.staged_artifact_path(core.DATA_DIR, name)
            size[name] = sum(
                os.path.getsize(os.path.join(b, f)) for b, _, fs in os.walk(path) for f in fs
            ) if path else 0
    finally:
        os.environ["DEVA_ARTIFACT_DIR"] = warm
    return took, size


def consumer_map(spark, ops: list[str]) -> dict[str, list[str]]:
    """Artifact name -> ops whose plan reads it, by matching
    ``DataFrame.inputFiles()`` against the staged artifact directories."""
    from deva_spark import queries as Q
    from deva_spark.queries import _infra

    dirs = {}
    for name in list(_infra.ARTIFACT_BUILDERS) + list(_infra.ARTIFACT_STAGERS):
        path = _infra.staged_artifact_path(core.DATA_DIR, name)
        if path:
            dirs[name] = os.path.abspath(path) + os.sep
    out: dict[str, list[str]] = {name: [] for name in dirs}
    for op in ops:
        try:
            files = Q.SPARK_QUERIES[op](spark, core.DATA_DIR).inputFiles()
        except Exception as exc:  # a failed op is reported by the pass
            print(f"# consumer map: {op}: {exc!r}", file=sys.stderr)
            continue
        paths = {f.split(":", 1)[1] if f.startswith("file:") else f for f in files}
        for name, d in dirs.items():
            if any(p.startswith(d) or p.startswith("//" + d) for p in paths):
                out[name].append(op)
    return out


def check_results(results: dict, expected: dict, outcomes: core.Outcomes) -> None:
    for name, (pdf, dtypes, err, _) in results.items():
        got = None
        if err is None:
            try:
                got = core.result_hash(pdf, dtypes)[0]
            except Exception as exc:  # noqa: BLE001 -- an unhashable result is a failure
                err = exc
        outcomes.record(name, err, got, expected[name]["hash"])


def untraced_pass_s(args) -> float:
    """Median ``pass_s`` of the untraced runs of this workload recorded in
    this checkout; runs one untraced run first when none is recorded."""
    path = os.path.join(WORK, "results", f"{args.workload}.jsonl")
    if not os.path.exists(path):
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
            check=True, stdout=subprocess.DEVNULL, cwd=ROOT,
        )
    with open(path) as fh:
        values = [json.loads(line)["metrics"]["pass_s"] for line in fh if line.strip()]
    return core.median(values)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(core.load_json(core.OPS_FILE)["workloads"]))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--stage-only", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    os.chdir(ROOT)
    if args.stage_only:
        stage_only()
        return 0
    if not args.workload:
        ap.error("--workload is required")

    bench = core.load_json(core.BENCHMARK_FILE)
    ops_def = core.load_json(core.OPS_FILE)
    expected = core.load_json(core.EXPECTED_FILE)
    spec = ops_def["workloads"][args.workload]
    ops = list(spec["ops"])
    random.Random(args.seed).shuffle(ops)
    clients = CPUS if spec["clients"] == "nproc" else int(spec["clients"])
    cost = {n: ops_def["evidence"][n]["seconds"] for n in ops}
    shards = core.shards(ops, cost, clients)

    ensure_warm_staging()
    base_pass_s = untraced_pass_s(args) if args.trace else None

    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    trace_dir = os.path.join(WORK, "traces", args.workload)
    if args.trace:
        shutil.rmtree(trace_dir, ignore_errors=True)
    tracer = Tracer() if args.trace else None
    try:
        isolate(run_dir, os.path.join(trace_dir, "eventlog") if args.trace else None)
        t0 = time.perf_counter()
        spark = build_session()
        setups = [time.perf_counter() - t0]
        try:
            for _ in range(SETUPS - 1):
                t1 = time.perf_counter()
                spark.stop()
                spark = build_session()
                setups.append(time.perf_counter() - t1)
            listener = None
            if tracer:
                listener = progress_listener()
                spark.streams.addListener(listener)

            outcomes = core.Outcomes()
            walls: list[float] = []
            op_times: list[dict[str, float]] = []  # per pass: op -> seconds
            # sampling /proc costs CPU, so only the traced run pays it
            rss = RssSampler() if tracer else contextlib.nullcontext()
            with rss:
                measured = 0.0
                while not walls or measured < args.seconds:
                    wall, results = run_pass(spark, shards, tracer, len(walls))
                    walls.append(wall)
                    measured += wall
                    op_times.append({n: r[3] for n, r in results.items()})
                    check_results(results, expected, outcomes)
                    del results
            if tracer:
                drains = sum(1 for o in ops if ops_def["evidence"][o]["streaming"])
                listener.wait_terminated(len(walls) * drains)
                stage_s, stage_bytes, consumers = {}, {}, {}
                if args.workload == "curation":
                    stage_s, stage_bytes = stage_cold(spark, os.path.join(run_dir, "cold"), tracer)
                    set_group(spark, "pb:consumer-map")
                    consumers = consumer_map(spark, spec["ops"])
                    set_group(spark, None)
        finally:
            shutdown(spark)

        samples = [t for p in op_times for t in p.values()]
        e2e = {"setup_s": core.median(setups), "pass_s": core.median(walls)}
        # Op latency, reported but not bounded: its median and the highest
        # percentile with ten samples beyond it rest on one or two of 29-40
        # heterogeneous ops, and which ops run slow moves with the op order
        # (they spread 15-28% between runs of one commit, pass_s 6-13%).
        latency = {"op_p50_s": core.median(samples), "samples": len(samples)}
        if len(samples) > 10:
            latency["op_tail_s"], latency["tail_percentile"] = core.tail(samples)
        print(
            f"# {args.workload} seed={args.seed}: passes={len(walls)} {latency} "
            f"setups={[round(s, 3) for s in setups]}",
            file=sys.stderr,
        )
        if outcomes.failed:
            print(f"# failed ops: {outcomes.failed_names}", file=sys.stderr)
        if args.trace:
            values = trace_layers(
                trace_dir, tracer, listener.batches, listener.run_ids, setups, walls, base_pass_s,
                stage_s, stage_bytes, consumers, len(walls) * len(ops), rss.peak / 2**20,
            )
            wanted = bench["per_layer"]
        else:
            os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
            with open(os.path.join(WORK, "results", f"{args.workload}.jsonl"), "a") as fh:
                fh.write(json.dumps({
                    "workload": args.workload, "seed": args.seed, "metrics": e2e,
                    "latency": latency,
                    "failed": outcomes.failed_names, "op_seconds": op_times,
                }) + "\n")
            values = e2e
            wanted = bench["end_to_end"]
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": outcomes.failed == 0,
        "attempted": outcomes.attempted,
        "failed": outcomes.failed,
        "metrics": metrics,
    }))
    return 0


def trace_layers(trace_dir, tracer, batches, run_ids, setups, walls, base_pass_s,
                 stage_s, stage_bytes, consumers, n_ops, peak_rss_mb) -> dict[str, float]:
    """Per-layer metrics of a traced run; writes spans.json and
    layers.json next to the event log."""
    import glob

    from deva_spark.queries import _infra

    from perfbench.eventlog import EventLog

    logs = sorted(glob.glob(os.path.join(trace_dir, "eventlog", "*")), key=os.path.getmtime)
    log = EventLog.from_file(logs[-1])  # the measured session is the last one

    def op_group(g):
        return bool(g) and g.startswith("pb:") and g.split(":")[1].isdigit()

    def in_pass(g):
        return op_group(g) or g in run_ids

    ex = log.totals(in_pass)
    construct_groups = log.group_jobs(lambda g: op_group(g) and g.endswith(":construct"))
    writes = log.totals(lambda g: in_pass(g) or (bool(g) and g.startswith("pb:stage:")))
    mb = 2**20

    def dur(key: str) -> float:
        return sum(b["duration_ms"].get(key, 0) for b in batches)

    last_state: dict[str, dict] = {}
    for b in batches:
        last_state[b["query"]] = b
    v = {
        "session.start_s": setups[0],
        "session.peak_rss_mb": peak_rss_mb,
        "queries.construct_s": tracer.total("construct"),
        "queries.construct_jobs": sum(construct_groups.values()),
        "queries.pure_construct_ratio": 1 - len(construct_groups) / n_ops,
        "catalyst.analyze_optimize_s": tracer.total("analyze_optimize"),
        "catalyst.physical_s": tracer.total("physical"),
        "exec.action_s": tracer.total("action"),
        "exec.jobs": ex.get("jobs", 0),
        "exec.stages": ex.get("stages", 0),
        "exec.tasks": ex.get("tasks", 0),
        "exec.task_run_s": ex.get("run_s", 0),
        "exec.task_cpu_s": ex.get("cpu_s", 0),
        "exec.gc_s": ex.get("gc_s", 0),
        "exec.shuffle_write_mb": ex.get("shuffle_write_bytes", 0) / mb,
        "exec.shuffle_read_mb": ex.get("shuffle_read_bytes", 0) / mb,
        "exec.spill_mb": ex.get("spill_bytes", 0) / mb,
        "exec.scan_mb": ex.get("scan_bytes", 0) / mb,
        "exec.result_mb": ex.get("result_bytes", 0) / mb,
        "operators.agg_build_s": ex.get("agg_build", 0),
        "operators.sort_s": ex.get("sort", 0),
        "operators.join_build_s": ex.get("join_build", 0),
        "operators.broadcast_build_s": ex.get("broadcast_build", 0),
        "functions.python_s": ex.get("python", 0),
        "functions.python_boot_s": ex.get("python_boot", 0),
        "functions.python_init_s": ex.get("python_init", 0),
        "functions.python_sent_mb": ex.get("python_sent", 0) / mb,
        "functions.python_recv_mb": ex.get("python_recv", 0) / mb,
        "functions.python_rows_out": ex.get("python_rows_out", 0),
        "sources.write_mb": writes.get("write_bytes", 0) / mb,
        "sources.write_files": writes.get("write_files", 0),
        "streaming.batches": len(batches),
        "streaming.input_rows": sum(b["rows"] for b in batches),
        "streaming.trigger_ms": dur("triggerExecution"),
        "streaming.latest_offset_ms": dur("latestOffset"),
        "streaming.planning_ms": dur("queryPlanning"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.commit_ms": dur("commitOffsets") + dur("walCommit"),
        "streaming.state_rows": sum(b["state_rows"] for b in last_state.values()),
        "streaming.state_mb": sum(b["state_bytes"] for b in last_state.values()) / mb,
        "streaming.state_commit_ms": sum(b["state_commit_ms"] for b in batches),
        "trace.overhead_ratio": core.median(walls) / base_pass_s,
    }
    for name in list(_infra.ARTIFACT_BUILDERS) + list(_infra.ARTIFACT_STAGERS):
        v[f"queries.stage_s.{name}"] = stage_s.get(name, 0.0)
    with open(os.path.join(trace_dir, "spans.json"), "w") as fh:
        json.dump(tracer.spans, fh)
    with open(os.path.join(trace_dir, "layers.json"), "w") as fh:
        json.dump({
            "metrics": v,
            "staging": {
                name: {"stage_s": stage_s[name], "bytes": stage_bytes[name], "consumers": consumers.get(name, [])}
                for name in stage_s
            },
            "untraced_pass_s": base_pass_s,
        }, fh, indent=1, sort_keys=True)
    return v


if __name__ == "__main__":
    sys.exit(main())
