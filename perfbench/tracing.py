"""Per-layer tracing for the benchmark, kept entirely outside the package.

A traced run wraps the layers' public functions where the pipeline looks
them up (module attributes such as ``jobs.write_table``), so each call
becomes a span: name, start, end and parent. A span's
children are the wrapped calls made inside it; a call on a thread with
no open span (the build's write pool, the streaming ``foreachBatch``
callback) is a child of the innermost span open on the main thread.

Each span sets a Spark job description (``pb:<span id>``), so task
metrics from the session's local event log are attributed to spans
after the run. Catalyst phase times come from a ``QueryExecutionListener``
and streaming phase times from a ``StreamingQueryListener``. Spans stay
in memory until the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

LAYERS = (
    "sources.index",
    "sources.fetch",
    "sources.xml_source",
    "extract",
    "jobs",
    "sinks",
    "bench",
)

# table family of each output table, by name prefix
FAMILIES = (
    ("CORE", "core"),
    ("F9-P07-", "part7"),
    ("SJ-", "schedj"),
    ("SCHED-N-", "schedn"),
)


def family(table: str) -> str | None:
    return next((f for p, f in FAMILIES if table.startswith(p)), None)


def layer_of(name: str) -> str:
    return next((lay for lay in LAYERS if name.startswith(lay)), "other")


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "attrs")

    def __init__(self, sid: int, name: str, parent: int | None, attrs: dict):
        self.id, self.name, self.parent, self.attrs = sid, name, parent, attrs
        self.start = time.time()
        self.end: float | None = None

    @property
    def dur(self) -> float:
        return (self.end or time.time()) - self.start


class Tracer:
    """Spans plus the Spark listeners; ``on`` gates all recording so a
    run can interleave traced and untraced iterations."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.on = False
        self.spans: list[Span] = []
        self.plans: list[dict] = []  # one per SQL execution
        self.progress: list[dict] = []  # one per streaming micro-batch
        self.cache_bytes = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main: list[Span] = []
        self._qe_listener = None
        self._sq_listener = None

    # ------------------------------------------------------------ spans

    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.on:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else (self._main[-1] if self._main else None)
        with self._lock:
            s = Span(len(self.spans), name, parent.id if parent else None, attrs)
            self.spans.append(s)
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(f"pb:{s.id}")
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.time()
            self.sc.setJobDescription(prev)

    def wrap(self, module, attr: str, name: str, table_arg: int | None = None):
        """Replace ``module.attr`` with a spanned call-through.
        ``table_arg``: index of a positional argument naming the table
        (a table name, or an output path whose last part is the name).
        After each table write the storage memory of cached data is
        sampled, which is when the persisted parse is largest."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.on:
                return fn(*args, **kwargs)
            attrs = {}
            if table_arg is not None and len(args) > table_arg:
                attrs["table"] = str(args[table_arg]).rstrip("/").rsplit("/", 1)[-1]
            with self.span(name, **attrs):
                out = fn(*args, **kwargs)
                if attr == "write_table":
                    self._sample_cache()
                return out

        setattr(module, attr, traced)

    def _sample_cache(self) -> None:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        used = sum(i.memSize() + i.diskSize() for i in infos)
        with self._lock:
            self.cache_bytes = max(self.cache_bytes, used)

    def install(self) -> None:
        """Wrap the layers' public functions as the pipeline calls them."""
        from irs_990_efiler_database_spark import jobs, sinks
        from irs_990_efiler_database_spark.sources import fetch, index

        for attr, name, table in (
            ("build_core", "extract.core_builder.build_core", None),
            ("build_rdb_table", "extract.rdb_builder.build_rdb_table", 1),
            ("build_schedn_table", "extract.schedn_builder.build_schedn_table", 1),
            ("read_return_bundle", "sources.xml_source.read_return_bundle", None),
            ("with_parsed_return", "sources.xml_source.with_parsed_return", None),
            ("split_corrupt", "sources.xml_source.split_corrupt", None),
            ("filter_index", "sources.index.filter_index", None),
            ("write_table", "sinks.write_table", 1),
            ("write_dead_letter", "sinks.write_dead_letter", 1),
            ("read_table", "sinks.read_table", 1),
            ("build_database", "jobs.build_database", None),
            ("build_database_incremental", "jobs.build_database_incremental", None),
            ("validate_database", "jobs.validate_database", None),
        ):
            self.wrap(jobs, attr, name, table)
        for attr, name, table in (
            ("write_table", "sinks.write_table", 1),
            ("write_dead_letter", "sinks.write_dead_letter", 1),
            ("read_table", "sinks.read_table", 1),
            ("upsert_partitions", "sinks.upsert_partitions", 1),
        ):
            self.wrap(sinks, attr, name, table)
        self.wrap(index, "build_index", "sources.index.build_index")
        self.wrap(index, "filter_index", "sources.index.filter_index")
        self.wrap(fetch, "fetch_returns", "sources.fetch.fetch_returns")
        self.wrap(fetch, "fetch_to_bundle", "sources.fetch.fetch_to_bundle")

    # -------------------------------------------------------- listeners

    def start(self) -> None:
        """Begin recording: spans, Catalyst phases, streaming progress."""
        from pyspark.java_gateway import ensure_callback_server_started
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class PlanListener:
            def onSuccess(self, func_name, qe, duration_ns):
                tracer._on_plan(qe)

            def onFailure(self, func_name, qe, exception):
                tracer._on_plan(qe)

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        class ProgressListener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with tracer._lock:
                    tracer.progress.append(
                        {
                            "at": time.time(),
                            "batch": p.batchId,
                            "rows": p.numInputRows,
                            "ms": dict(p.durationMs),
                        }
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        ensure_callback_server_started(self.sc._gateway)
        self._qe_listener = PlanListener()
        self.spark._jsparkSession.listenerManager().register(self._qe_listener)
        self._sq_listener = ProgressListener()
        self.spark.streams.addListener(self._sq_listener)
        self.on = True

    def stop(self) -> None:
        """Stop recording once the listener bus has delivered every
        event so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        self.on = False
        self.spark._jsparkSession.listenerManager().unregister(self._qe_listener)
        self.spark.streams.removeListener(self._sq_listener)

    def _on_plan(self, qe) -> None:
        phases = qe.tracker().phases()
        ms = {}
        it = phases.keySet().iterator()
        while it.hasNext():
            k = it.next()
            p = phases.get(k).get()
            ms[k] = (p.startTimeMs(), p.endTimeMs())
        if not ms:
            return
        with self._lock:
            self.plans.append(
                {
                    "at": min(s for s, _ in ms.values()) / 1000.0,
                    "ms": {k: e - s for k, (s, e) in ms.items()},
                }
            )


# ------------------------------------------------------------ event log


def read_event_log(log_dir: Path) -> tuple[dict, dict]:
    """(task metrics per span id, SQL driver metrics per span id) from
    the uncompressed local event log of the (stopped) session."""
    files = sorted(p for p in log_dir.iterdir() if p.is_file())
    stage_span: dict[int, int] = {}
    exec_span: dict[int, int] = {}
    accum_name: dict[int, str] = {}
    tasks: dict[int, defaultdict] = defaultdict(lambda: defaultdict(float))
    sql: dict[int, defaultdict] = defaultdict(lambda: defaultdict(float))

    def span_of(desc: str | None) -> int | None:
        if desc and desc.startswith("pb:"):
            return int(desc[3:])
        return None

    def plan_metrics(node: dict) -> None:
        for m in node.get("metrics", []):
            accum_name[m["accumulatorId"]] = m["name"]
        for ch in node.get("children", []):
            plan_metrics(ch)

    for f in files:
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    sid = span_of((e.get("Properties") or {}).get("spark.job.description"))
                    if sid is not None:
                        for st in e["Stage IDs"]:
                            stage_span[st] = sid
                elif ev == "SparkListenerTaskEnd":
                    sid = stage_span.get(e["Stage ID"])
                    tm = e.get("Task Metrics")
                    if sid is None or not tm:
                        continue
                    t = tasks[sid]
                    t["run_s"] += tm["Executor Run Time"] / 1e3
                    t["cpu_s"] += tm["Executor CPU Time"] / 1e9
                    t["gc_s"] += tm["JVM GC Time"] / 1e3
                    sr, sw = tm["Shuffle Read Metrics"], tm["Shuffle Write Metrics"]
                    t["shuffle_mb"] += (
                        sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                        + sw["Shuffle Bytes Written"]
                    ) / 1e6
                    t["spill_mb"] += (
                        tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
                    ) / 1e6
                    t["input_mb"] += tm["Input Metrics"]["Bytes Read"] / 1e6
                elif ev.endswith("SparkListenerSQLExecutionStart"):
                    sid = span_of(e.get("description"))
                    if sid is not None:
                        exec_span[e["executionId"]] = sid
                    plan_metrics(e.get("sparkPlanInfo") or {})
                elif ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    plan_metrics(e.get("sparkPlanInfo") or {})
                elif ev.endswith("SparkListenerDriverAccumUpdates"):
                    sid = exec_span.get(e["executionId"])
                    if sid is None:
                        continue
                    for acc, v in e["accumUpdates"]:
                        if accum_name.get(acc) == "number of files read":
                            sql[sid]["files_read"] += v
    return tasks, sql


# -------------------------------------------------------------- summary


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def iteration_metrics(
    tracer: Tracer, root: Span, tasks: dict, sql: dict, cores: int
) -> dict[str, float]:
    """Per-layer metrics of one traced iteration (``root`` is its
    ``bench.iteration`` span)."""
    spans = tracer.spans
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)

    def subtree(s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(children[x.id])
        return out

    inside = subtree(root)
    phase = {s.name: s for s in children[root.id]}
    under: dict[str, list[Span]] = {k: subtree(v) for k, v in phase.items()}

    def named(pool: list[Span], prefix: str) -> list[Span]:
        return [s for s in pool if s.name.startswith(prefix)]

    def task_sum(pool: list[Span], key: str) -> float:
        return sum(tasks.get(s.id, {}).get(key, 0.0) for s in pool)

    m: dict[str, float] = {}
    # self time per layer: duration minus the union of its children,
    # as a share of the iteration
    self_s: dict[str, float] = defaultdict(float)
    for s in inside:
        kids = [(max(c.start, s.start), min(c.end, s.end)) for c in children[s.id]]
        self_s[layer_of(s.name)] += s.dur - _union([k for k in kids if k[1] > k[0]])
    for lay in LAYERS:
        m[f"self_frac.{lay}"] = self_s.get(lay, 0.0) / root.dur

    land = under["bench.land"]
    land_wall = phase["bench.land"].dur
    amend = [x for s in named(land, "bench.amend") for x in subtree(s)]
    m["sources.index.share"] = sum(s.dur for s in named(land, "bench.index")) / land_wall
    m["sources.fetch.share"] = (
        sum(s.dur for s in named(land, "sources.fetch.fetch_to_bundle")) / land_wall
    )

    builds = named(land, "extract.")
    m["extract.compile_s"] = sum(s.dur for s in builds)
    lo, hi = phase["bench.land"].start, phase["bench.land"].end
    plans = [p for p in tracer.plans if lo <= p["at"] <= hi]
    for k in ("analysis", "optimization", "planning"):
        m[f"extract.plan.{k}_s"] = sum(p["ms"].get(k, 0) for p in plans) / 1e3
    m["extract.plan_s"] = sum(
        m[f"extract.plan.{k}_s"] for k in ("analysis", "optimization", "planning")
    )

    writes = named(land, "sinks.write_table")
    table_writes = [s for s in writes if s not in amend]
    for _, fam in FAMILIES:
        pool = [s for s in table_writes if family(s.attrs.get("table", "")) == fam]
        m[f"extract.task_s.{fam}"] = task_sum(pool, "run_s")
        m[f"extract.cpu_s.{fam}"] = task_sum(pool, "cpu_s")

    # queueing of table writes: a table is ready once the parse is split
    # into good and dead documents; its extraction starts later when it
    # waited for a pool thread (batch build) or for the tables before it
    # (a micro-batch writes its tables in turn)
    ready = sorted(s.end for s in named(land, "sources.xml_source.split_corrupt"))
    wait = 0.0
    for s in builds:
        before = [r for r in ready if r <= s.start]
        if before:
            wait += s.start - before[-1]
    m["jobs.write_wait_s"] = wait
    m["jobs.land_s"] = sum(s.dur for s in named(land, "jobs.build_database"))
    m["jobs.busy_frac"] = task_sum(land, "run_s") / (land_wall * cores)

    prog = [p for p in tracer.progress if lo <= p["at"] <= hi]
    trig = sum(p["ms"].get("triggerExecution", 0) for p in prog)
    m["jobs.incremental.batches"] = float(sum(1 for p in prog if p["rows"] > 0))
    for key, name in (
        ("addBatch", "add_batch_frac"),
        ("queryPlanning", "planning_frac"),
        ("walCommit", "wal_commit_frac"),
    ):
        m[f"jobs.incremental.{name}"] = (
            sum(p["ms"].get(key, 0) for p in prog) / trig if trig else 0.0
        )

    m["sinks.write_s"] = sum(s.dur for s in writes)
    m["sinks.upsert.share"] = (
        sum(s.dur for s in named(land, "sinks.upsert_partitions")) / land_wall
    )
    m["sinks.upsert.read_mb"] = task_sum(amend, "input_mb")
    query = under["bench.query"]
    m["sinks.read.files_scanned"] = sum(
        sql.get(s.id, {}).get("files_read", 0.0) for s in query
    )
    m["jobs.validate_s"] = sum(s.dur for s in named(query, "jobs.validate_database"))
    for key in ("gc_s", "shuffle_mb", "spill_mb"):
        m[f"exec.{key}"] = task_sum(inside, key)
    return m


def write_spans(tracer: Tracer, tasks: dict, path: Path) -> None:
    """All spans with the executor metrics of the jobs each one started,
    then the plan and streaming records, as JSON lines."""
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        for s in tracer.spans:
            fh.write(
                json.dumps(
                    {
                        "span": s.id,
                        "name": s.name,
                        "layer": layer_of(s.name),
                        "parent": s.parent,
                        "start": s.start,
                        "end": s.end,
                        **s.attrs,
                        **tasks.get(s.id, {}),
                    }
                )
                + "\n"
            )
        for p in tracer.plans:
            fh.write(json.dumps({"plan": p}) + "\n")
        for p in tracer.progress:
            fh.write(json.dumps({"progress": p}) + "\n")


def event_log_conf(log_dir: Path) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.resolve().as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
