"""Benchmark of the IRS 990 e-file database pipeline.

    python3 perfbench/run.py --workload build_fixture --seed 1 --seconds 1 --trace 0

Run from the root of a source checkout. The run generates its inputs
from ``--seed`` under ``.perfbench/``, starts one host-fitted local
Spark session, sets up the workload and then runs timed iterations back
to back (one closed-loop client) until ``--seconds`` have passed. There
is no warm-up: like the pipeline's real batch jobs (a year build, a
monthly update), the first iteration is the session's first pass
through each phase, so it pays the JVM's class loading and JIT
compilation. Every iteration's output is checked; a failed check or an
exception fails that iteration.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The end-to-end
times are CPU times of the driver process, the JVM and its Python
workers, less the JVM's JIT compiler threads; CPU time leaves out the
CPU that other guests of a shared host steal, which swings wall time
from run to run.
Wall times are in the record and the traced run. A traced run traces
its first iteration, then runs an untraced and a traced one to report
the tracing overhead on each timed phase. Each run appends a full record,
stamped with the host's cpus, heap, load and steal, to
``.perfbench/runs.jsonl``; a traced run also writes its spans to
``.perfbench/trace-*.jsonl``. On every way out, SIGTERM included, the
run stops the JVM and every process it started and waits for each.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path.cwd()
OUT = ROOT / ".perfbench"
MAX_RUN_S = 150  # stop starting iterations after this much wall time
# the read set is short and its first pass is cold: its CPU is the
# median of 5 passes
QUERY_PASSES = 5


def host_fit() -> dict:
    """Cores from the affinity mask; a driver heap of an eighth of
    physical memory, between 1 and 2 GiB (the inputs are small, and the
    host's memory is shared)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    heap_mb = max(1024, min(2048, mem_kb // 1024 // 8))
    return {"cpus": cpus, "heap_mb": heap_mb, "mem_mb": mem_kb // 1024}


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def descendants() -> list[int]:
    """This process's descendants: the JVM and its Python workers."""
    me, parent = os.getpid(), {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                parent[int(pid)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    out = []
    for pid in parent:
        p = parent.get(pid)
        while p and p != me:
            p = parent.get(p)
        if p == me:
            out.append(pid)
    return out


def become_subreaper() -> None:
    """Adopt this process's orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``): Python workers whose parent dies stay
    descendants, so ``stop_processes`` still finds and waits for them."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def stop_processes(grace_s: float = 20.0) -> None:
    """Wait for every descendant to end: first on its own, then after
    SIGTERM, then after SIGKILL; reap each one that is this process's
    child."""
    t0 = time.monotonic()
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        pids = descendants()
        if not pids:
            return
        waited = time.monotonic() - t0
        sig = (
            signal.SIGKILL if waited > 2 * grace_s
            else signal.SIGTERM if waited > grace_s
            else None
        )
        if sig is not None:
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        time.sleep(0.05)


def stop_spark(spark) -> None:
    """Stop the session and its JVM, then every process they started.
    ``spark.stop()`` leaves the JVM running until this process exits;
    closing the gateway's stdin ends it now."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 - the JVM may already be gone
                pass
            proc = getattr(gateway, "proc", None)
            if proc is not None and proc.stdin is not None:
                proc.stdin.close()
            SparkContext._gateway = None
            SparkContext._jvm = None
        stop_processes()


class PeakRss:
    """Peak resident memory of the JVM plus its Python workers over a
    window, from the kernel's per-process high-water marks (VmHWM),
    reset at the window's start; nothing samples while it runs."""

    def start(self) -> None:
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:
                pass

    def peak_mb(self) -> float:
        kb = 0
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/status") as fh:
                    kb += next(
                        (int(l.split()[1]) for l in fh if l.startswith("VmHWM:")), 0
                    )
            except OSError:
                pass
        return kb / 1024


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # as the kernel truncates them


def cpu_seconds() -> float:
    """User plus system CPU time of this process (the PySpark driver)
    and its descendants (the JVM and its Python workers), less the CPU
    of the JVM's JIT compiler threads: Spark generates new classes for
    every query, so compilation is about half the CPU of a pass and its
    noisiest part. The kernel leaves time stolen by other guests out of
    CPU time. ``prepare_env`` fixes the number of compiler threads, so
    none exits with its CPU time still counted in the process's."""
    ticks = 0
    for pid in [os.getpid(), *descendants()]:
        ticks += _stat_ticks(f"/proc/{pid}/stat")[1]
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            comm, t = _stat_ticks(f"/proc/{pid}/task/{tid}/stat")
            if comm.startswith(JIT_THREADS):
                ticks -= t
    return ticks / os.sysconf("SC_CLK_TCK")


def _stat_ticks(path: str) -> tuple[str, int]:
    """Command name and user plus system clock ticks from a stat file;
    ("", 0) for a process or thread that has ended."""
    try:
        with open(path) as fh:
            head, _, tail = fh.read().rpartition(")")
        fields = tail.split()
        return head.partition("(")[2], int(fields[11]) + int(fields[12])
    except (OSError, IndexError, ValueError):
        return "", 0


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time stolen by other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def start_session(work: Path, host: dict, trace: bool):
    from irs_990_efiler_database_spark.session import get_spark

    conf = {
        "spark.driver.memory": f"{host['heap_mb']}m",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
    }
    if trace:
        from tracing import event_log_conf

        conf.update(event_log_conf(work / "eventlog"))
    return get_spark(
        "perfbench",
        master=f"local[{host['cpus']}]",
        shuffle_partitions=host["cpus"],
        extra_conf=conf,
    )


def run_iteration(wl, tracer, traced: bool) -> dict:
    """One iteration: untimed reset, the two timed phases back to back
    (with a short untimed pause to list what landing wrote; the query
    phase runs ``QUERY_PASSES`` times), then the untimed output check
    of the final state and the last pass's answers."""
    it: dict = {"traced": traced}
    wl.reset(wl.k_next)
    wl.k_next += 1
    if traced:
        tracer.start()
    try:
        with tracer.span("bench.iteration") as root:
            it["root"] = root
            c0, t0 = cpu_seconds(), time.perf_counter()
            with tracer.span("bench.land"):
                land = wl.land()
            it["land_s"] = time.perf_counter() - t0
            it["land_cpu_s"] = cpu_seconds() - c0
            written = wl.written()
            walls, cpus = [], []
            for _ in range(QUERY_PASSES):
                c0, t0 = cpu_seconds(), time.perf_counter()
                with tracer.span("bench.query"):
                    q = wl.query()
                walls.append(time.perf_counter() - t0)
                cpus.append(cpu_seconds() - c0)
            it["query_s"] = statistics.median(walls)
            it["query_cpu_s"] = statistics.median(cpus)
    finally:
        if traced:
            tracer.stop()
    it["problems"] = wl.check(land, q)
    r = land["result"]
    it.update(
        files=len(written),
        bytes=sum(p.stat().st_size for p in written),
        partitions_rewritten=wl.rewritten(written),
        kept=land.get("kept", 0),
        fetched=land.get("fetched", 0),
        fetch_failed=land.get("fetch_failed", 0),
        bundle_mb=land.get("bundle_mb", 0.0),
        docs=r.rows.get("CORE", 0),
        dead_docs=r.dead_rows,
    )
    it["write_kb_per_doc"] = it["bytes"] / 1e3 / wl.docs
    return it


def parse_probe(spark, files: list[str]) -> float:
    """The build's one PERMISSIVE parse, persisted and counted alone
    over the same input the last iteration landed."""
    from irs_990_efiler_database_spark.sources import xml_source

    t0 = time.perf_counter()
    ok, _ = xml_source.split_corrupt(
        xml_source.with_parsed_return(spark.read.parquet(*files))
    )
    ok = ok.persist()
    ok.count()
    dt = time.perf_counter() - t0
    ok.unpersist()
    return dt


def prepare_env(work: Path) -> None:
    """A fresh work directory, with every temporary and Spark local
    directory inside it, and the checkout importable by the executors'
    Python workers."""
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM (the launcher and the driver) keeps its temporary files
    # in the work directory and writes no perf-data file to /tmp; its
    # JIT compiler threads live as long as it does (see cpu_seconds)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
        f"-Djava.io.tmpdir={work / 'tmp'}"
    )
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def timed_loop(iterate, seconds: float, trace: bool, deadline: float):
    """Run ``iterate(traced)`` back to back until ``seconds`` have
    passed, at least once. With tracing: at least three, traced,
    untraced, traced, so the first traced one matches an untraced run's
    first iteration and the next two measure the overhead. An iteration
    that raises or whose output check reports problems fails. Returns
    (completed iterations, attempted, failed)."""
    iters: list[dict] = []
    attempted = failed = 0
    t0 = time.perf_counter()
    minimum = 3 if trace else 1
    while attempted < minimum or (
        time.perf_counter() - t0 < seconds and time.perf_counter() < deadline
    ):
        attempted += 1
        try:
            it = iterate(trace and attempted % 2 == 1)
        except Exception:  # noqa: BLE001 - a raising iteration is a failure
            traceback.print_exc()
            failed += 1
            continue
        if it["problems"]:
            print(f"perfbench: iteration {attempted} failed:", file=sys.stderr)
            for p in it["problems"]:
                print(f"  {p}", file=sys.stderr)
            failed += 1
        iters.append(it)
    if not iters:
        raise RuntimeError("no iteration completed")
    return iters, attempted, failed


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "irs_990_efiler_database_spark").is_dir() or not (
        ROOT / "tests" / "fixtures"
    ).is_dir():
        print(
            "perfbench: run from the root of a source checkout (the package "
            "and tests/fixtures are not here)",
            file=sys.stderr,
        )
        return 2
    t_start = time.perf_counter()
    become_subreaper()
    # a terminated run still stops what it started, in ``finally``
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    host = host_fit()
    work = OUT / "work" / f"{args.workload}-{os.getpid()}"
    prepare_env(work)

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spark = None
    try:
        wl = WORKLOADS[args.workload](work, args.seed)
        wl.generate()
        gen_s = time.perf_counter() - t_start
        load_start = loadavg()

        from tracing import Tracer, read_event_log, write_spans

        c0, t0 = cpu_seconds(), time.perf_counter()
        spark = start_session(work, host, bool(args.trace))
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark)
        if args.trace:
            tracer.install()
        wl.attach(spark, tracer, host["cpus"])
        wl.setup()
        setup_wall_s = time.perf_counter() - t0
        setup_cpu_s = cpu_seconds() - c0

        rss = PeakRss()
        rss.start()
        cpu0 = cpu_times()
        iters, attempted, failed = timed_loop(
            lambda traced: run_iteration(wl, tracer, traced),
            args.seconds,
            bool(args.trace),
            t_start + MAX_RUN_S,
        )
        steal = steal_frac(cpu0, cpu_times())
        peak_rss_mb = rss.peak_mb()

        parse_s = None
        if args.trace:
            parse_s = parse_probe(spark, wl.parse_input())
        stop_spark(spark)
        spark = None

        plain = [it for it in iters if not it["traced"]]
        if not plain:
            raise RuntimeError("no untraced iteration completed")
        # the gated times are CPU times: on a shared host, wall time
        # swings with the CPU stolen by other guests (``steal_frac`` in
        # the record); wall times are kept in the record and the trace
        metrics = {
            "setup_s": (setup_cpu_s, "s"),
            "cpu_ms_per_doc": (
                1e3 * median([it["land_cpu_s"] for it in plain]) / wl.docs, "ms/doc"
            ),
            "query_cpu_s": (median([it["query_cpu_s"] for it in plain]), "s"),
            "write_kb_per_doc": (
                median([it["write_kb_per_doc"] for it in plain]), "KB/doc"
            ),
        }
        if args.trace:
            log = read_event_log(work / "eventlog")
            metrics = layer_metrics(
                iters, plain, tracer, host, session_s, parse_s, log, wl.docs
            )
            metrics["exec.peak_rss_mb"] = (peak_rss_mb, "MB")
            write_spans(
                tracer, log[0], OUT / f"trace-{args.workload}-{args.seed}.jsonl"
            )
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "host": {
                **host,
                "loadavg_start": load_start,
                "loadavg_end": loadavg(),
                "steal_frac": steal,
            },
            "failed_frac": failed / attempted,
            "iterations": [
                {k: v for k, v in it.items() if k != "root"} for it in iters
            ],
            "gen_s": gen_s,
            "session_s": session_s,
            "setup_wall_s": setup_wall_s,
            "docs_per_s": wl.docs / median([it["land_s"] for it in plain]),
            "query_s": median([it["query_s"] for it in plain]),
            "peak_rss_mb": peak_rss_mb,
            "total_s": time.perf_counter() - t_start,
            **result,
        }
        OUT.mkdir(exist_ok=True)
        with open(OUT / "runs.jsonl", "a", encoding="utf-8") as fh:
            fh.write(json.dumps(record, default=str) + "\n")
        print(
            f"perfbench: {args.workload} seed={args.seed} cpus={host['cpus']} "
            f"heap={host['heap_mb']}MB load={loadavg()} steal={steal:.3f} "
            f"failed_frac={failed / attempted:.3f}",
            file=sys.stderr,
        )
        print(json.dumps(result))
        return 0
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def unit_of(key: str) -> str:
    if key.endswith("_s") or "_s." in key:
        return "s"
    if key.endswith("_mb"):
        return "MB"
    if key.endswith(("_frac", ".share")) or key.startswith("self_frac."):
        return "ratio"
    return "count"


def layer_metrics(iters, plain, tracer, host, session_s, parse_s, log, wl_docs):
    """The per-layer metrics of a traced run's first iteration, plus the
    tracing overhead of its later traced iterations against its
    untraced ones."""
    from tracing import iteration_metrics

    tasks, sql = log
    traced = [it for it in iters if it["traced"]]
    first = traced[0]
    m = {"session.start_s": (session_s, "s")}
    for key, value in iteration_metrics(
        tracer, first["root"], tasks, sql, host["cpus"]
    ).items():
        m[key] = (value, unit_of(key))
    m.update(
        {
            "sources.index.rows_kept": (first["kept"], "count"),
            "sources.fetch.urls": (first["fetched"], "count"),
            "sources.fetch.failed": (first["fetch_failed"], "count"),
            "sources.fetch.bundle_mb": (first["bundle_mb"], "MB"),
            "sources.xml_source.parse_s": (parse_s, "s"),
            "sources.xml_source.docs": (first["docs"], "count"),
            "sources.xml_source.dead_docs": (first["dead_docs"], "count"),
            "sources.xml_source.cache_mb": (tracer.cache_bytes / 1e6, "MB"),
            "sinks.files": (first["files"], "count"),
            "sinks.written_mb": (first["bytes"] / 1e6, "MB"),
            "sinks.upsert.partitions_rewritten": (first["partitions_rewritten"], "count"),
        }
    )
    m["wall.docs_per_s"] = (wl_docs / first["land_s"], "docs/s")
    m["wall.query_s"] = (first["query_s"], "s")
    for phase, metric in (
        ("land_cpu_s", "cpu_ms_per_doc"),
        ("query_cpu_s", "query_cpu_s"),
        ("land_s", "wall.docs_per_s"),
        ("query_s", "wall.query_s"),
    ):
        base = median([it[phase] for it in plain])
        later = median([it[phase] for it in traced[1:]])
        m[f"trace.overhead.{metric}"] = (later / base - 1, "ratio")
    return dict(sorted(m.items()))


if __name__ == "__main__":
    sys.exit(main())
