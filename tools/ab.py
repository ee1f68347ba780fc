"""Interleaved A/B of registered queries inside one Spark session, so
host drift hits every arm alike.

Usage:
    python tools/ab.py QUERY [QUERY ...] --arm NAME:[SPEC[,SPEC...]] ...
        [--rounds N] [--sf DIR] [--plans DIR]

An arm with no specs is the baseline. A spec is one of:
    conf.K=V              set session conf K to V
    env.K=V               set environment variable K to V
    attr.MOD.NAME=LIT     set module constant MOD.NAME
    kw.MOD.FUNC.ARG=LIT   force keyword ARG on every call of MOD.FUNC

MOD is relative to ``irs_990_efiler_database_spark`` and LIT is a
Python literal. ``kw.`` replaces the binding the query resolves, e.g.
``kw.queries.text_lm.load_table.rebalance=True`` or
``kw.streaming.run_available_now.state_partitions=4``. Every spec is
resolved before the first query runs; an unknown kind, module,
attribute or keyword raises ``ValueError``.

Each catalog table is written once to the noop sink; then, per query,
each arm runs once untimed and N rounds follow, the arm order reversed
every round. A run writes the query to the noop sink, undoes its
patches and drains the caches. One JSON line per (query, arm) gives
the runs (s), median, min, quartiles and, after the first arm, the
rounds it beat the first arm in. ``--plans DIR`` writes each (query,
arm)'s ``explain("formatted")`` to ``DIR/<query>_<arm>.txt``.
"""

from __future__ import annotations

import argparse
import ast
import functools
import importlib
import inspect
import json
import os
import statistics
import sys
import time
from contextlib import ExitStack, contextmanager
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def _module(path: str):
    try:
        return importlib.import_module(f"irs_990_efiler_database_spark.{path}")
    except ImportError as e:
        raise ValueError(f"unknown module {path!r}: {e}") from None


@contextmanager
def _attr(obj, name: str, value):
    prev = getattr(obj, name)
    setattr(obj, name, value)
    try:
        yield
    finally:
        setattr(obj, name, prev)


@contextmanager
def _conf(spark, key: str, value: str):
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


@contextmanager
def _env(key: str, value: str):
    prev = os.environ.get(key)
    os.environ[key] = value
    try:
        yield
    finally:
        if prev is None:
            del os.environ[key]
        else:
            os.environ[key] = prev


def _forced(fn, arg: str, value):
    sig = inspect.signature(fn)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        bound = sig.bind(*args, **kwargs)
        bound.arguments[arg] = value
        return fn(*bound.args, **bound.kwargs)

    return wrapper


def resolve(spec: str):
    """One spec -> ``patch(spark)``, a context manager that applies it.
    Raises ``ValueError`` for a spec it cannot resolve."""
    lhs, sep, rhs = spec.partition("=")
    kind, _, target = lhs.partition(".")
    if not sep or not target:
        raise ValueError(f"malformed spec {spec!r}: want KIND.TARGET=VALUE")
    if kind == "conf":
        return lambda spark: _conf(spark, target, rhs)
    if kind == "env":
        return lambda spark: _env(target, rhs)
    if kind not in ("attr", "kw"):
        raise ValueError(f"unknown spec kind {kind!r} in {spec!r}")
    try:
        value = ast.literal_eval(rhs)
    except (ValueError, SyntaxError):
        raise ValueError(f"{spec!r}: not a Python literal") from None
    if kind == "attr":
        mod_path, _, name = target.rpartition(".")
        mod = _module(mod_path)
        if not hasattr(mod, name):
            raise ValueError(f"{spec!r}: {mod.__name__} has no {name!r}")
        return lambda spark: _attr(mod, name, value)
    mod_path, _, arg = target.rpartition(".")
    mod_path, _, func = mod_path.rpartition(".")
    mod = _module(mod_path)
    fn = getattr(mod, func, None)
    if not callable(fn):
        raise ValueError(f"{spec!r}: {mod.__name__} has no callable {func!r}")
    param = inspect.signature(fn).parameters.get(arg)
    if param is None or param.kind not in (param.POSITIONAL_OR_KEYWORD, param.KEYWORD_ONLY):
        raise ValueError(f"{spec!r}: {func} takes no keyword {arg!r}")
    # wrap the binding current when the patch applies, so two kw specs
    # on one callable compose
    return lambda spark: _attr(mod, func, _forced(getattr(mod, func), arg, value))


def parse_arm(text: str) -> tuple[str, list[str]]:
    """``NAME:[SPEC[,SPEC...]]`` -> (name, specs)."""
    name, sep, specs = text.partition(":")
    if not sep or not name:
        raise ValueError(f"malformed arm {text!r}: want NAME:[SPEC,...]")
    return name, [s for s in specs.split(",") if s]


def run_ab(spark, queries, arms, rounds, sf_dir, plans_dir=None) -> list[dict]:
    """Run *queries* under every arm, ``(name, [spec, ...])``, for
    *rounds* interleaved rounds; one record per (query, arm)."""
    from irs_990_efiler_database_spark import caching
    from irs_990_efiler_database_spark.catalog import TABLES, load_table
    from irs_990_efiler_database_spark.queries import all_queries

    if rounds < 2:
        raise ValueError("rounds must be at least 2: the order reverses each round")
    names = [name for name, _ in arms]
    if len(set(names)) != len(names):
        raise ValueError(f"arm names repeat: {names}")
    registry = all_queries()
    missing = [q for q in queries if q not in registry]
    if missing:
        raise ValueError(f"unregistered queries: {missing}")
    patches = {name: [resolve(s) for s in specs] for name, specs in arms}

    def drain():
        spark.catalog.clearCache()
        caching.release_cached()

    def run(query, arm, plan_to=None) -> float:
        try:
            with ExitStack() as stack:
                for patch in patches[arm]:
                    stack.enter_context(patch(spark))
                t0 = time.perf_counter()
                df = registry[query](spark, sf_dir)
                if plan_to is not None:
                    plan_to.write_text(
                        spark._jvm.PythonSQLUtils.explainString(
                            df._jdf.queryExecution(), "formatted"
                        )
                    )
                df.write.format("noop").mode("overwrite").save()
                return time.perf_counter() - t0
        finally:
            drain()

    for t in TABLES:
        load_table(spark, sf_dir, t).write.format("noop").mode("overwrite").save()
    drain()

    if plans_dir:
        Path(plans_dir).mkdir(parents=True, exist_ok=True)
    records = []
    for query in queries:
        for arm in names:
            run(query, arm, Path(plans_dir, f"{query}_{arm}.txt") if plans_dir else None)
        runs: dict[str, list[float]] = {arm: [] for arm in names}
        for r in range(rounds):
            for arm in names if r % 2 == 0 else names[::-1]:
                runs[arm].append(round(run(query, arm), 4))
        base = runs[names[0]]
        for arm, specs in arms:
            xs = runs[arm]
            q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
            rec = {
                "query": query,
                "arm": arm,
                "specs": specs,
                "runs": xs,
                "median": round(statistics.median(xs), 4),
                "min": min(xs),
                "q1": round(q1, 4),
                "q3": round(q3, 4),
            }
            if arm != names[0]:
                rec["beat_first"] = sum(x < b for x, b in zip(xs, base))
            records.append(rec)
    return records


def main() -> None:
    from irs_990_efiler_database_spark.session import DEFAULT_SF_DIR, get_spark

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--arm", action="append", required=True, type=parse_arm)
    ap.add_argument("--rounds", type=int, default=6)
    ap.add_argument("--sf", default=DEFAULT_SF_DIR)
    ap.add_argument("--plans", default=None)
    args = ap.parse_args()
    spark = get_spark("ab")
    try:
        for rec in run_ab(
            spark, args.queries, args.arm, args.rounds, args.sf, args.plans
        ):
            print(json.dumps(rec), flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
