"""Extraction throughput SCALE FIT — the 3-point measurement of the
engine's headline mission (one parse → 13 tables → partitioned writes,
jobs.build_database) that every query family already has and the
extraction path did not: docs/s has only ever been recorded at 2,000
docs, while the reference's unit of work is a 300-470k-doc filing year
(BUILD_SCRIPTS/README.md:258, 1-2 days at 2-4 docs/s single R
process). A single-size number extrapolates ~200x on faith; three
sizes spanning ~2 decades fit wall = fixed + marginal*docs and TEST
the linearity (relative residual at the midpoint).

Besides the clean 3-point fit, one at-size probe at the midpoint:
- dirty corpus: 1% deterministically truncated documents — dead-letter
  volume must equal the injected count exactly (PERMISSIVE capture at
  size, not just on the 2-doc unit fixture) and the run records the
  capture path's overhead.

There is no serialized-writes arm: the build always overlaps its
per-table writes (one pool of min(8, #tables) threads), and the option
that serialized them is gone. Its only evidence of a loss was one run
pair at 15.4 GB of XML on a contended 32-core host, within that host's
run-to-run noise.

Every run self-validates through bench._validate_extract_rows (CORE
row count == docs, 13 non-empty tables) — a broken build must never
post a number.

Usage:
  python tools/extract_scale.py                   # 2k/20k/100k, best-of-2
  python tools/extract_scale.py --quick           # one run per point
  python tools/extract_scale.py --docs 2000,20000 # custom points
  python tools/extract_scale.py --realistic       # 50-250 KB docs, per-BYTE fit

``--realistic`` (VERDICT r11 #1): the default corpus replicates the
2.3 KB handcrafted fixtures, so its fit prices a *doc*, not a *byte* —
and real e-file 990s run 50-250+ KB with most bytes in repeating
groups and narrative text. This mode generates the inflated corpus
(gen_xml_corpus realistic_size: Part VII/Schedule J groups at 5-40
cardinality + Schedule O narrative to a 50-250 KB per-doc target),
fits wall = fixed + marginal*GB, and reports the per-byte marginal
the 100-TB arithmetic actually needs.

Prints a markdown table (paste into BENCH_NOTES.md) + one JSON line.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

DEFAULT_DOCS = [2_000, 20_000, 100_000]


def _fit_line(xs: list[float], ys: list[float]) -> tuple[float, float]:
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    sxy = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
    slope = sxy / sxx if sxx else 0.0
    return my - slope * mx, slope


def _timed_build(
    spark,
    bundle: str,
    out: str,
    runs: int,
    n_docs: int,
    expect_dead: int = 0,
):
    """best-of-N build with bench's self-validation + clock floor.
    ``expect_dead``: dirty-corpus runs validate that dead-letter volume
    equals the injected corruption EXACTLY and that every clean doc
    still lands in CORE."""
    from bench import _validate_extract_rows, extract_floor_sec
    from irs_990_efiler_database_spark.jobs import build_database

    valid: list[float] = []
    dead = 0
    for i in range(runs + 1):  # +1 retry budget for a bad clock read
        if len(valid) >= 1 and i >= runs:
            break
        t0 = time.perf_counter()
        result = build_database(spark, f"{out}{i}", bundle_path=bundle)
        dt = time.perf_counter() - t0
        # dead-letter equality FIRST (the bench validator's own message
        # assumes a clean corpus, so a dirty-run mismatch must get the
        # specific diagnosis, not 'corpus is clean')
        if result.dead_rows != expect_dead:
            raise RuntimeError(
                f"dead-letter capture mismatch: {result.dead_rows} != "
                f"{expect_dead} injected"
            )
        _validate_extract_rows(result.rows, 0, n_docs - expect_dead)
        dead = result.dead_rows
        if dt >= extract_floor_sec(n_docs):
            valid.append(dt)
        else:
            print(f"# run {i}: {dt:.3f}s below physical floor, discarded",
                  file=sys.stderr)
    if not valid:
        raise RuntimeError("every run timed below the physical floor")
    return min(valid), max(valid), dead


REALISTIC_DOCS = [1_000, 5_000, 20_000]  # ~150 MB / 750 MB / 2.9 GB XML


def main() -> None:
    argv = sys.argv[1:]
    runs = 1 if "--quick" in argv else 2
    realistic = "--realistic" in argv
    docs = REALISTIC_DOCS if realistic else DEFAULT_DOCS
    if "--docs" in argv:
        docs = [int(x) for x in argv[argv.index("--docs") + 1].split(",")]
    docs = sorted(docs)

    from bench import _cpu_calibration, _cpu_calibration_mc
    from irs_990_efiler_database_spark.session import get_spark
    from tools.gen_xml_corpus import gen_bundle

    spark = get_spark("extract_scale")
    calib0 = _cpu_calibration()

    points: list[dict] = []
    tmp = tempfile.mkdtemp(prefix="extract_scale_")
    try:
        # untimed warmup build: the session's first build pays one-off
        # JIT/codegen/broadcast warmup that would otherwise inflate the
        # smallest point's fixed cost (observed: 2x on a 200-doc probe)
        gen_bundle(spark, f"{tmp}/warm", 200, realistic_size=realistic)
        _timed_build(spark, f"{tmp}/warm", f"{tmp}/warm_out_", 1, 200)

        def bundle_mb(path: str) -> float:
            from pyspark.sql import functions as F

            return (
                spark.read.parquet(path)
                .agg(F.sum(F.length("xml")).alias("b"))
                .collect()[0]["b"]
                / 1e6
            )

        for n in docs:
            bundle = f"{tmp}/bundle_{n}"
            gen_bundle(spark, bundle, n, realistic_size=realistic)  # untimed
            mb = bundle_mb(bundle)
            best, worst, _ = _timed_build(
                spark, bundle, f"{tmp}/out_{n}_", runs, n
            )
            points.append(
                {
                    "docs": n,
                    "mb": round(mb, 1),
                    "sec": round(best, 3),
                    "spread": round(worst - best, 3),
                    "docs_per_sec": round(n / best, 1),
                    "mb_per_sec": round(mb / best, 1),
                }
            )
            print(
                f"# {n} docs ({mb:.0f} MB): {best:.2f}s "
                f"({n / best:.0f} docs/s, {mb / best:.0f} MB/s)",
                file=sys.stderr,
            )

        # fit wall = fixed + marginal*docs over all points; residual at
        # the middle point is the linearity test. In realistic mode
        # docs and bytes are proportional by construction (uniform
        # 50-250 KB target over doc index), so the doc fit stands and
        # the per-BYTE marginal is derived alongside it.
        xs = [float(p["docs"]) for p in points]
        ys = [p["sec"] for p in points]
        fixed, marginal = _fit_line(xs, ys)
        _, marginal_mb = _fit_line([float(p["mb"]) for p in points], ys)
        mid = points[len(points) // 2] if len(points) >= 3 else None
        resid = None
        if mid is not None:
            pred = fixed + marginal * mid["docs"]
            resid = round((mid["sec"] - pred) / mid["sec"], 4)

        # at-size probe at the midpoint (or largest point if only 2)
        probe_n = (mid or points[-1])["docs"]
        dirty_bundle = f"{tmp}/dirty_{probe_n}"
        gen_bundle(
            spark,
            dirty_bundle,
            probe_n,
            corrupt_every=100,
            realistic_size=realistic,
        )
        n_corrupt = probe_n // 100
        dirty_best, _, dirty_dead = _timed_build(
            spark,
            dirty_bundle,
            f"{tmp}/dirty_out_",
            runs,
            probe_n,
            expect_dead=n_corrupt,
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    calib1 = _cpu_calibration()
    calib_mc = _cpu_calibration_mc()
    contention = round(calib_mc / min(calib0, calib1), 2) if calib_mc > 0 else -1.0

    print("\n| docs | MB | wall s | spread | docs/s | MB/s |")
    print("|---|---|---|---|---|---|")
    for p in points:
        print(f"| {p['docs']:,} | {p['mb']} | {p['sec']} | {p['spread']} | "
              f"{p['docs_per_sec']} | {p['mb_per_sec']} |")
    marg_str = (
        f"(marginal {1 / marginal:.0f} docs/s)"
        if marginal > 0
        else "(non-positive slope — points too noisy/close to fit)"
    )
    print(f"\nfit: wall = {fixed:.2f}s fixed + {marginal * 1000:.3f} ms/doc "
          + marg_str
          + (f"; midpoint residual {resid:+.1%}" if resid is not None else ""))
    if marginal_mb > 0:
        tb100_core_h = marginal_mb * 1e8 / 3600  # this box, 32 cores
        print(
            f"per-byte fit: {marginal_mb * 1000:.2f} ms/MB "
            f"({1 / marginal_mb:.0f} MB/s marginal on one 32-core box) "
            f"=> 100 TB ≈ {tb100_core_h:,.1f} box-hours "
            f"(÷N boxes on a cluster; corpus: "
            + ("realistic 50-250 KB docs" if realistic else
               "2.3 KB fixture docs — per-byte number does NOT "
               "transfer to real filings, use --realistic")
            + ")"
        )
    print(f"dirty corpus at {probe_n:,} docs (1% truncated): "
          f"{dirty_dead}/{n_corrupt} dead-lettered, {dirty_best:.2f}s "
          f"({dirty_best / (mid or points[-1])['sec']:.2f}x clean)")

    print(json.dumps({
        "metric": (
            "extract_scale_fit_realistic" if realistic
            else "extract_scale_fit"
        ),
        "realistic_corpus": realistic,
        "points": points,
        "fixed_sec": round(fixed, 3),
        "marginal_ms_per_doc": round(marginal * 1000, 4),
        "marginal_docs_per_sec": (
            round(1 / marginal, 1) if marginal > 0 else None
        ),
        "marginal_ms_per_mb": (
            round(marginal_mb * 1000, 4) if marginal_mb > 0 else None
        ),
        "marginal_mb_per_sec": (
            round(1 / marginal_mb, 1) if marginal_mb > 0 else None
        ),
        "midpoint_residual": resid,
        "dirty": {
            "docs": probe_n,
            "injected": n_corrupt,
            "dead_rows": dirty_dead,
            "sec": round(dirty_best, 3),
        },
        "runs": runs,
        "contention_ratio": contention,
    }))


if __name__ == "__main__":
    main()
