"""Shuffle-byte budget audit: run the heaviest HEADLINE families at a
given SF and record, per query, the bytes/records actually SHUFFLED and
any spill — from the executed plan's SQLMetrics, not estimates. The
complement of PLANS.md (which counts shuffle operators statically):
this measures how much data crossed them.

The scale number that matters is the RATIO shuffle-bytes : input-bytes.
A dedup pass that shuffles 2% of its input scales to 100 TB on a
commodity network; one that shuffles 100% needs the network budget of
a sort. Queries here are chosen because their docstrings make exactly
those claims — this tool is the measurement that backs them.

Usage:
    python tools/shuffle_budget.py [sf_dir]          # measure + print
    python tools/shuffle_budget.py [sf_dir] --gate   # regression gate

``--gate`` compares each family's measured ratio against the COMMITTED
bound in tools/shuffle_bounds.json and exits 1 when any family exceeds
bound x factor (1.5) — the measurement that caught round 6's
ExactSubstr hex-string-key 2.3x regression, promoted from a table a
human reads to a tripwire a regression trips. Ratios are
scale-stable by design (both numerator and denominator grow with the
data), but bounds are recorded at sf0.1 — run the gate at the same SF.
New spill where the bound run had none also fails: spill at the test
SF means memory pressure at any real SF.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# query -> tables whose on-disk parquet bytes define its input size
AUDIT = {
    "fdedup_minhash_pairs": ["documents"],
    "fdedup_exact_substring_spans": ["documents"],
    "fdedup_simhash_pairs": ["documents"],
    "text_boilerplate_ngrams": ["documents"],
    "text_kneser_ney_bigram_score": ["documents"],
    "stat_signgd_text_classifier": ["documents"],
    "sim_pq_adc_topk": ["embeddings"],
    "sim_ann_ivfpq": ["embeddings"],
    "graph_triangle_count": ["events"],
    "q1_pricing_summary": ["lineitem"],
    "q18_large_volume_orders": ["lineitem", "orders", "customer"],
    "events_rfm_segmentation": ["events"],
    # r12: within-doc paragraph dedup — its docstring claims the
    # keep-first decision shuffles digests, never text
    "fdedup_repetition_removal": ["documents"],
    # r13: the CLEANED-output companion — its OUTPUT is the paragraph
    # text, so text legitimately moves through the keep-first window
    # exactly once; the bound pins "once", not "digest-only"
    "fdedup_repetition_cleaned": ["documents"],
}


# Round-10 families whose work happens INSIDE a streaming query: the
# DataFrame a registry callable returns carries none of the stream's
# exchanges in its own executed plan, so summarize_execution() would
# report a dishonest ~0. These are measured as the APP-LEVEL delta of
# stage-aggregated shuffle-write and spill bytes (driver
# AppStatusStore) across the whole callable — the tool runs families
# serially, so the delta is attributable. The delta covers the
# callable END-TO-END (staging prep included): a conservative upper
# bound on the family's shuffle ratio.
STREAM_AUDIT = {
    "events_stream_state_introspection": ["events"],
    "events_stream_running_totals_bootstrap_tws": ["events"],
}


def _app_stage_totals(spark) -> tuple[int, int]:
    """(shuffle_write_bytes, spill_bytes) summed over every stage the
    driver's AppStatusStore retains. Caveat: the store keeps
    spark.ui.retainedStages (default 1000) stages — fine for one
    family's run, do not difference across thousands of stages."""
    sc = spark.sparkContext
    gw = sc._gateway
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(
        gw.jvm.java.util.ArrayList(),
        False,
        False,
        gw.new_array(gw.jvm.double, 0),
        gw.jvm.java.util.ArrayList(),
    )
    sw = sp = 0
    for i in range(stages.size()):
        s = stages.apply(i)
        sw += s.shuffleWriteBytes()
        sp += s.memoryBytesSpilled() + s.diskBytesSpilled()
    return sw, sp


def _settled_app_totals(spark, timeout_sec: float = 5.0) -> tuple[int, int]:
    """Status-store updates ride an async listener bus: poll until two
    consecutive reads agree (or timeout) before taking the 'after'
    snapshot."""
    import time as _time

    prev = _app_stage_totals(spark)
    deadline = _time.monotonic() + timeout_sec
    while _time.monotonic() < deadline:
        _time.sleep(0.2)
        cur = _app_stage_totals(spark)
        if cur == prev:
            return cur
        prev = cur
    return prev


def measure_app_delta(
    spark, sf_dir: str, stream_audit: dict | None = None, queries=None,
) -> dict:
    """App-level-delta measurement for STREAM_AUDIT (registry queries);
    same stats shape as measure()."""
    from irs_990_efiler_database_spark.caching import release_cached
    from irs_990_efiler_database_spark.queries import all_queries

    qs = queries if queries is not None else all_queries()
    out = {}
    for name, tables in (
        stream_audit if stream_audit is not None else STREAM_AUDIT
    ).items():
        release_cached()
        spark.catalog.clearCache()
        sw0, sp0 = _settled_app_totals(spark)
        df = qs[name](spark, sf_dir)
        df.collect()
        sw1, sp1 = _settled_app_totals(spark)
        inp = _input_bytes(sf_dir, tables)
        out[name] = {
            "input_mb": round(inp / 1e6, 2),
            "shuffle_mb": round((sw1 - sw0) / 1e6, 3),
            "ratio": round((sw1 - sw0) / inp, 4) if inp else float("nan"),
            "shuffle_rows": None,  # stage metrics carry bytes, not rows
            "spill_mb": round((sp1 - sp0) / 1e6, 2),
        }
        release_cached()
        spark.catalog.clearCache()
    return out


def _input_bytes(sf_dir: str, tables: list[str]) -> int:
    from irs_990_efiler_database_spark.catalog import input_bytes, table_path

    sizes = {t: input_bytes(table_path(sf_dir, t)) for t in tables}
    missing = [t for t, b in sizes.items() if b is None]
    if missing:
        raise FileNotFoundError(f"cannot size {missing} under {sf_dir}")
    return sum(sizes.values())


def measure(spark, sf_dir: str, audit: dict | None = None, queries=None) -> dict:
    """Run each audited family and return per-query measured stats.
    ``queries`` overrides the registry (the gate's de-optimization
    test injects a deliberately worse variant through it)."""
    from irs_990_efiler_database_spark.caching import release_cached
    from irs_990_efiler_database_spark.plans.metrics import summarize_execution
    from irs_990_efiler_database_spark.queries import all_queries

    qs = queries if queries is not None else all_queries()
    out = {}
    for name, tables in (audit or AUDIT).items():
        df = qs[name](spark, sf_dir)
        # collect() (not a noop write) so the metrics live on THIS
        # DataFrame's executed plan — a write wraps a fresh execution
        # whose metrics the summarizer can't see. Outputs here are
        # aggregated frames, small by construction.
        df.collect()
        m = summarize_execution(df)
        inp = _input_bytes(sf_dir, tables)
        ratio = m.shuffle_bytes_written / inp if inp else float("nan")
        out[name] = {
            "input_mb": round(inp / 1e6, 2),
            "shuffle_mb": round(m.shuffle_bytes_written / 1e6, 3),
            "ratio": round(ratio, 4),
            "shuffle_rows": m.shuffle_records_written,
            "spill_mb": round(m.spill_bytes / 1e6, 2),
        }
        release_cached()
        spark.catalog.clearCache()
    return out


def check_bounds(measured: dict, bounds_doc: dict) -> list[str]:
    """Compare measured ratios against committed bounds; returns the
    list of violations (empty = gate passes). A family measured but
    not bounded is also a violation — new heavy families must commit
    a bound when they join the audit. Symmetrically, a BOUNDED family
    that was not measured is a violation too (ADVICE r7: otherwise
    dropping a family from AUDIT silently disarms its tripwire —
    gate coverage may only shrink by editing shuffle_bounds.json,
    which is a reviewed, committed file)."""
    factor = bounds_doc.get("factor", 1.5)
    bounds = bounds_doc["bounds"]
    problems = []
    for name in bounds:
        if name not in measured:
            problems.append(
                f"{name}: committed bound but NOT measured — removed "
                "from AUDIT or failed to run; delete its bound "
                "deliberately if retiring the family"
            )
    for name, stats in measured.items():
        bound = bounds.get(name)
        if bound is None:
            problems.append(f"{name}: no committed bound (add one)")
            continue
        if stats["ratio"] > bound * factor:
            problems.append(
                f"{name}: ratio {stats['ratio']:.4f} > bound {bound} x "
                f"{factor} = {bound * factor:.4f}"
            )
        if stats["spill_mb"] > 0:
            problems.append(
                f"{name}: {stats['spill_mb']} MB spill (bound run had none)"
            )
    return problems


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    gate = "--gate" in sys.argv
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    from irs_990_efiler_database_spark.session import get_spark

    spark = get_spark("shuffle_budget")
    out = measure(spark, sf_dir)
    out.update(measure_app_delta(spark, sf_dir))
    print("| query | input MB | shuffled MB | ratio | shuffle rows | spill MB |")
    print("|---|---|---|---|---|---|")
    for name, s in out.items():
        print(
            f"| {name} | {s['input_mb']:.1f} | {s['shuffle_mb']:.2f} "
            f"| {s['ratio']:.3f} | {s['shuffle_rows']} | {s['spill_mb']:.1f} |"
        )
    print()
    print(json.dumps({"metric": "shuffle_budget", "sf_dir": sf_dir, "queries": out}))
    if gate:
        bounds_doc = json.loads((REPO / "tools" / "shuffle_bounds.json").read_text())
        problems = check_bounds(out, bounds_doc)
        if problems:
            print("SHUFFLE GATE FAILED:", file=sys.stderr)
            for p in problems:
                print(f"  {p}", file=sys.stderr)
            raise SystemExit(1)
        print(f"shuffle gate: {len(out)} families within committed bounds")


if __name__ == "__main__":
    main()
