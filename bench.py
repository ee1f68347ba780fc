"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query executes to the noop sink (full computation, no driver-side
materialization cost in the measurement).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q7_nation_volume",
    "q18_large_volume_orders",
    "join_left_order_fill_counts",
    "win_latest_order_per_customer",
    "agg_pivot_status_by_year",
    "agg_freq_of_freq",
    "setop_distinct_pairs",
    "events_tumbling_5min",
    "events_sessionize_gap",
    "dedup_exact_groups",
    "text_quality_score",
    "sim_vector_norms",
    "fdedup_minhash_pairs",
    "fdedup_simhash_pairs",
    "sim_cosine_topk",
    "sim_ann_lsh_bucketed",
    "sim_ann_ivf",
    "q6_forecast_revenue",
    "q9_product_type_profit",
    "q13_customer_order_distribution",
    "q21_waiting_suppliers",
    "events_stream_stateful_sessions",
    "events_stream_session_window",
    "events_sliding_10x5",
    "agg_percentile_disc",
    "text_decontaminate_13gram",
    "doc_pack_token_budget",
    "idx_build",
    "x990_core",
    "sketch_kmv_distinct_parts",
    "sketch_heavy_hitter_users",
    "text_gopher_quality",
    "text_chunk_fixed",
    "win_scd2_order_history",
    "fdedup_incremental_new_docs",
    "events_stream_click_attribution",
    "events_retention_cohorts",
    "text_boilerplate_ngrams",
    "mm_audio_window_rms",
    "sketch_binned_quantiles",
    "win_rolling_7d_spend",
    "fdedup_shared_chunk_pairs",
    "events_funnel_view_to_purchase",
    # round 4 additions
    "text_pii_redact",
    "text_lm_unigram_score",
    "events_time_weighted_avg",
    "events_sequence_view_click_purchase",
    "events_json_props_rollup",
    "cdc_apply_latest",
    "profile_orders_columns",
    "stat_corr_pairs",
    "graph_triangle_count",
    "rec_item_cooccurrence",
    "text_pmi_collocations",
    # round 5 additions
    "win_exact_ntile_distributed",
    "events_rfm_segmentation",
    "sim_hybrid_rrf_search",
    "x990_public_support_report",
    # round 6 additions
    "fdedup_semantic_pairs",
    "doc_quality_deciles",
    "fdedup_cdc_chunk_pairs",
    "text_winnow_fingerprints",
    "fdedup_semantic_incremental",
    "stat_percentile_cont_distributed",
    "stat_mann_whitney_u",
    "text_char_trigram_lang_id",
    "fdedup_exact_substring_spans",
    "stat_signgd_text_classifier",
    "sim_pq_adc_topk",
    "text_kneser_ney_bigram_score",
    "stat_ridge_closed_form",
    "sim_ann_ivfpq",
    "events_kaplan_meier",
    "text_stupid_backoff_score",
    "doc_dataset_card_stats",
    "doc_quality_rank_fusion",
    "events_interval_overlap_join",
    "sim_hard_negative_mining",
    "stat_calibration_ece",
    "match_fellegi_sunter",
    "events_bot_regularity",
    "events_variant_props_stats",
    "stat_bh_fdr",
    "graph_label_propagation",
    "doc_quality_quantile_normalize",
    "stat_median_ci_distribution_free",
    # round 7 additions
    "events_stream_running_totals_tws",
    # round 9 additions (§2.12 arbitrary-state surface complete:
    # event-time timers; ListState + MapState) — entry count 91 → 93
    "events_stream_session_close_timers_tws",
    "events_stream_trailing_state_tws",
    # round 10 additions (state-store reader; TWS initial-state
    # bootstrap) — entry count 93 → 95
    "events_stream_state_introspection",
    "events_stream_running_totals_bootstrap_tws",
    # round 12 additions (within-doc repetition removal; strided RAG
    # chunking) — entry count 95 → 97
    "fdedup_repetition_removal",
    "text_chunk_overlap",
    # round 13 additions (realistic-byte-shape CORE extraction under
    # the value gate; derived-catalog MANY slice through the generic
    # explode path) — entry count 97 → 99
    "x990_core_realistic",
    "x990_mc_irs990schedulen_part_02_many",
]


def _loadavg() -> list[float] | None:
    """Host 1/5/15-min load — the probes sample an instant, loadavg
    integrates the minute; a quiet probe pair bracketing a loaded run
    (observed r12: probes 1.49 while entries ran 1.12x the quiet ref)
    shows up here."""
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except (OSError, ValueError):
        return None


def main() -> None:
    _calib_start = _cpu_calibration()
    _load_start = _loadavg()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from irs_990_efiler_database_spark.queries import all_queries
    from irs_990_efiler_database_spark.session import get_spark

    spark = get_spark("bench")
    qs = all_queries()

    # warm the JVM + every table's parquet footers once (not measured),
    # so per-query timings measure computation, not first-touch I/O
    from irs_990_efiler_database_spark.catalog import TABLES, load_table

    for t in TABLES:
        load_table(spark, sf_dir, t).write.format("noop").mode("overwrite").save()
    qs["q1_pricing_summary"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    # per-entry cold-path warm-up (VERDICT r9 #2): these three touch
    # sources the TABLES loop above does not warm (idx_build reads the
    # JSON index files, x990_core parses the XML docs) or pay a
    # first-touch codegen/cache cost big enough to trip `high_spread`
    # on every round's bench even though best-of-2 keeps the TIMING
    # honest. One untimed run each keeps the flags dict a real signal.
    for _warm in ("idx_build", "x990_core", "dedup_exact_groups"):
        qs[_warm](spark, sf_dir).write.format("noop").mode("overwrite").save()
    # warm the Structured Streaming machinery AND the Python worker
    # pool (state store, micro-batch planner, Arrow workers) on the
    # tiny SF once, so streaming entries measure the operator, not
    # engine first-start — measured ~15-25 s of one-time init
    qs["events_stream_stateful_sessions"](spark, "/root/testdata/sf0.001").write.format(
        "noop"
    ).mode("overwrite").save()
    spark.catalog.clearCache()

    # best-of-two per query: the Firecracker host's effective CPU speed
    # swings 2-3x with co-tenant load the guest cannot see
    # (BENCH_NOTES.md); the min of two runs rejects most single-run
    # contention spikes while cpu_calibration_sec still records the
    # host state for cross-round normalization
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    timings: dict[str, float] = {}
    # per-entry best-of-N spread (max - min): separates host-noise
    # drift from real plan regressions — a ±15% move on an entry whose
    # spread exceeds the move is contention, not code (VERDICT r5 #8)
    spreads: dict[str, float] = {}
    for name in HEADLINE:
        best, worst = float("inf"), 0.0
        for _ in range(runs):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best, worst = min(best, dt), max(worst, dt)
            # the LSH pairs operators persist their shingle/fingerprint
            # frames for the duration of the returned DataFrame's life;
            # drop those blocks between runs (untimed) so no query is
            # charged for a predecessor's leftover cache or GC pressure
            spark.catalog.clearCache()
        timings[name] = round(best, 4)
        spreads[name] = round(worst - best, 4)

    # end-to-end extraction throughput: 2000 synthetic 990 documents →
    # all 12 output tables + partitioned writes (the reference's own
    # headline is ≈2-4 docs/sec for the same scope, single R process)
    import shutil
    import tempfile

    from irs_990_efiler_database_spark.jobs import build_database
    from tools.gen_xml_corpus import gen_bundle

    # 20,000 docs since round 11 (was 2,000): the 3-point scale fit
    # (tools/extract_scale.py) showed the 2,000-doc wall is ~90% fixed
    # overhead — it measured job-setup latency, not extraction. 20k is
    # the smallest size where marginal cost is the majority of the
    # entry (~4.2 s vs ~2.9 s fixed) while staying cheap per round.
    n_docs = int(os.environ.get("SPARK_GRAFT_EXTRACT_DOCS", "20000"))
    tmp = tempfile.mkdtemp(prefix="bench_extract_")
    try:
        gen_bundle(spark, f"{tmp}/bundle", n_docs)  # prep, not timed
        # best-of-two like every other entry: this is the single most
        # expensive entry, so one co-tenant contention spike otherwise
        # dominates the whole headline total (observed 17.9 s -> 93 s
        # on identical code purely from host load)
        # self-validation policy (BENCH_r06's 0.165 s / 2000-doc entry
        # was a harness artifact ~40x below any real run):
        # - WRONG OUTPUT (row counts / dead letters) always raises —
        #   a broken build must never post any number;
        # - a SUB-FLOOR TIMING invalidates that run only (clock
        #   artifact); the entry records the best VALID run, and the
        #   bench raises only if no run was physically plausible —
        #   one bad clock read shouldn't void 90 other measurements.
        valid: list[float] = []
        n_runs = max(1, runs)
        for i in range(n_runs + 1):  # +1 retry budget for a bad clock
            if len(valid) >= 1 and i >= n_runs:
                break
            t0 = time.perf_counter()
            result = build_database(
                spark, f"{tmp}/out{i}", bundle_path=f"{tmp}/bundle"
            )
            dt = time.perf_counter() - t0
            _validate_extract_rows(result.rows, result.dead_rows, n_docs)
            if dt >= extract_floor_sec(n_docs):
                valid.append(dt)
            else:
                print(
                    f"# extract run {i}: {dt:.4f}s below the physical "
                    "floor — discarded as a clock artifact",
                    file=sys.stderr,
                )
        if not valid:
            raise RuntimeError(
                "extraction bench: every run timed below the physical "
                f"floor ({extract_floor_sec(n_docs):.2f}s for {n_docs} "
                "docs) — harness clock is untrustworthy"
            )
        best, worst = min(valid), max(valid)
        key = f"x990_build_database_{n_docs}_docs"
        timings[key] = round(best, 4)
        spreads[key] = round(worst - best, 4)
        extract_stats = {
            "docs": n_docs,
            "sec": round(best, 4),
            "docs_per_sec": round(n_docs / best, 1),
            "rows_ok": True,  # _validate_extract_rows raised otherwise
            "runs_valid": len(valid),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    total = round(sum(timings.values()), 4)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    calib_end = _cpu_calibration()
    calib_mc = _cpu_calibration_mc()
    # mc/single >> 1 marks a contended run whose totals are NOT
    # cross-round comparable (VERDICT r7: r6→r7 "regressions" on
    # unchanged code were exactly this); stamping the ratio makes the
    # comparison mechanical instead of forensic
    # guard like the mc probe (ADVICE r8): if both single-thread probes
    # read <=0 the min() over an empty generator would crash main()
    # AFTER every query ran, discarding the whole bench JSON
    positives = [x for x in (_calib_start, calib_end) if x > 0]
    contention = (
        round(calib_mc / min(positives), 2) if calib_mc > 0 and positives else -1.0
    )
    payload = {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                # parallelism stamp (VERDICT r14 #2b): the driver
                # re-runs the bench at a lower SPARK_GRAFT_CPUS to
                # measure scaling; without the session's actual core
                # count in the record, ≈1 low/high ratios on
                # overhead-bound entries read as "CPUS ignored".
                # These two fields prove mechanically what the session
                # ran with.
                "cpus": spark.sparkContext.defaultParallelism,
                "master": spark.sparkContext.master,
                "queries": timings,
                "spread": spreads,
                # per-entry plausibility flags (VERDICT r7 #3): an
                # entry below the Spark job-scheduling floor or with a
                # best-of-N spread larger than its own best is marked,
                # never silently posted — r6's 0.020 s
                # doc_quality_deciles read as a 12x r7 regression on
                # unchanged code because nothing flagged it
                "flags": entry_flags(timings, spreads),
                "contention_ratio": contention,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                # fixed single-core probe: observed 1x-3x wall-clock
                # swings across identical runs from invisible co-tenant
                # contention (guest sees idle CPU, no steal); this
                # calibrates the host at measurement time so totals are
                # comparable across rounds (normalize by this value).
                # start + end probes bracket the run: a quiet start
                # with a loaded end means MID-RUN contention inflated
                # some entries (observed: a run whose start probe read
                # 0.76 s but whose tail entries ran 2-5x slow)
                "cpu_calibration_sec": _calib_start,
                "cpu_calibration_end_sec": calib_end,
                # multi-core probe: co-tenant load can leave the
                # single-thread probe unchanged while halving effective
                # core availability (observed: probe 0.64 s matching a
                # quiet round while every 32-way query ran ~2-3x slow;
                # a 32-process pool of the same workload read 1.2 s vs
                # the ~0.7 s a free host gives). Ratio mc/single >> 1
                # marks a run whose totals are NOT cross-round
                # comparable.
                "cpu_calibration_mc_sec": calib_mc,
                "loadavg_start": _load_start,
                "loadavg_end": _loadavg(),
                "extract": extract_stats,
            }
    payload.update(
        _vs_quietest_reference(timings, payload["sf"], payload["cpus"])
    )
    if payload.get("best_known_mc_sec") and calib_mc > 0:
        payload["mc_vs_best_known"] = round(
            calib_mc / payload["best_known_mc_sec"], 2
        )
    print(json.dumps(payload))
    # full record also persisted next to the repo — the driver's tail
    # capture (below) only carries the compact summary, so the complete
    # per-entry table must live somewhere committed for cross-round
    # plan-regression analysis
    try:
        (REPO / "bench_full.json").write_text(json.dumps(payload) + "\n")
    except OSError as e:  # read-only checkout must not void the bench
        print(f"# bench_full.json not written: {e}", file=sys.stderr)
    # append-only cross-round history (VERDICT r10 #7 / r11 #2):
    # bench_full.json is overwritten per run, so round-over-round
    # per-entry comparison used to need git archaeology. Every run
    # appends its full per-entry record here; tools/bench_summary.py
    # reads it back for the median-ratio / movers analysis.
    try:
        import os as _os
        import time as _time

        line = dict(payload)
        line["ts"] = _time.strftime("%Y-%m-%dT%H:%M:%SZ", _time.gmtime())
        line["label"] = _os.environ.get("SPARK_GRAFT_BENCH_LABEL", "")
        with open(REPO / "BENCH_SUMMARY.jsonl", "a", encoding="utf-8") as fh:
            fh.write(json.dumps(line) + "\n")
    except OSError as e:
        print(f"# BENCH_SUMMARY.jsonl not appended: {e}", file=sys.stderr)
    # pad so the driver's 2000-char tail window holds ONLY whitespace
    # + the digest — json.loads on the raw tail then succeeds (leading
    # whitespace is legal JSON), as does any last-line strategy
    print("\n" * 2000, end="")
    print(json.dumps(compact_summary(payload)))
    spark.stop()


def _vs_quietest_reference(timings: dict[str, float], sf, cpus) -> dict:
    """Mechanical round-over-round check (VERDICT r11 'what's wrong'
    #1): the single-thread contention probe understated a co-tenant
    multi-core load in r11 — the driver stamped 1.77 while 94 unchanged
    entries uniformly read ~1.21x their r10 times, and proving the code
    was flat took git archaeology. With BENCH_SUMMARY.jsonl this run
    compares itself to the QUIETEST recorded full run sharing >= 20
    entries: a median per-entry ratio >= 1.15 on a mostly-unchanged
    registry is contention (uniform drift), so the record carries
    ``contention_suspect: true`` and names the reference — readers
    normalize instead of diagnosing a phantom regression."""
    import statistics

    # advisory metadata only: ANY failure (malformed history line,
    # non-dict JSON, zero-division on a degenerate reference) must
    # return {} rather than crash main() after every query already ran
    # — the same end-of-run-crash class the calibration min() guards
    try:
        return _vs_quietest_reference_inner(timings, sf, cpus, statistics)
    except FileNotFoundError:
        return {}  # no history yet — the normal first-run case
    except Exception as e:
        print(f"# quietest-reference comparison skipped: {e}", file=sys.stderr)
        return {}


def _vs_quietest_reference_inner(
    timings: dict[str, float], sf, cpus, statistics
) -> dict:
    # like with like: only records of the same (sf, cpus) — sf0.001
    # probe runs and other hosts' core counts are not comparable, and
    # a record without ``cpus`` matches no run that has it
    history = [
        json.loads(ln)
        for ln in (REPO / "BENCH_SUMMARY.jsonl").read_text().splitlines()
        if ln.strip()
    ]
    lines = [
        rec
        for rec in history
        if isinstance(rec, dict) and (rec.get("sf"), rec.get("cpus")) == (sf, cpus)
    ]
    best: dict | None = None
    for rec in lines:
        q = rec.get("queries") or {}
        c = rec.get("contention_ratio")
        if len(set(q) & set(timings)) < 20 or not isinstance(c, (int, float)):
            continue
        if c <= 0:
            continue
        if best is None or c < best["contention_ratio"]:
            best = rec
    if best is None:
        return {}
    qa = best["queries"]
    ratios = [
        timings[k] / qa[k] for k in set(qa) & set(timings) if qa[k] > 0
    ]
    med = statistics.median(ratios)
    # mc/single has a HARDWARE floor (~1.6 on this 32-core host: all-core
    # turbo downclock + memory bandwidth, measured at loadavg<1), so the
    # ratio can never reach the old <=1.2 quiet target; the ABSOLUTE mc
    # probe value against the best recorded at this (sf, cpus) cancels
    # the floor and is the honest co-tenant signal
    best_mc = min(
        (
            rec["cpu_calibration_mc_sec"]
            for rec in lines
            if isinstance(rec.get("cpu_calibration_mc_sec"), (int, float))
            and rec["cpu_calibration_mc_sec"] > 0
        ),
        default=None,
    )
    return {
        "median_entry_ratio_vs_quietest": round(med, 4),
        "quietest_ref": {
            "label": best.get("label", ""),
            "value": best.get("value"),
            "contention_ratio": best.get("contention_ratio"),
        },
        "best_known_mc_sec": best_mc,
        "contention_suspect": med >= 1.15,
    }


def compact_summary(payload: dict) -> dict:
    """Driver-parseable one-line digest (VERDICT r9 #1).

    The driver records only the LAST 2000 characters of stdout and
    json-parses that tail; the full payload above is ~8 KB, so for
    three rounds the recorded bench was an unparseable mid-JSON
    fragment (BENCH_r07-r09 all ``"parsed": null``). The caller prints
    this digest as the FINAL line, padded so the whole tail window is
    whitespace + one JSON object — parseable whether the driver loads
    the raw tail, the stripped tail, or the last line. Keeps the
    required {metric, value, unit, queries, sf} schema with ``queries``
    cut to the top-5 slowest entries."""
    top5 = dict(
        sorted(payload["queries"].items(), key=lambda kv: -kv[1])[:5]
    )
    # flagged_entries must stay BOUNDED: a heavily contended round can
    # flag most of the 93 entries, and an unbounded name list would
    # push this digest past the 2000-char tail window — reproducing
    # the exact truncation failure the digest exists to fix, in the
    # round where the flag signal matters most. Count + first few
    # names here; the full flags dict is in bench_full.json.
    flagged = sorted(payload["flags"])
    return {
        "metric": payload["metric"],
        "value": payload["value"],
        "unit": payload["unit"],
        "queries": top5,
        "sf": payload["sf"],
        "cpus": payload.get("cpus"),
        "master": payload.get("master"),
        "entries": len(payload["queries"]),
        "contention_ratio": payload["contention_ratio"],
        "extract_docs_per_sec": payload["extract"]["docs_per_sec"],
        "flagged_n": len(flagged),
        "flagged_entries": flagged[:8],
        "median_entry_ratio_vs_quietest": payload.get(
            "median_entry_ratio_vs_quietest"
        ),
        "contention_suspect": payload.get("contention_suspect"),
        "full_record": "bench_full.json (per-entry timings/spreads)",
    }


# plausibility floor for ANY per-query entry: a Spark action on
# local[32] pays job submission + stage scheduling + noop-commit; even
# a one-partition no-op measures ~20-40 ms, so a recorded best under
# 50 ms on an sf0.1 multi-stage plan is far more likely a harness
# artifact (cached frame, clock skip) than a real execution. Entries
# are FLAGGED, not rejected — a legitimately tiny plan (broadcast-only,
# driver-side closed form) can dip under it, and the flag is exactly
# the "treat cross-round deltas on this entry as noise" marker.
QUERY_FLOOR_SEC = 0.05


def entry_flags(
    timings: dict[str, float], spreads: dict[str, float]
) -> dict[str, list[str]]:
    """Per-entry plausibility flags (empty dict = all entries clean).

    ``sub_floor``   — best-of-N below QUERY_FLOOR_SEC;
    ``high_spread`` — (worst - best) exceeds best AND 50 ms: the
                      measurement varies more than its own value, so a
                      cross-round delta smaller than the spread is
                      host noise, not a regression."""
    flags: dict[str, list[str]] = {}
    for name, best in timings.items():
        f = []
        if best < QUERY_FLOOR_SEC:
            f.append("sub_floor")
        spread = spreads.get(name, 0.0)
        if spread > best and spread > QUERY_FLOOR_SEC:
            f.append("high_spread")
        if f:
            flags[name] = f
    return flags


# physical floor for the extraction build, in the same fixed+marginal
# shape as the cost itself: the original 0.5 ms/doc LINEAR floor was
# calibrated on the 2,000-doc entry, whose wall time the 3-point scale
# fit (tools/extract_scale.py, round 11) showed to be ~90% FIXED
# overhead — a real 20,000-doc build at ~0.06 ms/doc marginal wall
# ran under the linear floor and was wrongly discarded as a clock
# artifact. Floor = 0.5 s fixed (13 concurrent Spark jobs cannot
# schedule+commit faster) + 0.02 ms/doc marginal (measured marginal is
# ~3x this). The r06 harness artifact (0.165 s / 2000 docs) still
# trips it at every size.
EXTRACT_FLOOR_FIXED_SEC = 0.5
EXTRACT_FLOOR_SEC_PER_DOC = 0.00002


def extract_floor_sec(n_docs: int) -> float:
    return EXTRACT_FLOOR_FIXED_SEC + n_docs * EXTRACT_FLOOR_SEC_PER_DOC
# the synthetic corpus populates ≥10 of the 12 reference-parity tables
# (one Schedule-O table is legitimately empty for generated docs)
EXTRACT_MIN_NONEMPTY_TABLES = 10


def _validate_extract_rows(
    rows: dict[str, int], dead_rows: int, n_docs: int
) -> None:
    """Reject a bench extraction run whose OUTPUTS are inconsistent
    with actually having done the work. Raises RuntimeError — a broken
    build must crash the bench, never record an entry."""
    problems = []
    if rows.get("CORE") != n_docs:
        problems.append(f"CORE rows {rows.get('CORE')} != n_docs {n_docs}")
    if dead_rows:
        problems.append(f"{dead_rows} dead-letter rows (corpus is clean)")
    nonempty = sum(1 for v in rows.values() if v > 0)
    if nonempty < EXTRACT_MIN_NONEMPTY_TABLES:
        problems.append(
            f"only {nonempty} non-empty tables "
            f"(expected >= {EXTRACT_MIN_NONEMPTY_TABLES}): {rows}"
        )
    if problems:
        raise RuntimeError(
            "extraction bench self-validation FAILED: " + "; ".join(problems)
        )


def _validate_extract_run(
    rows: dict[str, int], dead_rows: int, n_docs: int, sec: float
) -> None:
    """Row validation + the timing floor in one call (kept for tests
    and external callers; the bench loop applies the floor per-run so
    one clock artifact invalidates that run, not the whole bench)."""
    _validate_extract_rows(rows, dead_rows, n_docs)
    floor = extract_floor_sec(n_docs)
    if sec < floor:
        raise RuntimeError(
            "extraction bench self-validation FAILED: "
            f"wall time {sec:.4f}s below the physical floor {floor:.4f}s "
            f"({EXTRACT_FLOOR_FIXED_SEC}s fixed + "
            f"{EXTRACT_FLOOR_SEC_PER_DOC * 1000:.2f} ms/doc x {n_docs} docs) "
            "— clock/harness artifact, not a real build"
        )


def _cpu_calibration() -> float:
    """Seconds for a fixed single-thread integer workload (~2 s on an
    uncontended host)."""
    t0 = time.perf_counter()
    s = 0
    for i in range(20_000_000):
        s += i
    assert s == 199999990000000
    return round(time.perf_counter() - t0, 4)


def _cpu_calibration_mc() -> float:
    """Wall seconds for 32 PROCESSES each running the single-thread
    workload — measures effective core availability, which co-tenant
    load degrades without moving the single-thread probe. On a free
    32-core host this reads ≈ the single-thread number."""
    import multiprocessing as mp

    try:
        with mp.Pool(32) as pool:
            t0 = time.perf_counter()
            pool.map(_mc_work, range(32))
            return round(time.perf_counter() - t0, 4)
    except Exception:  # pool creation can fail in exotic sandboxes
        return -1.0


def _mc_work(_):
    s = 0
    for i in range(20_000_000):
        s += i
    return s


if __name__ == "__main__":
    main()
