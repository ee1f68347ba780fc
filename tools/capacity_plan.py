"""100-TB capacity plan from MEASURED quantities — the extrapolation a
platform team writes before committing a workload to a cluster, with
every input measured on this repo's own feedback loops rather than
asserted:

- per-family shuffle ratio (shuffled bytes / input bytes) from the
  executed plan's SQLMetrics at sf0.1 (same machinery as
  tools/shuffle_budget.py);
- per-family wall-time slope between sf0.01 and sf0.1 (same
  interleaved best-of-2 protocol as tools/bench_slope.py), converted
  to a cost exponent ln(time_ratio)/ln(data_ratio);
- a declared commodity cluster model (constants below).

For each family at TARGET input bytes it reports the three candidate
bottlenecks and which one binds:

  scan_min    = target / (nodes * scan_bw)            — I/O floor
  shuffle_min = 2 * ratio * target / (nodes * nic_bw) — network cost
                (×2: shuffle bytes cross the network on write AND read)
  cpu_min     = MARGINAL core-seconds per input byte, times target,
                over the cluster's cores. The marginal rate comes from
                the two-point decomposition core_sec(x) ≈ fixed + M·x
                (M = Δcore_sec/Δbytes between the two SFs): raw wall
                time at test SF is dominated by per-job fixed overhead
                (driver planning, task launch), and scaling THAT
                linearly to 100 TB would overstate CPU cost by orders
                of magnitude, exactly as banking on the sub-linear
                window slope would understate it. The reported
                exponent is diagnostic only.

Usage: python tools/capacity_plan.py [--quick] [--three <sf1_dir>]
(--quick runs each timing once instead of best-of-2)

``--three`` adds a THIRD measured point (an sf1-scale set from
tools/gen_sf1.py, 10x sf0.1): the fixed+marginal split becomes a
least-squares line over three points spanning two decades of scale,
and the table reports the middle point's relative residual — a large
residual means the linear model (hence the cpu_min extrapolation) is
not trustworthy for that family. Two points can always be fit
exactly; three points is where linearity is actually TESTED.

Prints a markdown table (paste into BENCH_NOTES.md) + one JSON line.
"""

from __future__ import annotations

import json
import math
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMALL = "/root/testdata/sf0.01"
SF_BIG = "/root/testdata/sf0.1"

# --- declared cluster model (the ONLY non-measured inputs) ---------------
NODES = 250  # commodity nodes
CORES_PER_NODE = 32  # 8,000 cores total
SCAN_BW = 2.0e9  # bytes/s effective parquet scan per node (S3/HDFS)
NIC_BW = 3.125e9  # bytes/s per node (25 GbE)
TARGET = 100e12  # 100 TB of the family's own input tables

LOCAL_CORES = 32  # the measurement host (local[32])

# family label -> (query, input tables)
FAMILIES = {
    "minhash-LSH pairs": ("fdedup_minhash_pairs", ["documents"]),
    "exact-substring spans": (
        "fdedup_exact_substring_spans",
        ["documents"],
    ),
    "boilerplate ngrams": ("text_boilerplate_ngrams", ["documents"]),
    "signSGD classifier": ("stat_signgd_text_classifier", ["documents"]),
    "IVF-PQ ANN": ("sim_ann_ivfpq", ["embeddings"]),
    "triangle count": ("graph_triangle_count", ["events"]),
    "RFM segmentation": ("events_rfm_segmentation", ["events"]),
    "TPC-H Q1 aggregation": ("q1_pricing_summary", ["lineitem"]),
}


def _time_query(spark, fn, sf_dir: str) -> float:
    spark.catalog.clearCache()
    t0 = time.time()
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    dt = time.time() - t0
    spark.catalog.clearCache()
    return dt


def _fit_line(xs: list[float], ys: list[float]) -> tuple[float, float]:
    """Least-squares y = fixed + M*x; returns (fixed, M)."""
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    sxy = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
    slope = sxy / sxx if sxx else 0.0
    return my - slope * mx, slope


def _flag_value(flag: str) -> str | None:
    """Value following ``flag`` in argv, or None when absent. Errors
    loudly when the flag is last (no value) or is followed by another
    option — either would otherwise mis-parse silently."""
    argv = sys.argv[1:]
    if flag not in argv:
        return None
    idx = argv.index(flag)
    if idx + 1 >= len(argv) or argv[idx + 1].startswith("--"):
        raise SystemExit(f"usage: {flag} <value> — missing value")
    return argv[idx + 1]


def main() -> None:
    quick = "--quick" in sys.argv[1:]
    sf1_dir = _flag_value("--three")
    families = dict(FAMILIES)
    fam_arg = _flag_value("--families")
    if fam_arg is not None:
        # comma-separated case-insensitive substrings of family labels
        # (e.g. --families minhash,substring) — re-measure just the
        # families a corpus change touches instead of the full sweep
        pats = [p.strip().lower() for p in fam_arg.split(",")]
        families = {
            k: v
            for k, v in FAMILIES.items()
            if any(p in k.lower() for p in pats)
        }
        if not families:
            raise SystemExit(
                f"--families matched nothing; labels: {list(FAMILIES)}"
            )
    reps = 1 if quick else 2
    from irs_990_efiler_database_spark.caching import release_cached
    from irs_990_efiler_database_spark.plans.metrics import (
        summarize_execution,
    )
    from irs_990_efiler_database_spark.queries import all_queries
    from irs_990_efiler_database_spark.session import get_spark
    from tools.shuffle_budget import _input_bytes

    spark = get_spark("capacity_plan")
    qs = all_queries()
    rows = []
    out = {}
    sf_dirs = [SF_SMALL, SF_BIG] + ([sf1_dir] if sf1_dir else [])
    for label, (qname, tables) in families.items():
        fn = qs[qname]
        _time_query(spark, fn, SF_SMALL)  # warm codegen/JIT once
        times = {d: float("inf") for d in sf_dirs}
        for _ in range(reps):
            # interleave sizes so monotonic host drift biases all
            # points the same way instead of poisoning the slope
            for d in sf_dirs:
                times[d] = min(times[d], _time_query(spark, fn, d))
        bytes_ = {d: _input_bytes(d, tables) for d in sf_dirs}
        ta, tb = times[SF_SMALL], times[SF_BIG]
        inp_small, inp_big = bytes_[SF_SMALL], bytes_[SF_BIG]
        data_ratio = inp_big / inp_small
        exponent = math.log(tb / ta) / math.log(data_ratio)

        # shuffle ratio from the executed sf0.1 plan (collect so the
        # SQLMetrics live on THIS frame; results are aggregates)
        df = fn(spark, SF_BIG)
        df.collect()
        m = summarize_execution(df)
        release_cached()
        spark.catalog.clearCache()
        ratio = m.shuffle_bytes_written / inp_big

        scan_min = TARGET / (NODES * SCAN_BW) / 60
        shuffle_min = 2 * ratio * TARGET / (NODES * NIC_BW) / 60
        if sf1_dir:
            # 3-point least-squares fixed+marginal fit; the middle
            # point's relative residual is the linearity test
            xs = [bytes_[d] for d in sf_dirs]
            ys = [times[d] * LOCAL_CORES for d in sf_dirs]
            fixed, marginal = _fit_line(xs, ys)
            marginal = max(marginal, 0.0)
            fit_mid = fixed + marginal * bytes_[SF_BIG]
            resid = abs(fit_mid - times[SF_BIG] * LOCAL_CORES) / (
                times[SF_BIG] * LOCAL_CORES
            )
        else:
            # two-point split; a family whose big-SF run is not
            # measurably slower than small-SF is pure fixed overhead
            # at these sizes — floor the marginal rate at 0
            marginal = max(tb - ta, 0.0) * LOCAL_CORES / (inp_big - inp_small)
            resid = None
        cpu_min = marginal * TARGET / (NODES * CORES_PER_NODE) / 60
        bound = max(
            ("scan", scan_min), ("shuffle", shuffle_min), ("cpu", cpu_min),
            key=lambda kv: kv[1],
        )
        resid_cell = f" {resid*100:.0f}% |" if resid is not None else ""
        rows.append(
            f"| {label} | {ratio:.3f} | {exponent:.2f} "
            f"| {scan_min:.0f} | {shuffle_min:.0f} | {cpu_min:.0f} "
            f"| {bound[0]}-bound ~{bound[1]:.0f} min |" + resid_cell
        )
        out[qname] = {
            "shuffle_ratio": round(ratio, 4),
            "exponent": round(exponent, 3),
            "scan_min": round(scan_min, 1),
            "shuffle_min": round(shuffle_min, 1),
            "cpu_min": round(cpu_min, 1),
            "bound": bound[0],
        }
        if resid is not None:
            out[qname]["t_points_sec"] = [round(times[d], 2) for d in sf_dirs]
            out[qname]["fit_residual_mid"] = round(resid, 3)

    print(
        f"Cluster model: {NODES} nodes x {CORES_PER_NODE} cores, "
        f"{SCAN_BW/1e9:.0f} GB/s scan + {NIC_BW*8/1e9:.0f} Gb/s NIC per "
        f"node; target = 100 TB of each family's own input."
    )
    print()
    resid_hdr = " mid-point residual |" if sf1_dir else ""
    print(
        "| family | shuffle ratio | slope exp | scan min | shuffle min "
        "| cpu min | binding |" + resid_hdr
    )
    print("|---|---|---|---|---|---|---|" + ("---|" if sf1_dir else ""))
    for r in rows:
        print(r)
    print()
    print(
        json.dumps(
            {
                "metric": "capacity_plan_100tb",
                "nodes": NODES,
                "cores": NODES * CORES_PER_NODE,
                "families": out,
            }
        )
    )


if __name__ == "__main__":
    main()
