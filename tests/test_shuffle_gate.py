"""Shuffle-ratio regression gate (VERDICT r6 #5): the per-family
shuffle-byte ratios measured by tools/shuffle_budget.py are committed
bounds (tools/shuffle_bounds.json); a family degrading >1.5x fails the
closing gate. The deliberate de-optimization test proves the gate
actually trips on a real executed plan, not just on fabricated
numbers."""

from __future__ import annotations

import json
from pathlib import Path

from tools.shuffle_budget import check_bounds, measure

BOUNDS = json.loads(
    (Path(__file__).resolve().parent.parent / "tools" / "shuffle_bounds.json").read_text()
)


def _bounds_for(*families: str) -> dict:
    """Committed bounds scoped to the families a unit test measures.
    check_bounds (r8 contract) symmetrically flags bounded-but-not-
    measured families, so tests that deliberately measure a subset
    must scope the bounds doc to that subset."""
    return {
        "factor": BOUNDS.get("factor", 1.5),
        "bounds": {f: BOUNDS["bounds"][f] for f in families},
    }


def test_check_bounds_passes_at_bound_and_fails_beyond():
    local = _bounds_for("q1_pricing_summary", "fdedup_minhash_pairs")
    pairs_bound = local["bounds"]["fdedup_minhash_pairs"]
    measured = {
        "q1_pricing_summary": {"ratio": 0.0001, "spill_mb": 0.0},
        "fdedup_minhash_pairs": {"ratio": pairs_bound * 1.49, "spill_mb": 0.0},
    }
    assert check_bounds(measured, local) == []
    measured["fdedup_minhash_pairs"]["ratio"] = pairs_bound * 1.51
    problems = check_bounds(measured, local)
    assert len(problems) == 1 and "fdedup_minhash_pairs" in problems[0]


def test_unbounded_family_and_spill_fail():
    local = _bounds_for("q1_pricing_summary")
    assert check_bounds(
        {
            "brand_new_family": {"ratio": 0.1, "spill_mb": 0.0},
            "q1_pricing_summary": {"ratio": 0.0001, "spill_mb": 0.0},
        },
        local,
    ) == ["brand_new_family: no committed bound (add one)"]
    problems = check_bounds(
        {"q1_pricing_summary": {"ratio": 0.0001, "spill_mb": 5.0}}, local
    )
    assert problems and "spill" in problems[0]


def test_bounded_but_not_measured_is_a_violation():
    """The r8 symmetric contract: dropping a family from AUDIT without
    deleting its committed bound must trip the gate — gate coverage may
    only shrink by editing shuffle_bounds.json."""
    local = _bounds_for("q1_pricing_summary", "fdedup_minhash_pairs")
    problems = check_bounds(
        {"q1_pricing_summary": {"ratio": 0.0001, "spill_mb": 0.0}}, local
    )
    assert len(problems) == 1
    assert "fdedup_minhash_pairs" in problems[0] and "NOT measured" in problems[0]
    # and the full committed bounds file against the full audited
    # keyset (plan-metric families + app-delta streaming families,
    # round 11) is symmetric — every bounded family is audited and
    # vice versa
    from tools.shuffle_budget import AUDIT, STREAM_AUDIT

    assert set(BOUNDS["bounds"]) == set(AUDIT) | set(STREAM_AUDIT)


def test_deliberate_deoptimization_trips_the_gate(spark):
    """Real-plan demo: q1 is a pure map-side-combine aggregation
    (committed ratio 0.0001 — shuffle carries only partial aggregates).
    The de-optimized variant repartitions lineitem by a high-cardinality
    key BEFORE aggregating, forcing the full input across the wire —
    the exact class of regression (lost partial aggregation / key
    widening) the gate exists to catch. Measured via the same
    SQLMetrics path as the closing gate."""
    from irs_990_efiler_database_spark.catalog import load_table
    from irs_990_efiler_database_spark.queries import all_queries

    sf = "/root/testdata/sf0.01"

    def q1_deopt(spark, sf_dir):
        import pyspark.sql.functions as F

        li = load_table(spark, sf_dir, "lineitem").repartition(
            32, "l_orderkey"
        )
        return (
            li.filter(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum("l_quantity").alias("sum_qty"))
        )

    audit = {"q1_pricing_summary": ["lineitem"]}
    good = measure(spark, sf, audit)
    # q1's shuffle is a constant few KB of partial aggregates, so its
    # RATIO shrinks with SF — derive this test's bound from the good
    # run at the SAME SF (the committed bounds are sf0.1; the closing
    # gate runs there)
    local_bounds = {
        "factor": 1.5,
        "bounds": {"q1_pricing_summary": good["q1_pricing_summary"]["ratio"]},
    }
    assert check_bounds(good, local_bounds) == []

    bad = measure(spark, sf, audit, queries={"q1_pricing_summary": q1_deopt})
    problems = check_bounds(bad, local_bounds)
    assert problems and "q1_pricing_summary" in problems[0], (
        f"de-optimized plan did not trip the gate: {bad}"
    )
    # and it is gross enough to trip the COMMITTED sf0.1 bound too
    assert check_bounds(bad, BOUNDS)
