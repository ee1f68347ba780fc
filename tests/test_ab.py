"""tools/ab.py, the interleaved A/B runner: the arm order reverses every
round, every patch is undone after each run, and a spec that cannot be
resolved fails before any query runs."""

from __future__ import annotations

import os

import pytest

from irs_990_efiler_database_spark import catalog, queries, streaming
from irs_990_efiler_database_spark.queries import stats_models
from tests.conftest import SF_SMOKE as SF
from tools import ab

QUERY = "q6_forecast_revenue"


def _spy(monkeypatch):
    """Wrap QUERY in the registry; return the list of the shuffle
    partitions in force at each of its calls."""
    real = queries.all_queries()[QUERY]
    seen: list[str] = []

    def spy(spark, sf_dir):
        seen.append(spark.conf.get("spark.sql.shuffle.partitions"))
        return real(spark, sf_dir)

    monkeypatch.setitem(queries._REGISTRY, QUERY, spy)
    return seen


def test_arms_reverse_each_round_and_every_patch_is_undone(
    spark, monkeypatch, tmp_path
):
    seen = _spy(monkeypatch)
    arms = [
        ("a", ["conf.spark.sql.shuffle.partitions=3"]),
        (
            "b",
            [
                "conf.spark.sql.shuffle.partitions=5",
                "conf.spark.ab.test.probe=b",
                "env.AB_TEST_PROBE=b",
                "attr.queries.stats_models._SGN_ITERS=1",
                "kw.streaming.run_available_now.state_partitions=2",
            ],
        ),
    ]
    conf_before = spark.conf.getAll
    env_before = dict(os.environ)
    iters, drain = stats_models._SGN_ITERS, streaming.run_available_now

    records = ab.run_ab(spark, [QUERY], arms, 2, SF, tmp_path / "plans")

    # untimed a, b; round 1 a, b; round 2 reversed: b, a
    assert seen == ["3", "5", "3", "5", "5", "3"]
    assert spark.conf.getAll == conf_before
    assert dict(os.environ) == env_before
    assert stats_models._SGN_ITERS == iters
    assert streaming.run_available_now is drain
    assert [(r["query"], r["arm"]) for r in records] == [(QUERY, "a"), (QUERY, "b")]
    for r in records:
        assert len(r["runs"]) == 2
        assert r["min"] <= r["q1"] <= r["median"] <= r["q3"] <= max(r["runs"])
    assert "beat_first" not in records[0]
    assert 0 <= records[1]["beat_first"] <= 2
    for arm in ("a", "b"):
        assert "Physical Plan" in (tmp_path / "plans" / f"{QUERY}_{arm}.txt").read_text()


@pytest.mark.parametrize(
    "spec",
    [
        "kw.queries.text_lm.load_table.no_such_keyword=True",
        "attr.queries.stats_models._NO_SUCH_CONSTANT=1",
        "nosuchkind.spark.sql.shuffle.partitions=3",
    ],
)
def test_unresolvable_spec_raises_before_any_query_runs(spark, monkeypatch, spec):
    seen = _spy(monkeypatch)
    loaded: list[str] = []
    monkeypatch.setattr(
        catalog, "load_table", lambda spark, sf, name, **kw: loaded.append(name)
    )
    with pytest.raises(ValueError):
        ab.run_ab(spark, [QUERY], [("base", []), ("bad", [spec])], 2, SF)
    assert seen == [] and loaded == []
