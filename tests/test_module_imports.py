"""Round-11 structural invariant: every query sub-family module must
import cleanly STANDALONE (fresh interpreter, nothing else imported
first). The failure mode this pins: a split module that imports its
sibling at module level creates a cycle through the parent's tail
re-export — the star import of a partially-initialized sibling binds
nothing (silently!) or raises on an underscore re-export, but only
for whichever import order a given entry point happens to use. Found
by review in round 11 (dedup_eval raised ImportError when imported
first; relational lost every relational_quality name when
relational_quality was imported first)."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

QUERIES_DIR = (
    Path(__file__).resolve().parent.parent
    / "irs_990_efiler_database_spark"
    / "queries"
)

MODULES = sorted(
    p.stem for p in QUERIES_DIR.glob("*.py") if p.stem != "__init__"
)


@pytest.mark.parametrize("module", MODULES)
def test_query_module_imports_standalone(module):
    repo = str(QUERIES_DIR.parent.parent)
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            f"import sys; sys.path.insert(0, {repo!r});"
            f" import irs_990_efiler_database_spark.queries.{module}",
        ],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, (
        f"queries.{module} failed to import standalone:\n{proc.stderr[-2000:]}"
    )


def test_aggregators_expose_moved_names_in_either_order():
    """The silent variant: import the CHILD first, then the parent —
    the parent's tail star re-export must still bind the moved names
    (before the round-11 restructure it bound nothing)."""
    pairs = [
        ("relational_quality", "relational", "profile_orders_columns"),
        ("similarity_pq", "similarity_ops", "sim_pq_adc_topk"),
        ("dedup_eval", "dedup_ops", "match_fellegi_sunter"),
        ("stats_models", "stats_ops", "stat_bh_fdr"),
        ("events_trends", "events_ops", "events_kaplan_meier"),
    ]
    repo = str(QUERIES_DIR.parent.parent)
    for child, parent, name in pairs:
        proc = subprocess.run(
            [
                sys.executable,
                "-c",
                f"import sys; sys.path.insert(0, {repo!r});"
                f" import irs_990_efiler_database_spark.queries.{child};"
                f" from irs_990_efiler_database_spark.queries.{parent}"
                f" import {name}",
            ],
            capture_output=True,
            text=True,
            timeout=120,
        )
        assert proc.returncode == 0, (
            f"{child} -> {parent}.{name} broke:\n{proc.stderr[-2000:]}"
        )


def _query_names_after(prelude: str) -> list[str]:
    """The registry's query names in a fresh interpreter that runs
    ``prelude`` before the registry first loads."""
    repo = str(QUERIES_DIR.parent.parent)
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            f"import sys; sys.path.insert(0, {repo!r}); {prelude}"
            " from irs_990_efiler_database_spark import queries;"
            " print('\\n'.join(queries.all_queries()))",
        ],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    return proc.stdout.split()


def test_registry_loads_after_a_catalog_slice_was_registered():
    """A build may register a derived-catalog MANY slice in the
    process-global master registry before anything loads the query
    registry. Loading it afterwards must not register that slice a
    second time, and must yield exactly the names a fresh load does."""
    after_slice = _query_names_after(
        "from irs_990_efiler_database_spark.plans.concordance import"
        " register_catalog_many_table;"
        " register_catalog_many_table('IRS990ScheduleN-PART-02',"
        " table_name='MC-IRS990ScheduleN-PART-02-MANY');"
    )
    assert after_slice == _query_names_after("")
