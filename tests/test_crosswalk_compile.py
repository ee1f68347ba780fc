"""The ENTIRE master crosswalk must be expressible: all 1,683
LOCATIONs registered at once, every well-formed xpath resolvable in
the superset schema and compilable to a Catalyst expression, and the
resulting giant struct still parses real documents within the plan
budget. This is the load test behind the G6 claim ("any of 1,683
LOCATIONs") — the arm fuzz proves sampled slices extract CORRECTLY;
this proves the register → schema-extend → compile path doesn't fall
over at full-crosswalk width."""

from __future__ import annotations

import pytest


@pytest.fixture()
def all_registered():
    """Register every location, restore the registry afterwards (the
    giant schema would slow every later test in this process)."""
    from irs_990_efiler_database_spark.plans.concordance import (
        _MASTER_TABLES,
        register_master_table,
    )
    from irs_990_efiler_database_spark.sources.xml_source import (
        build_return_schema,
    )

    saved = dict(_MASTER_TABLES)
    import json
    from pathlib import Path

    mi = json.loads(
        (
            Path(__file__).resolve().parent.parent
            / "irs_990_efiler_database_spark"
            / "metadata"
            / "master_index.json"
        ).read_text()
    )
    locs = sorted({r[1] for r in mi})
    assert len(locs) == 1683
    names = [register_master_table(loc, table_name=f"ALL-{loc}") for loc in locs]
    yield names
    _MASTER_TABLES.clear()
    _MASTER_TABLES.update(saved)
    build_return_schema.cache_clear()


def _wellformed(xp: str) -> bool:
    return ";" not in xp and " " not in xp


def test_every_crosswalk_xpath_resolves_and_compiles(all_registered):
    """Schema trie + expression compiler over all ~9.7k crosswalk rows
    (driver-side only — no Spark jobs): every well-formed xpath must
    resolve to a schema node and compile to SQL text."""
    from irs_990_efiler_database_spark.extract.compiler import ExprCompiler
    from irs_990_efiler_database_spark.plans.concordance import table_rows
    from irs_990_efiler_database_spark.sources.xml_source import (
        build_return_schema,
    )

    _, builder = build_return_schema()
    c = ExprCompiler(builder)
    n_rows = n_skipped = 0
    failures = []
    for name in all_registered:
        for r in table_rows(name):
            xp = r["xpath"]
            if not _wellformed(xp):
                n_skipped += 1
                continue
            n_rows += 1
            try:
                if builder.node_at(xp) is None:
                    failures.append((name, xp, "unresolved"))
                    continue
                c.scalar_sql(xp)
            except Exception as exc:  # noqa: BLE001 — collecting all
                failures.append((name, xp, f"{type(exc).__name__}: {exc}"))
    assert n_rows > 9500, n_rows
    # the '; '-joined multi-form cells are split into real arms at
    # registration (concordance._split_xpath_cell) — nothing to skip
    assert n_skipped == 0, n_skipped
    assert not failures, f"{len(failures)} xpaths failed: {failures[:5]}"


def test_full_width_schema_still_parses_documents(spark, all_registered):
    """With all 1,683 slices registered, the superset struct is at its
    maximum width — the fixtures must still parse and a registered
    slice must still build end-to-end (plan-size regression guard:
    an over-wide from_xml struct shows up here as analysis blow-up or
    parse failure, not in the sampled-slice tests)."""
    import time

    from irs_990_efiler_database_spark.extract.rdb_builder import (
        build_rdb_table,
    )
    from irs_990_efiler_database_spark.sources.xml_source import (
        read_return_xml_files,
    )

    t0 = time.time()
    df = read_return_xml_files(spark, "tests/fixtures/*.xml")
    out = build_rdb_table(df, "ALL-SCHED-A-PART-02")
    n = out.count()
    wall = time.time() - t0
    assert n >= 0  # schedule-guarded: fixtures may or may not carry it
    assert df.count() == 13
    # generous bound: the 3 s Catalyst-analysis budget plus execution
    assert wall < 120, f"full-width build took {wall:.1f}s"


def test_every_group_root_and_member_compiles():
    """Driver-side only (no Spark job): every MANY group root and
    member rel-path of every registered table — the default tables,
    the default master slices and all 227 derived-catalog MANY slices —
    and of schedn_spec.json compiles through the compiler's single
    walk: each root to exactly one open array (what the builders
    explode), each member from the group node over ``_g`` to a text
    scalar (never the no-text struct NULL)."""
    from irs_990_efiler_database_spark.extract.compiler import ExprCompiler
    from irs_990_efiler_database_spark.plans.concordance import (
        _MASTER_TABLES,
        concrete_groups,
        load_many_catalog,
        load_schedn_spec,
        master_table_names,
        register_catalog_many_table,
        table_names,
        table_rows,
    )
    from irs_990_efiler_database_spark.sources.xml_source import (
        build_return_schema,
    )

    saved = dict(_MASTER_TABLES)
    try:
        for loc in load_many_catalog():
            register_catalog_many_table(loc)
        groups: list[tuple[str, str, list[str]]] = []
        for name in table_names() + master_table_names():
            manys = [r for r in table_rows(name) if r["cardinality"] == "MANY"]
            if manys:
                for gp, leaves in concrete_groups(manys).items():
                    groups.append((name, gp, list(leaves)))
        for name, t in load_schedn_spec()["tables"].items():
            if t["cardinality"] == "MANY":
                rels = [r for v in t["vars"].values() for r in v["rels"]]
                groups += [(name, gp, rels) for gp in t["groups"]]

        c = ExprCompiler(build_return_schema()[1])
        n_members = 0
        failures = []
        for name, gp, rels in groups:
            try:
                if rels == [""]:  # divergence at the leaf: no explode
                    c.presence_sql(gp)
                    c.scalar_sql(gp)
                    continue
                root_sql, depth, _ = c.walk(gp, element=True)
                gsql, gnode = c.group(gp)
                assert depth == 1 and gsql == root_sql, (gp, depth)
                for rel in rels:
                    kind = c.walk(rel, gnode, "`_g`")[2]
                    assert kind in ("text", "value"), (rel, kind)
                    assert "`_g`." in c.scalar_sql(rel, gnode, "`_g`")
                    n_members += 1
            except Exception as exc:  # noqa: BLE001 — collecting all
                failures.append((name, gp, f"{type(exc).__name__}: {exc}"))
        assert len(groups) > 300, len(groups)
        assert n_members > 4000, n_members
        assert not failures, f"{len(failures)} groups failed: {failures[:5]}"
    finally:
        _MASTER_TABLES.clear()
        _MASTER_TABLES.update(saved)
        build_return_schema.cache_clear()
