"""Concordance-planner algorithm tests (E1/E2 ports, reference
:121-151): group-root inference and the leaf→variable map, pinned
against each other and against the derived metadata."""

from __future__ import annotations

import pytest

from irs_990_efiler_database_spark.plans.concordance import (
    concrete_groups,
    find_group_names,
    get_var_map,
    table_names,
    table_rows,
)


def test_find_group_names_part_vii():
    rows = [
        r
        for r in table_rows("F9-P07-TABLE-01-DTK-COMPENSATION")
        if r["cardinality"] == "MANY"
    ]
    roots = find_group_names([r["xpath"] for r in rows])
    assert "Form990PartVIISectionAGrp" in roots or "Form990PartVIISectionA" in roots


def test_get_var_map_agrees_with_concrete_groups():
    # E2 (leaf -> variable) must assign every leaf that E3/E4's group
    # decomposition extracts to the same canonical variable — the two
    # algorithms are alternate views of the same concordance
    for table in table_names():
        rows = [r for r in table_rows(table) if r["cardinality"] == "MANY"]
        if not rows:
            continue
        vmap = get_var_map(rows)
        expected: dict[str, set[str]] = {}
        for leaves in concrete_groups(rows).values():
            for rel, var in leaves.items():
                leaf = (rel or "").split("/")[-1] or "-"
                if leaf != "-":
                    expected.setdefault(leaf, set()).add(var)
        for leaf, vars_ in expected.items():
            assert vmap[leaf] in vars_, (table, leaf, vmap[leaf], vars_)


def test_concrete_groups_cover_all_many_rows():
    for table in table_names():
        rows = [r for r in table_rows(table) if r["cardinality"] == "MANY"]
        if not rows:
            continue
        covered = sum(len(le) for le in concrete_groups(rows).values())
        distinct = len({(r["xpath"]) for r in rows})
        assert covered == distinct, table


def test_master_table_rows_shape_and_guard():
    """The master-concordance loader (create_code_chunks analog,
    reference :5186-5291) emits the exact spec-row shape
    build_rdb_table consumes, and the data-driven schedule guard
    reproduces the old hardcoded SJ-/SN- behavior while generalizing
    to Schedule A / 990PF slices."""
    from irs_990_efiler_database_spark.plans.concordance import (
        master_table_rows,
        schedule_guard,
    )

    rows = master_table_rows("SCHED-A-PART-02")
    assert rows and all(
        set(r) == {
            "xpath", "variable", "data_type", "cardinality",
            "rdb_table", "scope", "production_rule",
        }
        for r in rows
    )
    assert all(r["cardinality"] == "ONE" for r in rows)
    # prefix match pulls -LINE- sublocations in
    assert len({r["variable"] for r in rows}) > 100

    assert schedule_guard(rows) == "IRS990ScheduleA"
    assert schedule_guard(master_table_rows("IRS990PF-PART-02")) == "IRS990PF"
    assert schedule_guard(table_rows("SJ-P01-T00-CHECKLIST")) == "IRS990ScheduleJ"
    # 990/990EZ body tables mix ReturnData members — no guard
    assert schedule_guard(table_rows("F9-P07-TABLE-01-DTK-COMPENSATION")) is None
    # header-xpath slices (officer block) — no guard
    assert schedule_guard(master_table_rows("F990-PF-PART-02")) is None


@pytest.mark.slow
def test_master_slice_multiversion_coalesce_values(spark):
    """Multi-version coalesce THROUGH the master path: the same
    variable (GGCRCTYEAR — gifts/grants received, current year) fills
    from the post-2013 Grp leaf on a 2015 doc and the
    Form990ScheduleAPartII leaf on a 2012 doc; non-ScheduleA filings
    emit no row at all (guard)."""
    from irs_990_efiler_database_spark.extract.golden import fixtures_dir
    from irs_990_efiler_database_spark.extract.rdb_builder import build_rdb_table
    from irs_990_efiler_database_spark.sources.xml_source import (
        read_return_xml_files,
    )

    returns = read_return_xml_files(spark, str(fixtures_dir() / "*.xml"))
    out = {
        r["EIN"]: r.asDict()
        for r in build_rdb_table(returns, "SCHED-A-PART-02").collect()
    }
    assert set(out) == {"100000010", "100000011"}
    assert out["100000010"]["GGCRCTYEAR"] == "600000"  # Grp-style leaf
    assert out["100000011"]["GGCRCTYEAR"] == "210000"  # PartII-style leaf
    assert out["100000010"]["GROINVINCTOT"] == "55000"
    assert out["100000011"]["GROINVINCTOT"] == "18000"

    pf = {
        r["EIN"]: r.asDict()
        for r in build_rdb_table(returns, "IRS990PF-PART-02").collect()
    }
    assert set(pf) == {"100000012", "100000013"}
    assert pf["100000012"]["FORMTYPE"] == "990PF"
    assert pf["100000012"]["BSTAEOY"] == "1350000"  # new-style EOYAmt leaf
    assert pf["100000013"]["BSTAEOY"] == "520000"  # old-style EOY leaf
    assert pf["100000012"]["BSTNAOFBEOY"] == "1315000"

    sa1 = {
        r["EIN"]: r.asDict()
        for r in build_rdb_table(returns, "SCHED-A-PART-01").collect()
    }
    assert sa1["100000010"]["PUBLORGAINDN"] == "X"
    assert sa1["100000011"]["CHURCHAII"] == "X"


def test_master_typed_checkbox_becomes_boolean(spark):
    """_infer_type labels all-Ind/Checkbox master variables 'boolean' —
    the type name typed_sql recodes (X/1/true → true) — so typed-mode
    master slices match per-table concordance checkbox semantics
    (ADVICE r5: 'checkbox' silently fell through as raw text)."""
    from irs_990_efiler_database_spark.extract.golden import fixtures_dir
    from irs_990_efiler_database_spark.extract.rdb_builder import build_rdb_table
    from irs_990_efiler_database_spark.plans.concordance import _infer_type
    from irs_990_efiler_database_spark.sources.xml_source import (
        read_return_xml_files,
    )

    assert _infer_type(["/Return/A/ChurchInd", "/Return/B/ChurchCheckbox"]) == "boolean"
    assert _infer_type(["/Return/A/ChurchInd", "/Return/A/Church"]) == "text"

    rows = table_rows("SCHED-A-PART-01")
    bool_vars = {r["variable"] for r in rows if r["data_type"] == "boolean"}
    assert bool_vars, "expected checkbox variables in SCHED-A-PART-01"
    returns = read_return_xml_files(spark, str(fixtures_dir() / "*.xml"))
    out = build_rdb_table(returns, "SCHED-A-PART-01", typed=True)
    typed_fields = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    for v in bool_vars:
        assert typed_fields[v] == "boolean", v
    got = {r["EIN"]: r.asDict() for r in out.collect()}
    assert got["100000010"]["PUBLORGAINDN"] is True
    # CHURCHAII's pre-2013 leaf (Church170b1Ai) has no Ind suffix, so
    # inference conservatively keeps it text — raw 'X' passes through
    assert got["100000011"]["CHURCHAII"] == "X"


def test_register_master_table_dynamic(spark):
    """ANY master LOCATION can be registered at runtime: the slice
    joins table_rows, the cached superset XML schema is rebuilt to
    carry its xpaths, and the generic builder extracts it with no
    builder changes. IRS990PF-PART-01 is NOT in the default set."""
    from irs_990_efiler_database_spark.extract.golden import fixtures_dir
    from irs_990_efiler_database_spark.extract.rdb_builder import build_rdb_table
    from irs_990_efiler_database_spark.plans.concordance import (
        _MASTER_TABLES,
        register_master_table,
    )
    from irs_990_efiler_database_spark.sources.xml_source import (
        read_return_xml_files,
    )

    name = register_master_table("IRS990PF-PART-01")
    try:
        rows = table_rows(name)
        assert rows and all(r["rdb_table"] == name for r in rows)
        returns = read_return_xml_files(spark, str(fixtures_dir() / "*.xml"))
        out = build_rdb_table(returns, name).collect()
        # guard admits only the PF filings; neither doc carries Part-1
        # leaves, so every extraction column is NULL but keys resolve
        assert len(out) == 2
        assert {r["EIN"] for r in out} == {"100000012", "100000013"}
        extraction_cols = {r["variable"] for r in rows}
        for r in out:
            row = r.asDict()
            assert row["FORMTYPE"] == "990PF"
            assert all(row[c] is None for c in extraction_cols)
    finally:
        _MASTER_TABLES.pop(name, None)
        from irs_990_efiler_database_spark.sources.xml_source import (
            build_return_schema,
        )

        build_return_schema.cache_clear()


def test_master_unknown_location_raises():
    import pytest

    from irs_990_efiler_database_spark.plans.concordance import (
        register_master_table,
    )

    with pytest.raises(KeyError):
        register_master_table("NOT-A-LOCATION")


def test_master_many_slice_explodes_officers(spark):
    """MANY master slice with declared group roots: the PF Part VIII
    officer list explodes one row per officer through the unchanged
    generic builder, and the golden oracle path sees the same rows
    (driver-gated as x990_pf_p08_officers)."""
    from irs_990_efiler_database_spark.extract.golden import fixtures_dir
    from irs_990_efiler_database_spark.extract.rdb_builder import build_rdb_table
    from irs_990_efiler_database_spark.sources.xml_source import (
        read_return_xml_files,
    )

    returns = read_return_xml_files(spark, str(fixtures_dir() / "*.xml"))
    rows = {
        r["ODTKEIODTKEP"]: r.asDict()
        for r in build_rdb_table(returns, "PF-P08-OFFICERS").collect()
    }
    # 2 new-style officers + the 2011 old-style officer (NULL new-name)
    assert set(rows) == {"NORA TRUSTEE", "OMAR DIRECTOR", None}
    assert rows["NORA TRUSTEE"]["ODTKEIODTKEC"] == "25000"
    assert rows["NORA TRUSTEE"]["ODTKEIODTKET"] == "PRESIDENT"
    assert rows["OMAR DIRECTOR"]["ODTKEIODTKEC"] == "0"
    assert rows[None]["EIN"] == "100000013"  # ragged old-style row
    assert rows["NORA TRUSTEE"]["EIN"] == "100000012"


def test_master_contractors_slice_and_vintage_arms(spark):
    """The 2011 PF fixture makes the OLD-style Part VIII arms
    load-bearing: contractors extract through
    CompensationOfHghstPaidCntrct (pre-2013 names, distinct vars) and
    the officers table unions old- and new-style rows raggedly."""
    from irs_990_efiler_database_spark.extract.golden import fixtures_dir
    from irs_990_efiler_database_spark.extract.rdb_builder import build_rdb_table
    from irs_990_efiler_database_spark.sources.xml_source import (
        read_return_xml_files,
    )

    returns = read_return_xml_files(spark, str(fixtures_dir() / "*.xml"))
    con = build_rdb_table(returns, "PF-P08-CONTRACTORS").collect()
    assert len(con) == 1
    row = con[0].asDict()
    assert row["EIN"] == "100000013"
    assert row["ODTKEICOHPCP"] == "PHIL PLUMBER"
    assert row["ODTKEICOHPCT"] == "FACILITIES"
    assert row["ODTKEICOHPCC"] == "8000"

    off = build_rdb_table(returns, "PF-P08-OFFICERS").collect()
    by_ein = {}
    for r in off:
        by_ein.setdefault(r["EIN"], []).append(r.asDict())
    assert len(by_ein["100000012"]) == 2  # new-style officers
    assert len(by_ein["100000013"]) == 1  # old-style officer
    old = by_ein["100000013"][0]
    assert old["ODTKEIODTOKE"] == "12000"  # old-arm column filled
    assert old["ODTKEIODTKEP"] is None  # new-arm columns NULL (ragged)


def test_master_typed_mode_infers_leaf_types(spark):
    """typed=True through the master path: Amt-suffixed leaves become
    bigint via the inferred 'numeric' data_type; text leaves stay
    string."""
    from irs_990_efiler_database_spark.extract.golden import fixtures_dir
    from irs_990_efiler_database_spark.extract.rdb_builder import build_rdb_table
    from irs_990_efiler_database_spark.sources.xml_source import (
        read_return_xml_files,
    )

    returns = read_return_xml_files(spark, str(fixtures_dir() / "*.xml"))
    typed = build_rdb_table(returns, "IRS990PF-PART-02", typed=True)
    dtypes = dict(typed.dtypes)
    assert dtypes["BSTAEOY"] == "bigint"  # TotalAssetsEOYAmt et al.
    rows = {r["EIN"]: r.asDict() for r in typed.collect()}
    assert rows["100000012"]["BSTAEOY"] == 1350000


def test_master_loader_handles_every_location():
    """Robustness sweep: every part-level LOCATION in the shipped
    master index resolves through master_table_rows without error,
    with well-formed spec rows (the no-surprises guarantee behind
    'any of the 1,683 locations is buildable')."""
    from irs_990_efiler_database_spark.plans.concordance import (
        load_master_index,
        master_table_rows,
        schedule_guard,
    )

    parts = sorted(
        {loc.split("-LINE")[0] for _, loc, _, _ in load_master_index()}
    )
    assert len(parts) > 100
    n_rows = 0
    for loc in parts:
        rows = master_table_rows(loc)
        assert rows, loc
        n_rows += len(rows)
        for r in rows:
            assert r["xpath"].startswith("/Return"), (loc, r)
            assert r["variable"] and r["rdb_table"] == loc
            assert r["cardinality"] == "ONE"
            assert r["data_type"] in ("numeric", "boolean", "text")
        # guard derivation must never throw, whatever the mix
        schedule_guard(rows)
    assert n_rows >= len(load_master_index())  # every xpath reachable


def test_many_catalog_matches_fresh_derivation():
    """The committed MANY catalog (metadata/master_many_catalog.json)
    is exactly what tools/derive_many_catalog.py derives from the
    current master index + ground truth — metadata drift (a concordance
    regeneration without re-deriving the catalog) fails here instead of
    silently shipping stale roots. Also re-asserts the ground-truth
    cross-check the tool hard-gates on."""
    import json
    from pathlib import Path

    from tools.derive_many_catalog import derive, ground_truth_roots

    meta = (
        Path(__file__).resolve().parent.parent
        / "irs_990_efiler_database_spark"
        / "metadata"
    )
    master = json.loads((meta / "master_index.json").read_text())
    truth = ground_truth_roots()
    fresh = derive(master, truth)
    committed = json.loads(
        (meta / "master_many_catalog.json").read_text()
    )["locations"]
    assert fresh == committed
    all_roots = {r for rs in committed.values() for r in rs}
    assert truth <= all_roots  # every known repeating element derived
    assert len(committed) >= 200 and len(all_roots) >= 300
