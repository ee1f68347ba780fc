"""Fixture-driven tests for the 990 extraction engine.

The Spark pipeline (wholetext source → from_xml superset struct →
compiled Column expressions) is compared against ``extract.golden`` —
an independent ElementTree re-implementation of the reference's
per-document semantics (scrapeXML / build_rdb_table,
build_efile_database_functions.R:307-2860, :210-276) — on the canonical
4-document fixture matrix (BUILD_SCRIPTS/README.md:44-50 analog).
"""

from __future__ import annotations

import pytest

from irs_990_efiler_database_spark.extract.core_builder import build_core
from irs_990_efiler_database_spark.extract.golden import (
    fixture_files,
    golden_core_row,
    golden_rdb_rows,
    golden_schedn_rows,
)
from irs_990_efiler_database_spark.extract.rdb_builder import build_rdb_table
from irs_990_efiler_database_spark.extract.schedn_builder import (
    build_schedn_table,
    schedn_table_names,
)
from irs_990_efiler_database_spark.plans.concordance import (
    load_core_spec,
    table_names,
)
from irs_990_efiler_database_spark.sources.xml_source import (
    read_return_xml_files,
)

GLOB = "tests/fixtures/*.xml"


@pytest.fixture(scope="module")
def returns(spark):
    df = read_return_xml_files(spark, GLOB).cache()
    df.count()
    yield df
    df.unpersist()


def test_wholetext_one_row_per_file(returns):
    # regression: .option("wholetext", True) silently read one row per
    # LINE; the kwarg form gives one row per file
    assert returns.count() == len(fixture_files()) == 13


def test_object_id_derived_from_url(returns):
    ids = {r["object_id"] for r in returns.select("object_id").collect()}
    want = {p.name.split("_")[-2] for p in fixture_files()}
    assert ids == want


def _rows_as_dicts(df):
    return [r.asDict() for r in df.collect()]


def test_core_matches_golden(returns):
    cols = list(dict.fromkeys(load_core_spec()["columns"]))
    spark_rows = {r["URL"]: r for r in _rows_as_dicts(build_core(returns, columns=cols))}
    assert len(spark_rows) == len(fixture_files())
    for p in fixture_files():
        url = p.resolve().as_uri()
        golden = golden_core_row(url, p.read_text())
        got = spark_rows[url]
        diffs = {
            c: (got[c], golden[c]) for c in cols if got[c] != golden[c]
        }
        assert not diffs, f"{p.name}: {diffs}"


def test_deep_coalesce_arms_are_load_bearing(returns):
    """Schema-vintage drift tolerance (the reason the reference's 6-way
    pipe-unions exist, build_efile_database_functions.R:4376-4383): the
    2010 fixture's contractor count lives ONLY at the 3rd arm of the
    6-arm F9_07_PZ_NUM_HIGH_PAY_CONTXRS chain
    (Form990PartVIISectionB/NumberOfContractorsGT100K), the 2009 EZ
    fixture's at the 6th (TotNumCntrctPdOver100KProfSer), and its
    termination flag ONLY at TERMINATED's 5th arm (TerminationReturn).
    Each assert first proves the earlier arms are absent from the doc,
    so a coalesce that silently dropped late arms would fail here."""
    from irs_990_efiler_database_spark.extract.golden import _scalar, load_doc
    from irs_990_efiler_database_spark.plans.concordance import table_rows

    docs = {p.name: p for p in fixture_files()}
    pc = docs["990_2010_100000007_public.xml"]
    ez = docs["990EZ_2009_100000008_public.xml"]

    arms = [
        r["xpath"]
        for r in table_rows("F9-P07-TABLE-00-COMP-OVERVIEW")
        if r["variable"] == "F9_07_PZ_NUM_HIGH_PAY_CONTXRS"
    ]
    assert len(arms) == 6
    pc_root = load_doc(pc.read_text())
    assert all(_scalar(pc_root, a) is None for a in arms[:2])
    assert _scalar(pc_root, arms[2]) == "3"
    ez_root = load_doc(ez.read_text())
    assert all(_scalar(ez_root, a) is None for a in arms[:5])
    assert _scalar(ez_root, arms[5]) == "2"

    t = build_rdb_table(returns, "F9-P07-TABLE-00-COMP-OVERVIEW")
    got = {
        r["OBJECT_ID"]: r["F9_07_PZ_NUM_HIGH_PAY_CONTXRS"]
        for r in t.collect()
    }
    assert got["100000007"] == "3"  # via arm 3 of 6
    assert got["100000008"] == "2"  # via arm 6 of 6

    term_arms = load_core_spec()["vars"]["TERMINATED"]["xpaths"]
    assert len(term_arms) == 5
    assert all(_scalar(ez_root, a) is None for a in term_arms[:4])
    assert _scalar(ez_root, term_arms[4]) == "X"
    core = build_core(returns, columns=["URL", "TERMINATED"])
    by_id = {r["URL"]: r["TERMINATED"] for r in core.collect()}
    assert by_id[ez.resolve().as_uri()] == "X"  # via arm 5 of 5


@pytest.mark.parametrize("table", table_names())
def test_rdb_table_matches_golden(returns, table):
    df = build_rdb_table(returns, table)
    golden_rows: list[dict] = []
    golden_cols: list[str] = []
    for p in fixture_files():
        c, r = golden_rdb_rows(p.resolve().as_uri(), p.read_text(), table)
        for col in c:
            if col not in golden_cols:
                golden_cols.append(col)
        golden_rows.extend(r)
    assert sorted(df.columns) == sorted(golden_cols)

    def key(d):
        return tuple(str(d.get(c)) for c in sorted(golden_cols))

    got = sorted(_rows_as_dicts(df), key=key)
    want = sorted(
        [{c: r.get(c) for c in golden_cols} for r in golden_rows], key=key
    )
    assert got == want, f"{table}: spark != golden"


@pytest.mark.parametrize("table", schedn_table_names())
def test_schedn_table_matches_golden(returns, table):
    df = build_schedn_table(returns, table)
    golden_rows: list[dict] = []
    golden_cols: list[str] = []
    for p in fixture_files():
        c, r = golden_schedn_rows(p.resolve().as_uri(), p.read_text(), table)
        for col in c:
            if col not in golden_cols:
                golden_cols.append(col)
        golden_rows.extend(r)
    assert sorted(df.columns) == sorted(golden_cols)

    def key(d):
        return tuple(str(d.get(c)) for c in sorted(golden_cols))

    got = sorted(_rows_as_dicts(df), key=key)
    want = sorted(
        [{c: r.get(c) for c in golden_cols} for r in golden_rows], key=key
    )
    assert got == want, f"{table}: spark != golden"


def test_typed_core_mode(returns):
    from datetime import date

    from irs_990_efiler_database_spark.extract.core_builder import (
        core_type_map,
    )

    cols = list(dict.fromkeys(load_core_spec()["columns"]))
    tmap = core_type_map()
    typed = build_core(returns, columns=cols, typed=True)
    dtypes = dict(typed.dtypes)
    assert tmap["GROSSRECEIPTS"] == "long" and dtypes["GROSSRECEIPTS"] == "bigint"
    assert tmap["STYEAR"] == "date" and dtypes["STYEAR"] == "date"
    assert dtypes["EIN"] == "string"  # identifiers stay string
    # values: typed == cast(string-mode) per row
    strings = {r["URL"]: r for r in _rows_as_dicts(build_core(returns, columns=cols))}
    for r in _rows_as_dicts(typed):
        s = strings[r["URL"]]
        for var, t in tmap.items():
            sv = s[var]
            if t == "long":
                assert r[var] == (int(sv) if sv is not None else None), var
            elif t == "date":
                assert r[var] == (
                    date.fromisoformat(sv) if sv is not None else None
                ), var


def test_typed_rdb_mode(returns):
    typed = build_rdb_table(returns, "F9-P07-TABLE-01-DTK-COMPENSATION", typed=True)
    dtypes = dict(typed.dtypes)
    # concordance numeric + Amt leaf -> bigint; hours/rates -> double
    assert dtypes["F9_07_PZ_COMP_DIRECT"] == "bigint"
    assert dtypes["F9_07_PZ_DTK_AVE_HOURS_WEEK"] == "double"
    rows = _rows_as_dicts(typed)
    assert any(isinstance(r["F9_07_PZ_COMP_DIRECT"], int) for r in rows)


def test_schedn_row_counts(returns):
    # fixture 5 (2014 XSD): 2 liquidation details, 0 dispositions, 1 suppl
    # fixture 6 (2012 XSD): 1 liquidation, 2 dispositions, 1 part-III note
    counts = {
        t: build_schedn_table(returns, t).count() for t in schedn_table_names()
    }
    assert counts == {
        "SCHED-N-TABLE-00": 2,
        "SCHED-N-TABLE-01": 3,
        "SCHED-N-TABLE-02": 2,
        "SCHED-N-TABLE-03": 2,
    }


def test_typed_mode_degrades_unparseable_values_to_null(spark):
    """ANSI mode: a stray-text amount must yield NULL (try_cast), not
    abort the whole typed build — one bad filing can't fail the job."""
    from irs_990_efiler_database_spark.sources.xml_source import with_parsed_return

    fixture = (
        '<?xml version="1.0" encoding="utf-8"?>'
        '<Return xmlns="http://www.irs.gov/efile" returnVersion="2014v5.0">'
        "<ReturnHeader><ReturnTypeCd>990</ReturnTypeCd>"
        "<TaxPeriodEndDt>not-a-date</TaxPeriodEndDt>"
        "<Filer><EIN>100000001</EIN></Filer></ReturnHeader>"
        "<ReturnData><IRS990>"
        "<CYTotalRevenueAmt>twelve thousand</CYTotalRevenueAmt>"
        "</IRS990></ReturnData></Return>"
    )
    raw = spark.createDataFrame(
        [("file:///t/201400000000000000_public.xml", fixture)], ["url", "xml"]
    )
    typed = build_core(
        with_parsed_return(raw), columns=["EIN", "TOTALREVCURRENT", "ENDYEAR"], typed=True
    )
    row = typed.collect()[0]  # must not raise CAST_INVALID_INPUT
    assert row["EIN"] == "100000001"
    assert row["TOTALREVCURRENT"] is None
    assert row["ENDYEAR"] is None  # "not-a-date" NULL-degrades too
    dtypes = dict(typed.dtypes)
    assert dtypes["TOTALREVCURRENT"] == "bigint"
    assert dtypes["ENDYEAR"] == "date"


def test_2015_vintage_exercises_third_coalesce_arms(returns):
    """A 2015v2.1 fixture whose leaves exist ONLY at the 3rd (or
    later) arm of their version-coalesce chains — EZ-side post-2013
    names no other fixture carries: Organization501cInd (EXEMPT501C
    arm 3), TypeOfOrganizationAssocInd (FORMORGASSOC arm 3),
    NetAssetsOrFundBalancesGrp/EOYAmt (NETASSETSENDYEAR arm 3),
    Form990TotalAssetsGrp/EOYAmt (TOTALASSETSENDYEAR arm 3), and
    FinalReturnInd under IRS990EZ (TERMINATED arm 2). The drift
    tolerance the reference's 6-way pipe-unions exist for, proven at
    a post-break vintage."""
    from pyspark.sql import functions as F

    from irs_990_efiler_database_spark.extract.core_builder import build_core
    from irs_990_efiler_database_spark.plans.concordance import load_core_spec

    cols = list(dict.fromkeys(load_core_spec()["columns"]))
    core = build_core(returns, columns=cols)
    row = core.filter(F.col("EIN") == "100000009").collect()
    assert len(row) == 1, "2015 fixture must extract to one CORE row"
    r = row[0]
    assert r["FISYR"] == "2015"
    assert r["EXEMPT501C"] is not None, "3rd-arm Organization501cInd"
    assert r["FORMORGASSOC"] is not None, "3rd-arm TypeOfOrganizationAssocInd"
    assert r["NETASSETSENDYEAR"] == "18000", "3rd-arm NetAssets Grp/EOYAmt"
    assert r["TOTALASSETSENDYEAR"] == "22000", "3rd-arm TotalAssets Grp/EOYAmt"
    assert r["TERMINATED"] is not None, "2nd-arm EZ FinalReturnInd"
    # the first arms of those chains are structurally absent from the doc
    assert r["EXEMPT501C3"] is None, "this filer is 501(c), not (c)(3)"


def test_presence_is_node_test_not_text_test(spark, tmp_path):
    """Pinned from the round-7 arm fuzz (its first catch): an
    attribute-only checkbox element — no text, schema gives it a
    _VALUE field — must still count as PRESENT for recode_present
    variables, because the reference's test is length(match-set)>0
    over nodes. Before the fix, _presence_sql tested `_VALUE IS NOT
    NULL` and EXEMPT501C read as absent exactly when the 501c type
    arrived as an attribute."""
    doc = (
        '<Return returnVersion="2014v5.0"><ReturnHeader/>'
        "<ReturnData><IRS990>"
        '<Organization501cInd organization501cTypeTxt="3"/>'
        "</IRS990></ReturnData></Return>"
    )
    p = tmp_path / "9900999001_public.xml"
    p.write_text(doc)
    df = read_return_xml_files(spark, str(tmp_path / "*.xml"))
    row = build_core(df, columns=["EXEMPT501C", "EXEMPT501CNUM"]).collect()[0]
    assert row["EXEMPT501C"] == "501c"
    assert row["EXEMPT501CNUM"] == "3"


@pytest.mark.slow  # the SUPERSET arm costs the full 1,900-leaf analysis
@pytest.mark.parametrize(
    "loc,table",
    [
        ("IRS990ScheduleN-PART-02", "MC-IRS990ScheduleN-PART-02-MANY"),
        ("SCHED-A-PART-02", "MC-SCHED-A-PART-02-MANY"),
    ],
)
def test_scoped_parse_matches_superset(spark, loc, table):
    """The pruned per-table parse schema (r15 Catalyst-analysis
    optimization) must be a pure plan-cost change: rows AND result
    schema identical to the superset parse for the catalog MANY
    slices that use it. The scoped trie copies every kept node's
    flags from the superset (repeated/is_leaf/attrs), so shared
    xpaths resolve to identical kinds — this pins that contract."""
    from irs_990_efiler_database_spark.plans.concordance import (
        register_catalog_many_table,
    )

    register_catalog_many_table(loc, table_name=table)
    sup = build_rdb_table(read_return_xml_files(spark, GLOB), table)
    sco = build_rdb_table(
        read_return_xml_files(spark, GLOB, scope_tables=(table,)),
        table,
        scoped=True,
    )
    assert sco.schema == sup.schema
    assert sorted(map(str, sco.collect())) == sorted(
        map(str, sup.collect())
    )


def test_scoped_schema_prunes_and_preserves_flags():
    """Driver-side contract of scoped_return_schema: far fewer leaves
    than the superset, but every kept node keeps the superset's
    repeated marking (the inner LiquidationDetail array another
    table declares must stay an array in the pruned struct)."""
    from pyspark.sql import types as T

    from irs_990_efiler_database_spark.plans.concordance import (
        register_catalog_many_table,
    )
    from irs_990_efiler_database_spark.sources.xml_source import (
        build_return_schema,
        scoped_return_schema,
    )

    name = register_catalog_many_table(
        "IRS990ScheduleN-PART-02",
        table_name="MC-IRS990ScheduleN-PART-02-MANY",
    )
    full, fb = build_return_schema()
    sc, sb = scoped_return_schema((name,))

    def leaves(dt):
        if isinstance(dt, T.StructType):
            return sum(leaves(f.dataType) for f in dt.fields)
        if isinstance(dt, T.ArrayType):
            return leaves(dt.elementType)
        return 1

    assert leaves(sc) < leaves(full) / 5
    # the nested group root declared by the hand-built SCHED-N tables
    # must still be repeated inside the scoped trie
    gp = (
        "//Return/ReturnData/IRS990ScheduleN/LiquidationTable/"
        "LiquidationDetail"
    )
    full_node = fb.node_at(gp)
    scoped_node = sb.node_at(gp)
    if full_node is not None and scoped_node is not None:
        assert scoped_node.repeated == full_node.repeated


def test_scoped_schema_cache_follows_registration():
    """The scoped-schema cache must never outlive the superset builder
    it was pruned from: a master table registered between two scoped
    calls for the SAME table set re-marks a node as repeated, and the
    second pruned schema must carry that array shape (a stale entry
    would parse the group as a struct and silently drop instances)."""
    from pyspark.sql import types as T

    from irs_990_efiler_database_spark.plans.concordance import (
        _MASTER_TABLES,
        register_catalog_many_table,
        register_master_table,
    )
    from irs_990_efiler_database_spark.sources.xml_source import (
        build_return_schema,
        scoped_return_schema,
    )

    def root_type(schema):
        ez = schema["ReturnData"].dataType["IRS990EZ"].dataType
        return ez["CashSavingsAndInvestmentsGrp"].dataType

    saved = dict(_MASTER_TABLES)
    try:
        name = register_master_table(
            "F990-EZ-PART-02", table_name="SCOPED-CACHE-ONE"
        )
        first, _ = scoped_return_schema((name,))
        assert isinstance(root_type(first), T.StructType)
        register_catalog_many_table(
            "F990-EZ-PART-02", table_name="SCOPED-CACHE-MANY"
        )
        second, _ = scoped_return_schema((name,))
        assert isinstance(root_type(second), T.ArrayType)
    finally:
        _MASTER_TABLES.clear()
        _MASTER_TABLES.update(saved)
        build_return_schema.cache_clear()
