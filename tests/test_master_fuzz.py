"""Full-master value fuzz (VERDICT r7 #7 / r8 #5): every well-formed
xpath arm of all 1,683 master-crosswalk LOCATIONs extracts the right
VALUE — compile coverage was already total
(tests/test_crosswalk_compile.py), but the '; '-cell and
presence-semantics bugs both lived in cells no fixture had ever
populated, so value coverage must be total too.

Harness shape (one Spark job per ~700-arm chunk, not one per
location — 1,683 separate builds would take an hour):

- every location registers as a master table (same path a user takes),
- one tiny doc per arm (tools/gen_xml_corpus.gen_master_arm_docs),
- per chunk: parse once with the full-width schema, then ONE select
  carrying every chunk location's ONE-table column list — built by
  the same ``one_table_columns`` helper ``build_rdb_table`` itself
  uses, so this is the production compile path, not a test twin,
- each doc diffs against the ElementTree golden for its OWN location
  (exact value equality on every variable), and
- every OTHER column in the chunk must be NULL on that doc unless its
  xpath set contains the populated arm (a driver-side check that makes
  cross-arm wiring exhaustive without a golden call per (doc,
  location) pair — values are globally unique, so wiring bugs change
  visible output)."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

META = (
    Path(__file__).resolve().parent.parent
    / "irs_990_efiler_database_spark"
    / "metadata"
    / "master_index.json"
)


@pytest.fixture()
def all_registered():
    from irs_990_efiler_database_spark.plans.concordance import (
        _MASTER_TABLES,
        register_master_table,
    )
    from irs_990_efiler_database_spark.sources.xml_source import (
        build_return_schema,
    )

    saved = dict(_MASTER_TABLES)
    locs = sorted({r[1] for r in json.loads(META.read_text())})
    assert len(locs) == 1683
    for loc in locs:
        register_master_table(loc, table_name=f"MF-{loc}")
    yield locs
    _MASTER_TABLES.clear()
    _MASTER_TABLES.update(saved)
    build_return_schema.cache_clear()


def test_case_variant_vintage_locations_build_together(spark, tmp_path):
    """Pinned regression for the bug this fuzz found: F990-PF-PART-06
    and IRS990PF-PART-06-LINE-11 carry case-variant vintages of the
    same leaf (AppliedToESTaxAmt / AppliedToEsTaxAmt); with both
    registered, the superset schema used to emit two sibling fields
    differing only in case, and ANY build over the struct failed
    analysis with AMBIGUOUS_REFERENCE_TO_FIELDS. The schema builder
    now merges case-variant siblings (from_xml matches
    case-insensitively under spark.sql.caseSensitive=false, so both
    vintages' values land in the one field), and both locations'
    variables extract the value from either casing."""
    from irs_990_efiler_database_spark.extract.rdb_builder import (
        build_rdb_table,
    )
    from irs_990_efiler_database_spark.plans.concordance import (
        _MASTER_TABLES,
        register_master_table,
    )
    from irs_990_efiler_database_spark.sources.xml_source import (
        build_return_schema,
        read_return_xml_files,
    )

    saved = dict(_MASTER_TABLES)
    try:
        register_master_table("F990-PF-PART-06", table_name="CV-P06")
        register_master_table(
            "IRS990PF-PART-06-LINE-11", table_name="CV-P06L11"
        )
        xml = (
            '<Return returnVersion="2014v5.0"><ReturnHeader/>'
            "<ReturnData><IRS990PF><ExciseTaxBasedOnInvstIncmGrp>"
            "<AppliedToESTaxAmt>77</AppliedToESTaxAmt>"
            "</ExciseTaxBasedOnInvstIncmGrp></IRS990PF></ReturnData>"
            "</Return>"
        )
        p = tmp_path / "990077_public.xml"
        p.write_text(xml)
        df = read_return_xml_files(spark, str(tmp_path / "*.xml"))
        r1 = build_rdb_table(df, "CV-P06").collect()[0]
        r2 = build_rdb_table(df, "CV-P06L11").collect()[0]
        # old-vintage casing in the doc; BOTH variables extract it
        assert r1["ETBOIIATETAX"] == "77"
        assert r2["ETBOIIATESTA"] == "77"
    finally:
        _MASTER_TABLES.clear()
        _MASTER_TABLES.update(saved)
        build_return_schema.cache_clear()


def test_master_many_slices_match_golden(spark, tmp_path):
    """MANY-cardinality master slices beyond the two default PF Part
    VIII tables (VERDICT r7 #7's literal ask — "(group-root, leaf)
    MANY arms" of the master): four declared-root repeating tables
    across four schedules, arm-fuzzed with TWO group instances per
    doc through build_rdb_table's explode path vs the golden.
    SCHED-H-PART-05 declares TWO roots in one slice (hospital
    facilities + non-hospital facilities), exercising the ragged
    multi-root projection on master-sourced groups."""
    from irs_990_efiler_database_spark.extract.golden import golden_rdb_rows
    from irs_990_efiler_database_spark.extract.rdb_builder import (
        build_rdb_table,
    )
    from irs_990_efiler_database_spark.plans.concordance import (
        _MASTER_TABLES,
        register_master_table,
    )
    from irs_990_efiler_database_spark.sources.xml_source import (
        build_return_schema,
        read_return_xml_files,
    )
    from tools.gen_xml_corpus import gen_rdb_arm_docs

    slices = [
        ("SCHED-I-PART-02", ["RecipientTable"]),  # grants table
        ("SCHED-R-PART-02", ["IdRelatedTaxExemptOrgGrp"]),
        (
            "SCHED-H-PART-05",
            ["HospitalFacilitiesGrp", "OthHlthCareFcltsNotHospitalGrp"],
        ),
        ("SCHED-G-PART-01", ["FundraiserActivityInfoGrp"]),
    ]
    saved = dict(_MASTER_TABLES)
    try:
        tables = [
            register_master_table(
                loc, table_name=f"MANY-{loc}", group_roots=roots
            )
            for loc, roots in slices
        ]
        corpora = gen_rdb_arm_docs(tables)
        n_docs = sum(len(d) for d in corpora.values())
        assert n_docs >= 150, n_docs
        mismatches = []
        for table, docs in corpora.items():
            tdir = tmp_path / table
            tdir.mkdir()
            by_url = {}
            for url, xml in docs:
                p = tdir / url.rsplit("/", 1)[-1]
                p.write_text(xml)
                by_url[p.resolve().as_uri()] = xml
            df = read_return_xml_files(spark, str(tdir / "*.xml"))
            got = {}
            for r in build_rdb_table(df, table).collect():
                got.setdefault(r["URL"], []).append(r.asDict())
            # typed explode path (VERDICT r9 #4 closure for MANY): the
            # same rows through build_rdb_table(typed=True), compared
            # as the golden string values pushed through the reference
            # cast for the schema dtype the build chose — exercises
            # the GLOBAL-leaf typing + ragged typed projection per arm
            tdf = build_rdb_table(df, table, typed=True)
            tdtypes = dict(tdf.dtypes)
            got_t = {}
            for r in tdf.collect():
                got_t.setdefault(r["URL"], []).append(r.asDict())
            for url, xml in by_url.items():
                cols, want = golden_rdb_rows(url, xml, table)
                want_set = sorted(
                    tuple(w.get(c) for c in cols) for w in want
                )
                got_set = sorted(
                    tuple(g.get(c) for c in cols) for g in got.get(url, [])
                )
                if want_set != got_set:
                    mismatches.append(
                        (table, url.rsplit("/", 1)[-1], got_set, want_set)
                    )
                # None-safe sort key: typed rows mix None/int/float in
                # one column, which tuple< cannot order
                def _k(t):
                    return tuple((v is None, str(v)) for v in t)

                want_typed = sorted(
                    (
                        tuple(_ref_cast(w.get(c), tdtypes[c]) for c in cols)
                        for w in want
                    ),
                    key=_k,
                )
                got_typed = sorted(
                    (
                        tuple(g.get(c) for c in cols)
                        for g in got_t.get(url, [])
                    ),
                    key=_k,
                )
                if want_typed != got_typed:
                    mismatches.append(
                        (
                            f"{table}[typed]",
                            url.rsplit("/", 1)[-1],
                            got_typed,
                            want_typed,
                        )
                    )
        assert not mismatches, (
            f"{len(mismatches)} (table, doc) diverge; first 3: "
            f"{mismatches[:3]}"
        )
    finally:
        _MASTER_TABLES.clear()
        _MASTER_TABLES.update(saved)
        build_return_schema.cache_clear()


@pytest.mark.slow
def test_every_master_arm_value_matches_golden(spark, tmp_path, all_registered):
    from pyspark.sql import functions as F

    from irs_990_efiler_database_spark.extract.compiler import ExprCompiler
    from irs_990_efiler_database_spark.extract.golden import golden_rdb_rows
    from irs_990_efiler_database_spark.extract.rdb_builder import (
        one_table_columns,
    )
    from irs_990_efiler_database_spark.plans.concordance import table_rows
    from irs_990_efiler_database_spark.sources.xml_source import (
        build_return_schema,
        read_return_xml_files,
    )
    from tools.gen_xml_corpus import gen_master_arm_docs, wellformed_xpath

    corpora = gen_master_arm_docs()
    n_arms = sum(len(d) for d in corpora.values())
    assert n_arms > 13000, n_arms

    # chunk locations to ~700 arms per Spark job
    chunks: list[list[str]] = [[]]
    size = 0
    for loc in all_registered:
        if not corpora[loc]:
            continue
        if size >= 700:
            chunks.append([])
            size = 0
        chunks[-1].append(loc)
        size += len(corpora[loc])

    _, builder = build_return_schema()
    c = ExprCompiler(builder)
    mismatches: list = []
    wiring: list = []
    for ci, chunk in enumerate(chunks):
        cdir = tmp_path / f"chunk{ci}"
        cdir.mkdir()
        # doc bookkeeping: url -> (loc, xml, arm_xpath, value)
        docs = {}
        for loc in chunk:
            for url, xml, var, value, xpath in corpora[loc]:
                p = cdir / url.rsplit("/", 1)[-1]
                p.write_text(xml)
                docs[p.resolve().as_uri()] = (loc, xml, xpath, value)
        # the chunk's single select: every location's production
        # column list, aliased "<loc>::<var>"
        cols, owners = [], {}
        xp_owner: dict[str, set] = {}
        for loc in chunk:
            rows = [
                r
                for r in table_rows(f"MF-{loc}")
                if wellformed_xpath(r["xpath"])
            ]
            by_var: dict[str, list[str]] = {}
            for r in rows:
                by_var.setdefault(r["variable"], []).append(r["xpath"])
            loc_cols = one_table_columns(c, rows)
            for col, (var, xps) in zip(loc_cols, by_var.items()):
                alias = f"{loc}::{var}"
                cols.append(F.expr(col).alias(alias))
                owners[alias] = (loc, var)
                for xp in xps:
                    xp_owner.setdefault(xp, set()).add(alias)
        df = read_return_xml_files(spark, str(cdir / "*.xml"))
        got = {
            r["url"]: r.asDict()
            for r in df.select(F.col("url"), *cols).collect()
        }
        assert len(got) == len(docs)
        for url, (loc, xml, xpath, value) in docs.items():
            g = got[url]
            # (1) golden diff on the doc's OWN location
            gcols, want_rows = golden_rdb_rows(url, xml, f"MF-{loc}")
            assert len(want_rows) == 1, (loc, url)
            want = want_rows[0]
            for var, wv in want.items():
                alias = f"{loc}::{var}"
                if alias not in owners:
                    continue  # key columns not in the fuzz select
                if g[alias] != wv:
                    mismatches.append((loc, var, url, g[alias], wv))
            # (2) cross-arm wiring: any other non-NULL column must own
            # the populated arm's xpath, and must carry its exact value
            allowed = xp_owner.get(xpath, set())
            for alias, gv in g.items():
                if alias == "url" or gv is None:
                    continue
                if alias.startswith(f"{loc}::"):
                    continue  # own-location values checked by golden
                if alias not in allowed:
                    wiring.append((alias, url, gv, xpath))
                elif gv != value:
                    wiring.append((alias, url, gv, f"want {value}"))
    assert not mismatches, (
        f"{len(mismatches)} (location, variable) golden diffs; "
        f"first 5: {mismatches[:5]}"
    )
    assert not wiring, (
        f"{len(wiring)} cross-arm wiring hits; first 5: {wiring[:5]}"
    )


def _ref_cast(wv, dtype: str):
    """Reference cast of a golden STRING value to the Spark dtype the
    typed select produced — the Python mirror of typed_sql's try_cast /
    boolean-recode semantics on the fuzz corpus's value universe
    (digit strings): an unparseable value degrades to NULL, never
    raises (the reference's as.numeric coercion)."""
    import re

    if wv is None:
        return None
    if dtype == "bigint":
        return int(wv) if re.fullmatch(r"[+-]?\d+", wv.strip()) else None
    if dtype == "double":
        try:
            return float(wv)
        except ValueError:
            return None
    if dtype == "boolean":
        return wv in ("X", "1", "true")
    return wv


@pytest.mark.slow
def test_every_master_arm_value_matches_golden_typed(
    spark, tmp_path, all_registered
):
    """Typed-mode arm fuzz (VERDICT r9 #4): the same 13,552-arm sweep
    through ``one_table_columns(..., typed=True)`` — the cast layer was
    the last extraction surface with no arm-granular value check, and
    every bug this fuzzer family found ('; '-cells, presence semantics,
    case-variant siblings) lived exactly where no fixture looked.

    Two checks per chunk:
    - the TYPE DECISION is the documented contract: concordance
      ``numeric`` is long iff any arm's XSD leaf carries an integral
      suffix (Amt/Cnt/Nbr/Qty), double otherwise; non-numeric stays
      string (asserted from the select's OWN schema, so a silently
      widened or skipped cast fails loudly);
    - every arm VALUE equals the ElementTree golden's string value
      pushed through the reference cast for that schema dtype — so a
      cast that mangles, reorders, or nulls a parseable value diverges."""
    from pyspark.sql import functions as F

    from irs_990_efiler_database_spark.extract.compiler import (
        NUM_LEAF_SUFFIXES,
        ExprCompiler,
    )
    from irs_990_efiler_database_spark.extract.golden import golden_rdb_rows
    from irs_990_efiler_database_spark.extract.rdb_builder import (
        one_table_columns,
    )
    from irs_990_efiler_database_spark.plans.concordance import table_rows
    from irs_990_efiler_database_spark.sources.xml_source import (
        build_return_schema,
        read_return_xml_files,
    )
    from tools.gen_xml_corpus import gen_master_arm_docs, wellformed_xpath

    corpora = gen_master_arm_docs()
    n_arms = sum(len(d) for d in corpora.values())
    assert n_arms > 13000, n_arms

    chunks: list[list[str]] = [[]]
    size = 0
    for loc in all_registered:
        if not corpora[loc]:
            continue
        if size >= 700:
            chunks.append([])
            size = 0
        chunks[-1].append(loc)
        size += len(corpora[loc])

    _, builder = build_return_schema()
    c = ExprCompiler(builder)
    mismatches: list = []
    decisions: list = []
    for ci, chunk in enumerate(chunks):
        cdir = tmp_path / f"chunk{ci}"
        cdir.mkdir()
        docs = {}
        for loc in chunk:
            for url, xml, var, value, xpath in corpora[loc]:
                p = cdir / url.rsplit("/", 1)[-1]
                p.write_text(xml)
                docs[p.resolve().as_uri()] = (loc, xml)
        cols = []
        meta: dict[str, tuple[str, tuple[str, ...]]] = {}
        for loc in chunk:
            rows = [
                r
                for r in table_rows(f"MF-{loc}")
                if wellformed_xpath(r["xpath"])
            ]
            by_var: dict[str, dict] = {}
            for r in rows:
                v = by_var.setdefault(
                    r["variable"], {"xps": [], "dt": r["data_type"]}
                )
                v["xps"].append(r["xpath"])
            for col, (var, s) in zip(
                one_table_columns(c, rows, typed=True), by_var.items()
            ):
                alias = f"{loc}::{var}"
                cols.append(F.expr(col).alias(alias))
                meta[alias] = (
                    s["dt"],
                    tuple(
                        x.rstrip("/").rsplit("/", 1)[-1] for x in s["xps"]
                    ),
                )
        df = read_return_xml_files(spark, str(cdir / "*.xml"))
        sel = df.select(F.col("url"), *cols)
        dtypes = dict(sel.dtypes)
        for alias, (dt, leaves) in meta.items():
            if dt == "numeric":
                want_t = (
                    "bigint"
                    if any(lf.endswith(NUM_LEAF_SUFFIXES) for lf in leaves)
                    else "double"
                )
            elif dt == "boolean":
                want_t = "boolean"
            else:
                want_t = "string"
            if dtypes[alias] != want_t:
                decisions.append((alias, dt, dtypes[alias], want_t))
        got = {r["url"]: r.asDict() for r in sel.collect()}
        assert len(got) == len(docs)
        for url, (loc, xml) in docs.items():
            g = got[url]
            _, want_rows = golden_rdb_rows(url, xml, f"MF-{loc}")
            assert len(want_rows) == 1, (loc, url)
            for var, wv in want_rows[0].items():
                alias = f"{loc}::{var}"
                if alias not in meta:
                    continue
                exp = _ref_cast(wv, dtypes[alias])
                if g[alias] != exp:
                    mismatches.append((loc, var, url, g[alias], exp))
    assert not decisions, (
        f"{len(decisions)} type-decision diffs; first 5: {decisions[:5]}"
    )
    assert not mismatches, (
        f"{len(mismatches)} typed value diffs; first 5: {mismatches[:5]}"
    )


@pytest.mark.slow
def test_master_coalesce_precedence_matches_golden(
    spark, tmp_path, all_registered
):
    """Arm-ORDER differential: a doc carrying ALL arms of a multi-arm
    variable (3,170 such variables) must coalesce to the same value in
    the engine (coalesce_sql over the compiled struct) and the
    golden (_coalesce over ElementTree) — the single-arm fuzz cannot
    see precedence divergence because only one arm is ever present."""
    from irs_990_efiler_database_spark.extract.compiler import ExprCompiler
    from irs_990_efiler_database_spark.extract.golden import (
        _coalesce,
        load_doc,
    )
    from irs_990_efiler_database_spark.extract.rdb_builder import (
        one_table_columns,
    )
    from irs_990_efiler_database_spark.plans.concordance import table_rows
    from irs_990_efiler_database_spark.sources.xml_source import (
        build_return_schema,
        read_return_xml_files,
    )
    from pyspark.sql import functions as F
    from tools.gen_xml_corpus import (
        gen_master_coalesce_docs,
        wellformed_xpath,
    )

    corpora = gen_master_coalesce_docs()
    n_docs = sum(len(d) for d in corpora.values())
    assert n_docs >= 3000, n_docs

    chunks: list[list[str]] = [[]]
    size = 0
    for loc in all_registered:
        if loc not in corpora:
            continue
        if size >= 700:
            chunks.append([])
            size = 0
        chunks[-1].append(loc)
        size += len(corpora[loc])

    _, builder = build_return_schema()
    c = ExprCompiler(builder)
    mismatches = []
    for ci, chunk in enumerate(chunks):
        cdir = tmp_path / f"chunk{ci}"
        cdir.mkdir()
        docs = {}
        for loc in chunk:
            for url, xml, var in corpora[loc]:
                p = cdir / url.rsplit("/", 1)[-1]
                p.write_text(xml)
                docs[p.resolve().as_uri()] = (loc, xml, var)
        cols = []
        var_xps: dict[str, list[str]] = {}
        for loc in chunk:
            rows = [
                r
                for r in table_rows(f"MF-{loc}")
                if wellformed_xpath(r["xpath"])
            ]
            by_var: dict[str, list[str]] = {}
            for r in rows:
                by_var.setdefault(r["variable"], []).append(r["xpath"])
            for col, (var, xps) in zip(
                one_table_columns(c, rows), by_var.items()
            ):
                alias = f"{loc}::{var}"
                cols.append(F.expr(col).alias(alias))
                var_xps[alias] = xps
        df = read_return_xml_files(spark, str(cdir / "*.xml"))
        got = {
            r["url"]: r.asDict()
            for r in df.select(F.col("url"), *cols).collect()
        }
        for url, (loc, xml, var) in docs.items():
            alias = f"{loc}::{var}"
            want = _coalesce(load_doc(xml), var_xps[alias])
            if got[url][alias] != want:
                mismatches.append((loc, var, got[url][alias], want))
    assert not mismatches, (
        f"{len(mismatches)} precedence diffs; first 5: {mismatches[:5]}"
    )


@pytest.mark.slow
def test_all_derived_catalog_many_slices_match_golden(spark, tmp_path):
    """VERDICT r12 next-round #2, closure: EVERY derived-catalog MANY
    slice (metadata/master_many_catalog.json — all master LOCATIONs
    with structural repeating-group evidence, not 4 hand-picked ones)
    is arm-fuzzed through build_rdb_table's explode path with TWO group
    instances per doc against the ElementTree golden.

    This is the fuzz that found the innermost-anchor bug: nested
    vintage containers (Schedule N's LiquidationTable/LiquidationDetail)
    used to anchor the explode at the OUTER match, returning arrays
    where scalars belong."""
    from irs_990_efiler_database_spark.extract.golden import golden_rdb_rows
    from irs_990_efiler_database_spark.extract.rdb_builder import (
        build_rdb_table,
    )
    from irs_990_efiler_database_spark.plans.concordance import (
        _MASTER_TABLES,
        load_many_catalog,
        register_catalog_many_table,
    )
    from irs_990_efiler_database_spark.sources.xml_source import (
        build_return_schema,
        read_return_xml_files,
    )
    from tools.gen_xml_corpus import gen_rdb_arm_docs

    catalog = load_many_catalog()
    assert len(catalog) >= 200  # the derivation found 227 in r13
    saved = dict(_MASTER_TABLES)
    try:
        tables = [
            register_catalog_many_table(loc, table_name=f"MCF-{loc}")
            for loc in sorted(catalog)
        ]
        corpora = gen_rdb_arm_docs(tables)
        n_docs = sum(len(d) for d in corpora.values())
        assert n_docs >= 1500, n_docs  # (root, leaf) MANY arms

        # chunk tables to ~400 docs per parse; each table then builds
        # over the shared chunk parse (its docs are the only ones
        # populating its arms — but compare strictly per own URL, so
        # co-resident docs of OTHER tables can never mask a miss)
        chunks: list[list[str]] = [[]]
        size = 0
        for t in tables:
            if not corpora[t]:
                continue
            if size >= 400:
                chunks.append([])
                size = 0
            chunks[-1].append(t)
            size += len(corpora[t])

        def _k(t):
            return tuple((v is None, str(v)) for v in t)

        mismatches = []
        covered = 0
        for ci, chunk in enumerate(chunks):
            cdir = tmp_path / f"chunk{ci}"
            cdir.mkdir()
            by_table_urls: dict[str, dict[str, str]] = {}
            for t in chunk:
                urls = {}
                for url, xml in corpora[t]:
                    p = cdir / url.rsplit("/", 1)[-1]
                    p.write_text(xml)
                    urls[p.resolve().as_uri()] = xml
                by_table_urls[t] = urls
            df = read_return_xml_files(
                spark, str(cdir / "*.xml")
            ).persist()
            try:
                for t in chunk:
                    got: dict[str, list] = {}
                    for r in build_rdb_table(df, t).collect():
                        got.setdefault(r["URL"], []).append(r.asDict())
                    for url, xml in by_table_urls[t].items():
                        cols, want = golden_rdb_rows(url, xml, t)
                        ws = sorted(
                            (tuple(w.get(c) for c in cols) for w in want),
                            key=_k,
                        )
                        gs = sorted(
                            (
                                tuple(g.get(c) for c in cols)
                                for g in got.get(url, [])
                            ),
                            key=_k,
                        )
                        if ws != gs:
                            mismatches.append(
                                (t, url.rsplit("/", 1)[-1], gs[:1], ws[:1])
                            )
                    covered += 1
            finally:
                df.unpersist()
        assert covered == len([t for t in tables if corpora[t]])
        assert not mismatches, (
            f"{len(mismatches)} (table, doc) diverge; first 3: "
            f"{mismatches[:3]}"
        )
    finally:
        _MASTER_TABLES.clear()
        _MASTER_TABLES.update(saved)
        build_return_schema.cache_clear()


def test_rel_leaf_through_inner_repeated_node_collapses_to_first(
    spark, tmp_path
):
    """Pinned regression for the second r13 catalog-fuzz find: when a
    rel path below a table's group root crosses an element ANOTHER
    registered table marks repeated (SCHED-N-PART-01 anchors at
    LiquidationTable; IRS990ScheduleN-PART-01 marks the inner
    LiquidationDetail as a root → ArrayType), the member access used
    to return arrays where scalars belong. It must collapse to the
    FIRST match in document order — the golden's _find_rel
    semantics."""
    import xml.etree.ElementTree as ET

    from irs_990_efiler_database_spark.extract.golden import golden_rdb_rows
    from irs_990_efiler_database_spark.extract.rdb_builder import (
        build_rdb_table,
    )
    from irs_990_efiler_database_spark.plans.concordance import (
        _MASTER_TABLES,
        register_catalog_many_table,
    )
    from irs_990_efiler_database_spark.sources.xml_source import (
        build_return_schema,
        read_return_xml_files,
    )

    saved = dict(_MASTER_TABLES)
    try:
        outer = register_catalog_many_table(
            "SCHED-N-PART-01", table_name="PIN-OUTER"
        )
        register_catalog_many_table(
            "IRS990ScheduleN-PART-01", table_name="PIN-INNER"
        )
        root = ET.Element("Return", {"returnVersion": "2014v5.0"})
        ET.SubElement(root, "ReturnHeader")
        data = ET.SubElement(root, "ReturnData")
        sn = ET.SubElement(data, "IRS990ScheduleN")
        lt = ET.SubElement(sn, "LiquidationTable")
        ET.SubElement(lt, "NamePerson").text = "PAT FIRST"
        for desc in ("FIRST ASSET", "SECOND ASSET"):
            d = ET.SubElement(lt, "LiquidationDetail")
            ET.SubElement(d, "DescriptionOfAsset").text = desc
        p = tmp_path / "9909000001_public.xml"
        p.write_text(ET.tostring(root, encoding="unicode"))

        df = read_return_xml_files(spark, str(tmp_path / "*.xml"))
        rows = [r.asDict() for r in build_rdb_table(df, outer).collect()]
        assert len(rows) == 1  # one LiquidationTable instance
        # scalar, not ['FIRST ASSET', ...]; first inner match wins
        assert rows[0]["LTLDDOASSET"] == "FIRST ASSET"
        assert rows[0]["LIQTABNAMPER"] == "PAT FIRST"
        # and the independent golden agrees row-for-row
        url = p.resolve().as_uri()
        cols, want = golden_rdb_rows(url, p.read_text(), outer)
        assert [
            tuple(w.get(c) for c in cols) for w in want
        ] == [tuple(rows[0].get(c) for c in cols)]
    finally:
        _MASTER_TABLES.clear()
        _MASTER_TABLES.update(saved)
        build_return_schema.cache_clear()


def test_scalar_read_through_nested_repeated_ancestors(spark, tmp_path):
    """Pinned regression for the third r13 catalog-fuzz find: with the
    derived catalog registered, one path can cross TWO repeated
    ancestors (LiquidationTable AND its inner LiquidationDetail), and
    SQL field extraction never resolves over array<array<...>> — the
    compiler now flattens eagerly (array_compact first: a sibling
    instance without the member must not null the whole set) so ONE-
    cardinality scalar reads keep working whatever MANY slices are
    co-registered. Value-checked: first match in document order across
    2x2 nested instances, ragged (instance 1 lacks the leaf)."""
    import xml.etree.ElementTree as ET

    from irs_990_efiler_database_spark.extract.rdb_builder import (
        build_rdb_table,
    )
    from irs_990_efiler_database_spark.plans.concordance import (
        _MASTER_TABLES,
        register_catalog_many_table,
        register_master_table,
    )
    from irs_990_efiler_database_spark.sources.xml_source import (
        build_return_schema,
        read_return_xml_files,
    )

    saved = dict(_MASTER_TABLES)
    try:
        # both Schedule N catalog slices: marks LiquidationTable AND
        # LiquidationDetail repeated — the nested-array schema shape
        register_catalog_many_table(
            "SCHED-N-PART-01", table_name="NEST-T"
        )
        register_catalog_many_table(
            "IRS990ScheduleN-PART-01", table_name="NEST-D"
        )
        # the ONE-cardinality slice whose scalar coalesce crosses both
        one = register_master_table(
            "IRS990ScheduleN-PART-02", table_name="NEST-ONE"
        )

        root = ET.Element("Return", {"returnVersion": "2014v5.0"})
        ET.SubElement(root, "ReturnHeader")
        data = ET.SubElement(root, "ReturnData")
        sn = ET.SubElement(data, "IRS990ScheduleN")
        for ti in range(2):
            lt = ET.SubElement(sn, "LiquidationTable")
            for di in range(2):
                d = ET.SubElement(lt, "LiquidationDetail")
                if ti == 0 and di == 0:
                    continue  # ragged: first instance lacks the leaf
                addr = ET.SubElement(d, "AddressUS")
                ET.SubElement(addr, "AddressLine1").text = (
                    f"LINE {ti}{di}"
                )
        p = tmp_path / "9909100001_public.xml"
        p.write_text(ET.tostring(root, encoding="unicode"))

        df = read_return_xml_files(spark, str(tmp_path / "*.xml"))
        row = build_rdb_table(df, one).collect()[0]
        # LTLDAALINE11's xpath is LiquidationTable/LiquidationDetail/
        # AddressUS/AddressLine1; first PRESENT match in document
        # order is instance (0,1) — the golden missing-element skip
        assert row["LTLDAALINE11"] == "LINE 01"
    finally:
        _MASTER_TABLES.clear()
        _MASTER_TABLES.update(saved)
        build_return_schema.cache_clear()
