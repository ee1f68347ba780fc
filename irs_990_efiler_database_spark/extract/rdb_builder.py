"""Generic concordance-driven table builder — the Spark equivalent of
the reference's ``build_rdb_table`` (+ find_group_names/get_var_map/
get_table, build_efile_database_functions.R:121-276).

For a target table named in the concordance:

- ONE-cardinality  → one row per return; each variable is a
  multi-version coalesce (buildPartVII :4161-4414 / buildSchedJ
  :4424-4915 shape). Schedule-scoped tables are guarded on schedule
  presence (:4428).
- MANY-cardinality → one row per element of each repeating-group root
  (the roots are inferred from the concordance by first-divergent
  segment, :121-134), each member's leaves mapped to variables
  (:141-151), all roots in ONE projection: the ragged bind_rows
  (:5109-5122) as one scan of the parse.

Every row carries the reference's six denormalized keys
OBJECT_ID, EIN, NAME, TAXYR, FORMTYPE, URL (:269-270).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..plans.concordance import (
    concrete_groups,
    load_core_spec,
    schedule_guard,
    table_rows,
)
from ..sources.xml_source import build_return_schema
from .compiler import (
    NUM_LEAF_SUFFIXES,
    ExprCompiler,
    _q,
    aliased,
    leaf_names,
    sql_str,
    typed_sql,
)

def _key_exprs(c: ExprCompiler) -> dict[str, str]:
    """The six denormalized key columns, in output order."""
    core = load_core_spec()["vars"]
    return {
        "OBJECT_ID": "`object_id`",
        "EIN": c.coalesce_sql(core["EIN"]["xpaths"]),
        "NAME": c.coalesce_sql(core["NAME"]["xpaths"]),
        "TAXYR": c.coalesce_sql(core["FISYR"]["xpaths"]),
        "FORMTYPE": c.coalesce_sql(core["FORMTYPE"]["xpaths"]),
        "URL": "`url`",
    }


def _spark_type(data_type: str, leaves: tuple[str, ...]) -> str | None:
    """Typed-mode Spark type of a concordance variable: ``numeric``
    splits by XSD leaf convention — Amt/Cnt/Nbr/Qty are integral, the
    rest (hours, rates: AverageHoursPerWeek '40.0') are double;
    ``boolean`` is the checkbox recode; everything else stays string."""
    if data_type == "numeric":
        if any(lf.endswith(NUM_LEAF_SUFFIXES) for lf in leaves):
            return "long"
        return "double"
    if data_type == "boolean":
        return "boolean"
    return None


def one_table_columns(
    c: ExprCompiler, ones: list[dict], typed: bool = False
) -> list[str]:
    """The ONE-cardinality ``selectExpr`` items (multi-version coalesce
    per variable, P2 semantics, aliased to the variable) — shared by
    ``build_rdb_table`` and the full-master value fuzz
    (tests/test_master_fuzz.py), so the fuzz exercises the identical
    compile path the production builder uses."""
    by_var: dict[str, dict] = {}
    for r in ones:
        v = by_var.setdefault(
            r["variable"], {"xpaths": [], "data_type": r["data_type"]}
        )
        v["xpaths"].append(r["xpath"])
    cols: dict[str, str] = {}
    for var, s in by_var.items():
        t = _spark_type(s["data_type"], leaf_names(s["xpaths"])) if typed else None
        cols[var] = typed_sql(c.coalesce_sql(s["xpaths"]), t)
    return aliased(cols.items())


def explode_groups(
    src: DataFrame,
    c: ExprCompiler,
    keys: dict[str, str],
    groups: dict[str, dict[str, list[str]]],
    types: dict[str, str | None],
) -> DataFrame:
    """Every repeating group's rows from ONE projection, one scan of
    the parse: the keys plus ``inline(concat(<term per group root>))``
    (the reference's ragged bind_rows, :5109-5122).

    ``groups``: group-root xpath → {variable: member rel-paths};
    ``types``: variable → typed-mode Spark type (None: string). A
    root's term is ``transform(<root>, _g -> named_struct(<every
    variable>))``; a variable the root doesn't carry is a NULL of its
    type, so the terms must agree on types (the caller types each
    variable globally). One variable may have several XSD-version
    rel-paths inside the same group (BusinessNameLine1 vs
    BusinessNameLine1Txt); they coalesce, the same multi-version P2
    semantics as document scalars (reference pipe-union, :332-336). A
    rel-path that crosses an INNER repeated element (a node another
    registered table declares as a group root — e.g. LiquidationDetail
    inside LiquidationTable) takes the FIRST match in document order —
    the golden's _find_rel semantics.

    A group whose only member is the empty rel-path diverges at the
    leaf itself (e.g. the SCHED-O checkbox variants): one row if the
    leaf is present. Terms coalesce to [] (concat of a NULL is NULL)."""
    sql_types = {v: types[v] or "string" for by in groups.values() for v in by}

    def record(members: dict[str, str]) -> str:
        return "named_struct({})".format(", ".join(
            f"{sql_str(v)}, {members.get(v, f'CAST(NULL AS {t})')}"
            for v, t in sql_types.items()
        ))

    fields = ", ".join(f"{_q(v)}: {t}" for v, t in sql_types.items())
    terms = []
    for gp, by_var in groups.items():
        if list(by_var.values()) == [[""]]:
            (var,) = by_var
            x = typed_sql(c.scalar_sql(gp), types[var])
            term = f"CASE WHEN {c.presence_sql(gp)} THEN array({record({var: x})}) END"
        else:
            gsql, gnode = c.group(gp)
            members = {
                var: typed_sql(c.coalesce_sql(rels, gnode, "`_g`"), types[var])
                for var, rels in by_var.items()
            }
            term = f"transform({gsql}, `_g` -> {record(members)})"
        terms.append(f"coalesce({term}, CAST(array() AS ARRAY<STRUCT<{fields}>>))")
    return src.selectExpr(*aliased(keys.items()), f"inline(concat({', '.join(terms)}))")


def build_rdb_table(
    returns: DataFrame,
    table_name: str,
    typed: bool = False,
    scoped: bool = False,
) -> DataFrame:
    """returns (url, xml, doc, object_id) → the named concordance table.

    ``scoped=True``: compile against the PRUNED per-table schema
    (``sources.xml_source.scoped_return_schema``) — the caller must
    have parsed ``returns`` with the same scope
    (``with_parsed_return(..., scope_tables=(table_name,))``), so the
    from_xml struct Catalyst analyzes is the table's own ~dozens of
    leaves instead of the ~1,900-leaf superset. Values are identical
    (flag-exact trie copy); only plan-compile cost changes."""
    rows = table_rows(table_name)
    if not rows:
        raise KeyError(f"unknown rdb table {table_name!r}")
    if scoped:
        from ..sources.xml_source import scoped_return_schema

        _, builder = scoped_return_schema((table_name,))
    else:
        _, builder = build_return_schema()
    c = ExprCompiler(builder)
    keys = _key_exprs(c)

    # data-driven schedule guard (reference: buildSchedJ presence gate,
    # :4428): derived from the table's own xpath set — SJ-/SN- tables
    # gate on their schedule member, master-concordance slices gate on
    # theirs (IRS990ScheduleA, IRS990PF, …), body tables don't gate
    member = schedule_guard(rows)
    src = (
        returns.filter(f"contains(`xml`, {sql_str(member)})")
        if member is not None
        else returns
    )

    ones = [r for r in rows if r["cardinality"] == "ONE"]
    manys = [r for r in rows if r["cardinality"] == "MANY"]

    if ones and not manys:
        return src.selectExpr(
            *aliased(keys.items()), *one_table_columns(c, ones, typed)
        )

    # MANY: one row per concrete repeating element, leaves → variables
    typemap = {r["variable"]: r["data_type"] for r in manys}
    by_group: dict[str, dict[str, list[str]]] = {}
    all_rels: dict[str, list[str]] = {}
    for gp, leaves in concrete_groups(manys).items():
        by_var = by_group[gp] = {}
        for rel, var in leaves.items():
            by_var.setdefault(var, []).append(rel)
            all_rels.setdefault(var, []).append(rel)
    # type each variable from its GLOBAL leaf set (all XSD versions in
    # all groups): per-group typing would give the same variable long
    # under one root and double under another, and the typed schema
    # must not depend on group order
    types = {
        var: _spark_type(typemap[var], leaf_names(rels)) if typed else None
        for var, rels in all_rels.items()
    }
    return explode_groups(src, c, keys, by_group, types)
