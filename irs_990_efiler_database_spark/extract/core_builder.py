"""CORE table builder — the Spark equivalent of the reference's
``scrapeXML`` (build_efile_database_functions.R:307-2860): 237 output
columns over one parsed return, as ONE wide whole-stage-codegen'd
projection instead of ~600 interpreted per-document xpath calls.

Spec-driven: every variable comes from metadata/core_spec.json
(derived by tools/derive_990_metadata.py). Variable kinds:

- scalar           multi-version coalesce (+ optional space-collapse,
                   presence recode)                   (:332-336, :527)
- concat_collapse  mutually-exclusive recoded checkboxes concatenated,
                   '' → NULL (FORMORG :620, ACCTMETHOD :670,
                   EXEMPTSTATUS :745)
- conditional_sum  990: NA-ignoring horizontal sum of components;
                   990EZ: single xpath              (:1034-1043, :1529)
- sum_with_fallback PROFEESINDEP: sum of 7 PC fees; all-NA → EZ field
                   (:1294-1304)
- schedule_flag    substring test on the serialized doc (:2522-2620)
- url / object_id_from_url  key columns               (:39-44)

Production rules zeroALL/zeroPC/zeroEZ (:443-472) apply after recodes,
form-gated on FORMTYPE exactly as in the reference.

Deliberate deviations from the reference (documented, all are R
artifacts the engine should not reproduce):
- R's gsub("NA","",paste(...)) collapse also deletes the substring
  "NA" inside legitimate values (e.g. "NATIONAL" → "TIONAL"); we
  concatenate NULL-as-empty without mangling values.
- R's as.character(sum(...)) prints ≥1e5 values in scientific
  notation ("1e+05"); we emit canonical integers.
- Schedule flags are BooleanType, not "TRUE"/"FALSE" strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..plans.concordance import load_core_spec
from ..sources.xml_source import build_return_schema
from .compiler import (
    NUM_LEAF_SUFFIXES,
    ExprCompiler,
    aliased,
    leaf_names,
    sql_str,
    typed_sql,
)


def _apply_rule_sql(x: str, rule: str | None, formtype: str) -> str:
    if rule == "zeroALL":
        return f"coalesce({x}, '0')"
    if rule == "zeroPC":
        return f"CASE WHEN {formtype} = '990' THEN coalesce({x}, '0') ELSE {x} END"
    if rule == "zeroEZ":
        return f"CASE WHEN {formtype} = '990EZ' THEN coalesce({x}, '0') ELSE {x} END"
    return x


def _num_sql(x: str) -> str:
    return f"CAST({x} AS BIGINT)"


def compile_core_sql(c: ExprCompiler, xml_col: str = "xml") -> dict[str, str]:
    """Compile every CORE variable to a SQL expression STRING.

    The whole 237-column projection is composed driver-side as text
    and crosses to the JVM as one ``selectExpr`` — building the same
    trees as Column objects costs one py4j round-trip per operator
    (measured ~4s of plan-build latency per call for this table)."""
    spec = load_core_spec()
    vars_ = spec["vars"]

    # FORMTYPE gates the zero rules and the conditional sums; compile first.
    formtype = c.coalesce_sql(vars_["FORMTYPE"]["xpaths"])

    exprs: dict[str, str] = {}

    # pass 1: scalars (incl. recodes + rules)
    for var, s in vars_.items():
        if s.get("kind") != "scalar":
            continue
        if s.get("collapse") == " ":
            x = c.collapsed_matches_sql(s["xpaths"], " ")
        elif "recode_present" in s:
            x = (
                f"CASE WHEN {c.any_present_sql(s['xpaths'])} "
                f"THEN {sql_str(s['recode_present'])} END"
            )
        else:
            x = c.coalesce_sql(s["xpaths"])
        exprs[var] = _apply_rule_sql(x, s.get("rule"), formtype)

    # pass 2: derived variables referencing pass-1 expressions
    for var, s in vars_.items():
        kind = s.get("kind")
        if kind == "concat_collapse":
            parts = ", ".join(f"coalesce({exprs[v]}, '')" for v in s["components"])
            exprs[var] = f"nullif(concat({parts}), '')"
        elif kind == "conditional_sum":
            total = " + ".join(
                f"coalesce({_num_sql(exprs[v])}, 0)" for v in s["pc_components"]
            )
            pc = f"CAST((0 + {total}) AS STRING)"
            ez = c.coalesce_sql(s["ez_xpaths"])
            x = f"CASE WHEN {formtype} = '990' THEN {pc} ELSE {ez} END"
            exprs[var] = _apply_rule_sql(x, s.get("rule"), formtype)
        elif kind == "sum_with_fallback":
            comps = [exprs[v] for v in s["pc_components"]]
            all_null = " AND ".join(f"({x} IS NULL)" for x in comps)
            total = " + ".join(f"coalesce({_num_sql(x)}, 0)" for x in comps)
            ez = c.coalesce_sql(s["ez_xpaths"])
            x = (
                f"CASE WHEN {all_null} THEN {ez} "
                f"ELSE CAST((0 + {total}) AS STRING) END"
            )
            exprs[var] = _apply_rule_sql(x, s.get("rule"), formtype)
        elif kind == "schedule_flag":
            exprs[var] = f"contains(`{xml_col}`, {sql_str(s['schedule'])})"
        elif kind == "url":
            exprs[var] = "`url`"
        elif kind == "object_id_from_url":
            exprs[var] = "`object_id`"
    return exprs


_DATE_LEAF_SUFFIXES = ("Dt", "Date")


def core_type_map() -> dict[str, str]:
    """CORE variable → logical type for typed mode, derived from the
    IRS XSD leaf-name conventions (USAmountType leaves end in Amt,
    counts in Cnt/Nbr, dates in Dt — SURVEY §1.2): numeric if ANY
    version's leaf carries a numeric suffix (older XSDs drop the
    suffix), date likewise; recodes/labels stay string; schedule flags
    are already boolean; conditional sums are numeric by construction."""
    spec = load_core_spec()
    out: dict[str, str] = {}
    for var, s in spec["vars"].items():
        kind = s.get("kind")
        if kind in ("conditional_sum", "sum_with_fallback"):
            out[var] = "long"
            continue
        if kind != "scalar" or "recode_present" in s or s.get("collapse"):
            continue
        leaves = leaf_names(s.get("xpaths", []))
        if any(lf.endswith(NUM_LEAF_SUFFIXES) for lf in leaves):
            out[var] = "long"
        elif any(lf.endswith(_DATE_LEAF_SUFFIXES) for lf in leaves):
            out[var] = "date"
    return out


def build_core(
    returns: DataFrame,
    columns: list[str] | None = None,
    typed: bool = False,
) -> DataFrame:
    """returns (url, xml, doc, object_id) → CORE, one row per filing,
    columns in the reference's namedList order (:2768-2850).

    ``columns`` overrides the output column list (e.g. deduplicated —
    the reference's namedList carries ORGDISSOLVED twice).

    ``typed=True`` upgrades the reference's all-string model to real
    types (amounts/counts → long, dates → date) per ``core_type_map``;
    the default string mode stays bit-compatible with the golden
    oracle for parity checks (SURVEY §1.3)."""
    _, builder = build_return_schema()
    c = ExprCompiler(builder)
    exprs = compile_core_sql(c)
    spec = load_core_spec()
    cols = spec["columns"] if columns is None else columns
    if typed:
        tmap = core_type_map()
        exprs = {v: typed_sql(x, tmap.get(v)) for v, x in exprs.items()}
    # ONE py4j crossing for the whole 237-column projection
    return returns.selectExpr(*aliased((v, exprs[v]) for v in cols))
