"""Schedule N table builders — the Spark equivalent of the reference's
hand-rolled Schedule N section (build_efile_database_functions.R:
2875-4140): one 1:1 header table and three per-node explode loops
(T01 liquidation :3189-3576, T02 disposition :3596-4008, T03
supplemental :4021-4134), all inside the ``if (SCHEDN)`` guard
(:2881).

Spec-driven from metadata/schedn_spec.json (derived by
tools/derive_990_metadata.py). Every row carries the reference's 12
denormalized header columns (EIN..URL, :3148-3160) computed with the
same CORE expressions (post-production-rule values, since the
reference's Sched N section runs after the scalar section).

Deliberate deviation (documented): the reference's anywhere-xpaths
(``//SupplementalInformationDetail``) also match *other* schedules'
same-named nodes; we scope every group to its concrete
IRS990ScheduleN path (the intended semantics; the spec's group list
is derived from the master concordance crosswalk).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..plans.concordance import load_schedn_spec
from ..sources.xml_source import build_return_schema
from .compiler import ExprCompiler, aliased
from .core_builder import compile_core_sql
from .rdb_builder import explode_groups


def schedn_table_names() -> list[str]:
    return sorted(load_schedn_spec()["tables"])


def build_schedn_table(returns: DataFrame, table_name: str) -> DataFrame:
    """returns (url, xml, doc, object_id) → the named SCHED-N table: a
    spec adapter over the rdb builder's group explode."""
    spec = load_schedn_spec()
    t = spec["tables"][table_name]
    _, builder = build_return_schema()
    c = ExprCompiler(builder)
    core = compile_core_sql(c)
    header = {v: core[v] for v in spec["header"]}

    # if (SCHEDN) guard (:2881): grepl on the serialized doc
    src = returns.filter("contains(`xml`, 'IRS990ScheduleN')")

    if t["cardinality"] == "ONE":
        cols = {v: c.coalesce_sql(t["vars"][v]["xpaths"]) for v in t["columns"]}
        return src.selectExpr(*aliased(header.items()), *aliased(cols.items()))

    members = {v: t["vars"][v]["rels"] for v in t["columns"]}
    return explode_groups(
        src,
        c,
        header,
        {gp: members for gp in t["groups"]},
        dict.fromkeys(members),
    )
