"""Expression compiler: xpath metadata → Catalyst SQL expression text.

This replaces the reference's three extraction mechanisms — ~600
per-doc interpreted xpath evaluations (scrapeXML,
build_efile_database_functions.R:307-2860), the generic
``build_rdb_table`` (:121-276) and the hand-written Schedule N section
(:2875-4149), plus the R source-code generation from concordance
slices (create_code_chunks, :5186-5291) — with data-driven SQL. Every
extracted table (CORE, the concordance tables, Schedule N) is composed
as SQL TEXT on the driver and crosses to the JVM as one ``selectExpr``
per projection. Catalyst then gets a single wide projection it can
whole-stage-codegen; nested-schema pruning drops unreferenced XML
subtrees at the parse.

Building the same trees out of Column objects costs one py4j round
trip per operator. Measured on a shared 4-core host at ``local[4]``,
building the 12 default tables lazily over the 13 test fixtures (warm,
median of 5, two runs each): the 11 non-CORE tables took 5.1-8.1 s of
driver wall and 2.5-2.9 s of Python CPU as Column trees, and
1.0-1.4 s wall / 0.16-0.20 s Python CPU as SQL text; CORE's 237
columns take 0.3-0.4 s / 0.03 s either way.

One walk resolves every path. ``walk`` takes a start node and the SQL
of the value at that node, so document scalars (the schema root over
the ``doc`` column), repeating-group roots and group-member leaves
under the group lambda's ``_g`` share one one-open-array rule and one
``_VALUE`` descent. The walk reads only the driver-side
XmlSchemaBuilder trie, so no JVM traffic happens until the final
``selectExpr``.
"""

from __future__ import annotations

from collections.abc import Iterable

from ..plans.xml_schema import (
    ATTR_PREFIX,
    VALUE_TAG,
    XmlSchemaBuilder,
    _Node,
    _strip,
    resolve_child,
)

# IRS XSD leaf-name convention (SURVEY §1.2): USAmountType leaves end
# in Amt, counts in Cnt/Nbr/Qty — integral in typed mode.
NUM_LEAF_SUFFIXES = ("Amt", "Cnt", "Nbr", "Qty")


def _q(name: str) -> str:
    """Backquote one field segment or column name for SQL."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(s: str) -> str:
    """SQL single-quoted string literal."""
    return "'" + s.replace("'", "''") + "'"


def aliased(pairs: Iterable[tuple[str, str]]) -> list[str]:
    """(column, sql) pairs → ``selectExpr`` items, in order."""
    return [f"{x} AS {_q(v)}" for v, x in pairs]


def leaf_names(paths) -> tuple[str, ...]:
    """Last segment of each xpath / rel-path."""
    return tuple(p.rstrip("/").rsplit("/", 1)[-1] for p in paths)


def typed_sql(sql: str, spark_type: str | None) -> str:
    """Typed-mode cast (SURVEY §1.3 upgrade) shared by every builder.

    ``try_cast``, not ``cast``: under Spark 4's default ANSI mode a
    plain cast THROWS on any filing whose field doesn't parse (stray
    text in an Amt, malformed date), failing the whole build; try_cast
    degrades the one value to NULL — the reference's as.numeric
    coercion semantics. ``boolean`` recodes the checkbox values
    X/1/true to true (NULL stays NULL)."""
    if spark_type is None:
        return sql
    if spark_type == "boolean":
        return f"({sql} IN ('X', '1', 'true'))"
    return f"try_cast({sql} AS {spark_type})"


class ExprCompiler:
    def __init__(
        self, schema_builder: XmlSchemaBuilder, doc_col: str = "doc"
    ) -> None:
        self.b = schema_builder
        self.doc = doc_col

    # ------------------------------------------------------------ walk

    def _descend(
        self, parts: list[str], node: _Node, sql: str, path: str
    ) -> tuple[str, int, _Node]:
        """Element segments → (sql, array_depth, node).

        array_depth counts the repeated elements crossed, capped at 1
        (field extraction over an array column yields an array of the
        member values)."""
        depth = 0
        for seg in parts:
            hit = resolve_child(node, seg)
            if hit is None:
                raise KeyError(f"xpath not in schema: {path}")
            node = hit[1]
            sql = f"{sql}.{_q(seg)}"
            if node.repeated:
                depth += 1
                if depth >= 2:
                    # NESTED repeated elements (e.g. the derived MANY
                    # catalog marks both Schedule N's LiquidationTable
                    # and its inner LiquidationDetail): field access
                    # only resolves over array<struct>, never
                    # array<array<...>> — flatten eagerly so at most
                    # one array level is ever open. array_compact
                    # first: flatten() returns NULL when any sub-array
                    # element is null (a sibling instance without this
                    # member would otherwise null out the whole set).
                    sql = f"flatten(array_compact({sql}))"
                    depth = 1
        return sql, depth, node

    def walk(
        self,
        path: str,
        start: _Node | None = None,
        base: str | None = None,
        element: bool = False,
    ) -> tuple[str, int, str]:
        """Resolve *path* to (sql, array_depth, kind).

        ``start=None``: *path* is a document xpath walked from the
        schema root over the doc column. Otherwise *path* is a member
        rel-path walked from the group node ``start``, whose value is
        the SQL ``base`` (the lambda variable ``_g``).

        kind ∈ {text, value, struct, attr}; ``element=True`` stops at
        the element itself (kind ``element``) — never descending into
        ``_VALUE`` — so callers can test node existence independent of
        element text."""
        if start is None:
            parts = _strip(path)
        else:
            parts = [p for p in path.split("/") if p]
        attr: str | None = None
        if parts and parts[-1].startswith("@"):
            attr = parts[-1][1:]
            parts = parts[:-1]
        sql, depth, node = self._descend(
            parts,
            self.b.root if start is None else start,
            _q(self.doc) if base is None else base,
            path,
        )
        if attr is not None:
            if attr not in node.attrs:
                raise KeyError(f"attribute not in schema: {path}")
            return f"{sql}.{_q(ATTR_PREFIX + attr)}", depth, "attr"
        if element:
            return sql, depth, "element"
        if node.children or node.attrs:
            if node.is_leaf or (node.attrs and not node.children):
                return f"{sql}.{_q(VALUE_TAG)}", depth, "value"
            return sql, depth, "struct"
        return sql, depth, "text"

    def group(self, xpath: str) -> tuple[str, _Node]:
        """A repeating-group root → (SQL of its element array, node),
        for the group's ``transform`` plus member walks from the node."""
        sql, _depth, node = self._descend(
            _strip(xpath), self.b.root, _q(self.doc), xpath
        )
        return sql, node

    # ---------------------------------------------------------- access

    def scalar_sql(
        self, path: str, start: _Node | None = None, base: str | None = None
    ) -> str:
        """Text value at *path* (first match in document order), or
        NULL."""
        sql, depth, kind = self.walk(path, start, base)
        if kind == "struct":
            # element with child elements has no direct text; used for
            # presence-style extraction only
            return "CAST(NULL AS STRING)"
        if depth:
            # get() is NULL-safe on empty arrays (element_at throws
            # under ANSI mode, the Spark 4 default)
            sql = f"get(array_compact({sql}), 0)"
        return sql

    def matches_sql(self, xpath: str) -> str:
        """All matched text values at xpath as array<string> (for the
        reference's paste(collapse=' ') multi-match vars, :527-528)."""
        sql, depth, _kind = self.walk(xpath)
        if depth == 0:
            return f"array_compact(array({sql}))"
        return f"array_compact({sql})"

    def presence_sql(self, xpath: str) -> str:
        """Does the element exist (any version/value, incl. empty
        checkbox)? — the reference's length()>0 test.

        A NODE test, not a text test: an attribute-only element like
        <Organization501cInd organization501cTypeTxt="3"/> IS present
        even though its _VALUE is null. Attribute xpaths test that the
        attribute carries a value."""
        sql, depth, _kind = self.walk(xpath, element=True)
        if depth:
            return f"(size(array_compact({sql})) > 0)"
        return f"({sql} IS NOT NULL)"

    # ------------------------------------------------------ composites

    def coalesce_sql(
        self,
        paths: list[str],
        start: _Node | None = None,
        base: str | None = None,
    ) -> str:
        """Multi-version xpath union: versions are mutually exclusive
        within one document, so first-match == coalesce (SURVEY P2)."""
        exprs = [self.scalar_sql(p, start, base) for p in paths]
        if len(exprs) == 1:
            return exprs[0]
        return f"coalesce({', '.join(exprs)})"

    def any_present_sql(self, xpaths: list[str]) -> str:
        return "(" + " OR ".join(self.presence_sql(x) for x in xpaths) + ")"

    def collapsed_matches_sql(self, xpaths: list[str], sep: str = " ") -> str:
        """paste(collapse=sep) across all matches of all versions.

        Each version's match array is coalesced to [] first — concat
        over arrays is NULL if ANY argument is NULL, and absent versions
        parse to NULL arrays."""
        empty = "CAST(array() AS ARRAY<STRING>)"
        arrs = ", ".join(
            f"coalesce({self.matches_sql(x)}, {empty})" for x in xpaths
        )
        return f"nullif(array_join(concat({arrs}), {sql_str(sep)}), '')"
