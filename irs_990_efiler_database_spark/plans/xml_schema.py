"""Superset XML schema generation: the set of concordance/spec xpaths →
one explicit StructType for the ``Return`` document.

The reference tolerates 100+ XSD versions by unioning xpaths at query
time (build_efile_database_functions.R:332-336); we tolerate them by
declaring every known leaf in one superset schema (SURVEY §4.2: schema-
as-config, not schema inference — inference over 3M documents would be
both slow and version-dependent).

Rules:
- every leaf is StringType (the reference's all-string model; typing is
  applied later by the planner);
- a path that is both a leaf and a parent (attribute carriers like
  ``Organization501cInd/@organization501cTypeTxt``) becomes a struct
  with a ``_VALUE`` member;
- attributes become ``_<name>`` struct members (spark-xml convention);
- declared repeating nodes (concordance cardinality MANY, multi-match
  scalar leaves) become ArrayType.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import types as T

ATTR_PREFIX = "_"
VALUE_TAG = "_VALUE"


@dataclass
class _Node:
    children: dict[str, "_Node"] = field(default_factory=dict)
    attrs: set[str] = field(default_factory=set)
    is_leaf: bool = False  # some xpath terminates here (text extraction)
    repeated: bool = False  # element repeats within its parent


def _strip(xpath: str) -> list[str]:
    """'//Return/ReturnHeader/Filer/EIN' -> ['ReturnHeader','Filer','EIN']
    (the Return root is the rowTag and not part of the struct)."""
    parts = [p for p in xpath.split("/") if p]
    if parts and parts[0] == "Return":
        parts = parts[1:]
    return parts


def resolve_child(node: _Node, part: str) -> "tuple[str, _Node] | None":
    """Child lookup → (canonical child name, child), None when absent.

    Exact match first, then a case-variant sibling, which resolves to
    the FIRST-seen casing. Spark resolves struct members
    case-insensitively (spark.sql.caseSensitive=false) and from_xml
    matches elements the same way, so two sibling fields differing only
    in case are (a) an AMBIGUOUS_REFERENCE_TO_FIELDS analysis error and
    (b) redundant — both vintages' values land in one field anyway. The
    master crosswalk carries exactly one such pair (IRS990PF Part VI:
    AppliedToESTaxAmt pre-rename vs AppliedToEsTaxAmt; found by the
    full-master value fuzz — registering both locations crashed
    build_rdb_table at analysis). A pruned copy of the trie must reuse
    the canonical name so case-variant siblings stay merged."""
    hit = node.children.get(part)
    if hit is not None:
        return part, hit
    low = part.lower()
    return next(
        (
            (name, ch)
            for name, ch in node.children.items()
            if name.lower() == low
        ),
        None,
    )


def _child(node: _Node, part: str) -> _Node:
    """Write-side lookup: the resolved (case-merged) child, inserted
    under *part* when absent."""
    hit = resolve_child(node, part)
    if hit is not None:
        return hit[1]
    return node.children.setdefault(part, _Node())


class XmlSchemaBuilder:
    """Accumulates xpaths, then emits the superset StructType."""

    def __init__(self) -> None:
        self.root = _Node()

    def add_xpath(self, xpath: str, repeated_leaf: bool = False) -> None:
        parts = _strip(xpath)
        if not parts:
            return
        node = self.root
        for i, part in enumerate(parts):
            if part.startswith("@"):
                node.attrs.add(part[1:])
                return
            node = _child(node, part)
            if i == len(parts) - 1:
                node.is_leaf = True
                if repeated_leaf:
                    node.repeated = True

    def mark_repeated(self, xpath: str) -> None:
        """Declare the element at *xpath* as repeating (group root)."""
        node = self.root
        for part in _strip(xpath):
            node = _child(node, part)
        node.repeated = True

    def _to_type(self, node: _Node) -> T.DataType:
        if not node.children and not node.attrs:
            base: T.DataType = T.StringType()
        else:
            fields = []
            if node.is_leaf or (node.attrs and not node.children):
                fields.append(T.StructField(VALUE_TAG, T.StringType(), True))
            for a in sorted(node.attrs):
                fields.append(T.StructField(ATTR_PREFIX + a, T.StringType(), True))
            for name, child in sorted(node.children.items()):
                fields.append(T.StructField(name, self._to_type(child), True))
            base = T.StructType(fields)
        if node.repeated:
            return T.ArrayType(base, True)
        return base

    def build(self) -> T.StructType:
        fields = [
            T.StructField(name, self._to_type(child), True)
            for name, child in sorted(self.root.children.items())
        ]
        return T.StructType(fields)

    # -- trie lookup ----------------------------------------------------

    def node_at(self, xpath: str) -> _Node | None:
        node = self.root
        for part in _strip(xpath):
            if part.startswith("@"):
                return node if part[1:] in node.attrs else None
            hit = resolve_child(node, part)
            if hit is None:
                return None
            node = hit[1]
        return node
