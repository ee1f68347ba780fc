"""Deterministic synthetic 990 corpus generator: replicates the fixture
XML matrix with fresh EINs/ObjectIds into a parquet bundle of
(url, xml) — used by bench.py to measure end-to-end extraction
throughput (the reference's own headline metric: ≈2–4 docs/sec on a
single R process, BUILD_SCRIPTS/README.md:258)."""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

FIXTURES = sorted((REPO / "tests" / "fixtures").glob("*.xml"))


def gen_rows(
    n_docs: int,
    corrupt_every: int | None = None,
    realistic_size: bool = False,
) -> list[tuple[str, str]]:
    """Driver-side doc list via the shared package kernel
    (irs_990_efiler_database_spark.corpusgen) — same bytes as the
    distributed gen_bundle path, so golden oracle builders can see
    realistic-shape docs without a Spark job."""
    from irs_990_efiler_database_spark.corpusgen import synth_doc

    texts = [p.read_text() for p in FIXTURES]
    return [
        synth_doc(i, texts, corrupt_every, realistic=realistic_size)
        for i in range(n_docs)
    ]


def gen_bundle(
    spark,
    out_path: str,
    n_docs: int,
    partitions: int = 32,
    corrupt_every: int | None = None,
    distributed: bool | None = None,
    realistic_size: bool = False,
) -> None:
    """Write the (url, xml) parquet bundle. Above ~10k docs the corpus
    is generated ON THE EXECUTORS (spark.range → mapInPandas with the
    88 KB fixture pack in the closure) instead of a driver-side list —
    at a filing-year's 300-470k docs the driver would otherwise
    materialize and pickle-ship the whole corpus. Both paths emit
    byte-identical rows (parity-tested) in both size modes — the
    per-doc kernel is the shared
    irs_990_efiler_database_spark.corpusgen.synth_doc.

    ``realistic_size`` (VERDICT r11 #1): the handcrafted fixtures
    average 2.3 KB while real e-file 990s run 50-250+ KB, so a
    doc-count fit on fixture docs extrapolates the per-BYTE cost on
    faith. This mode inflates every doc to a deterministic 50-250 KB
    target (uniform over docs) the way real filings get big:
    repeating groups at observed cardinalities — 5-40 extra
    Form990PartVIISectionAGrp persons and half as many Schedule J
    comp rows, all flowing into the MANY tables
    (F9-P07-TABLE-01-DTK-COMPENSATION / SJ-P02-T01-COMPENSATION), not
    dead weight — plus Schedule O narrative blocks
    (SupplementalInformationDetail, ~1 KB each) to the byte target,
    matching the large free-text share of real filings. Generated on
    executors by default (a realistic corpus is ~65x the fixture
    bytes); small driver-side realistic corpora are allowed for the
    golden oracle builders."""
    if realistic_size and distributed is False:
        # honor the explicit request but keep the historical contract
        # noisy: realistic corpora are ~65x the fixture bytes, so a
        # driver-side list only makes sense for small oracle corpora
        if n_docs > 2000:
            raise ValueError(
                "realistic_size=True with distributed=False is only "
                "for small (<= 2000 doc) oracle corpora — a realistic "
                "corpus is ~65x the fixture bytes"
            )
    if distributed is None:
        distributed = n_docs > 10_000 or realistic_size
    if not distributed:
        df = spark.createDataFrame(
            gen_rows(n_docs, corrupt_every, realistic_size), ["url", "xml"]
        )
        df.repartition(partitions).write.mode("overwrite").parquet(out_path)
        return
    texts = [p.read_text() for p in FIXTURES]
    k = corrupt_every
    realistic = realistic_size

    # the per-doc kernel lives in the PACKAGE (corpusgen.synth_doc) so
    # this executor-side closure and the driver-side gen_rows emit
    # byte-identical docs from one implementation; the import happens
    # inside the closure because tools/ itself is not importable on
    # the workers
    def make(batches):
        import pandas as pd

        from irs_990_efiler_database_spark.corpusgen import synth_doc

        for pdf in batches:
            docs = [
                synth_doc(int(i), texts, k, realistic=realistic)
                for i in pdf["id"]
            ]
            yield pd.DataFrame(docs, columns=["url", "xml"])

    (
        spark.range(n_docs)
        .repartition(partitions)
        .mapInPandas(make, "url string, xml string")
        .write.mode("overwrite")
        .parquet(out_path)
    )


def gen_arm_docs() -> list[tuple[str, str]]:
    """Concordance-arm fuzz corpus: ONE tiny document per xpath arm of
    every CORE variable — 500+ docs that together exercise EVERY
    coalesce arm (each XSD vintage) of the 237 CORE columns, plus each
    schedule-presence flag and each conditional-sum EZ arm. The
    handcrafted fixtures sample ~17 points of that space; the
    reference's entire reason for existing is surviving 100+ vintages
    (MASTER_CONCORDANCE_V0.csv, 6-way unions at
    build_efile_database_functions.R:4380-4387), so arm coverage must
    be exhaustive, not sampled.

    One-arm-per-doc keeps generation conflict-free (no xpath is ever
    an ancestor of another populated xpath in the same doc) and makes
    a mismatch attributable to exactly one (variable, arm). Values are
    unique digit strings per arm so cross-arm wiring bugs (reading arm
    k's element into arm j's column) change visible output.

    Returns (url, xml) rows; url carries a unique ObjectId per doc.
    """
    import sys as _sys
    import xml.etree.ElementTree as ET

    _sys.path.insert(0, str(REPO))
    from irs_990_efiler_database_spark.plans.concordance import load_core_spec

    spec = load_core_spec()
    docs: list[tuple[str, str]] = []
    serial = 0

    def emit(build) -> None:
        nonlocal serial
        obj = f"9900{serial:06d}"
        serial += 1
        root = ET.Element("Return", {"returnVersion": "2014v5.0"})
        ET.SubElement(root, "ReturnHeader")
        data = ET.SubElement(root, "ReturnData")
        build(root, data)
        docs.append(
            (
                f"file:///armfuzz/{obj}_public.xml",
                ET.tostring(root, encoding="unicode"),
            )
        )

    def insert(root, data, xpath: str, value: str) -> None:
        parts = [p for p in xpath.split("/") if p]
        if parts and parts[0] == "Return":
            parts = parts[1:]
        attr = None
        if parts and parts[-1].startswith("@"):
            attr = parts.pop()[1:]
        node = root  # paths are /Return/ReturnHeader/... or /Return/ReturnData/...
        for part in parts:
            found = node.find(part)
            node = found if found is not None else ET.SubElement(node, part)
        if attr:
            node.set(attr, value)
        else:
            node.text = value

    arm_no = 0
    for name, var in sorted(spec["vars"].items()):
        for xp in list(var.get("xpaths", [])) + list(var.get("ez_xpaths", [])):
            arm_no += 1
            value = str(100 + arm_no)

            def build(root, data, xp=xp, value=value):
                # form-type marker so zero rules/schedule guards see a
                # typed doc even when the arm lives outside IRS990*
                if "/IRS990EZ/" not in xp and "/IRS990/" not in xp:
                    ET.SubElement(data, "IRS990")
                insert(root, data, xp, value)

            emit(build)
        if var.get("kind") == "schedule_flag":

            def build_flag(root, data, sched=var["schedule"]):
                ET.SubElement(data, "IRS990")
                ET.SubElement(data, sched)

            emit(build_flag)
    return docs


def gen_rdb_arm_docs(
    tables: list[str] | None = None,
) -> dict[str, list[tuple[str, str]]]:
    """Arm-fuzz corpus for the RDB tables (the reference parity set:
    Part VII + Schedule J + Schedule-O-report): one doc per ONE-arm,
    and one doc per (group root, relative leaf) MANY-arm carrying TWO
    group instances with distinct values — so the keyed explode itself
    (E3/E4: one output row per instance, values kept in instance
    order) is under test for every group-root vintage, not just the
    arms the fixtures happen to populate.

    Returns table -> [(url, xml)] so the diff harness builds each
    table over exactly its own corpus."""
    import sys as _sys
    import xml.etree.ElementTree as ET

    _sys.path.insert(0, str(REPO))
    from irs_990_efiler_database_spark.plans.concordance import (
        concrete_groups,
        table_names,
        table_rows,
    )

    serial = 0

    def new_root():
        root = ET.Element("Return", {"returnVersion": "2014v5.0"})
        ET.SubElement(root, "ReturnHeader")
        ET.SubElement(root, "ReturnData")
        return root

    def finish(root, out):
        nonlocal serial
        obj = f"9901{serial:06d}"
        serial += 1
        out.append(
            (
                f"file:///armfuzz/{obj}_public.xml",
                ET.tostring(root, encoding="unicode"),
            )
        )

    def ensure(node, parts):
        for part in parts:
            found = node.find(part)
            node = found if found is not None else ET.SubElement(node, part)
        return node

    def set_leaf(node, rel: str, value: str) -> None:
        parts = [p for p in rel.split("/") if p]
        attr = None
        if parts and parts[-1].startswith("@"):
            attr = parts.pop()[1:]
        node = ensure(node, parts)
        if attr:
            node.set(attr, value)
        else:
            node.text = value

    out: dict[str, list[tuple[str, str]]] = {}
    for t in tables if tables is not None else table_names():
        docs: list[tuple[str, str]] = []
        rows = table_rows(t)
        # malformed crosswalk cells can never match a real element —
        # skip generating (unrepresentable) docs for them
        rows = [r for r in rows if wellformed_xpath(r["xpath"])]
        ones = [r for r in rows if r["cardinality"] == "ONE"]
        manys = [r for r in rows if r["cardinality"] == "MANY"]
        for i, r in enumerate(ones):
            root = new_root()
            parts = [p for p in r["xpath"].split("/") if p][1:]  # drop Return
            set_leaf(root, "/".join(parts), str(500 + i))
            finish(root, docs)
        if manys:
            for gi, (gp, leaves) in enumerate(
                sorted(concrete_groups(manys).items())
            ):
                gparts = [p for p in gp.split("/") if p][1:]
                for li, rel in enumerate(sorted(leaves)):
                    root = new_root()
                    parent = ensure(root, gparts[:-1])
                    # rel == "" is the checkbox-as-group vintage
                    # (InfoInScheduleOPartVII): a single non-repeated
                    # element per XSD — duplicating it would be invalid
                    # XML with engine-dependent first/last semantics
                    n_inst = 2 if rel else 1
                    for inst in range(n_inst):  # 2 instances → 2 rows
                        g = ET.SubElement(parent, gparts[-1])
                        value = str(1000 * (gi + 1) + 10 * li + inst)
                        if rel:
                            set_leaf(g, rel, value)
                        else:
                            g.text = value
                    finish(root, docs)
        out[t] = docs
    return out


def gen_schedn_arm_docs() -> dict[str, list[tuple[str, str]]]:
    """Arm-fuzz corpus for the hand-rolled Schedule N tables
    (reference :2875-4140): one doc per ONE-table xpath arm and one
    per (group-root vintage, variable, relative-leaf vintage) with TWO
    group instances — ~300 docs covering both LiquidationOfAssets
    vintages, both DispositionOfActivities shapes, and every leaf
    rename across them. Same conflict-free one-arm-per-doc design as
    the CORE/RDB fuzzers."""
    import sys as _sys
    import xml.etree.ElementTree as ET

    _sys.path.insert(0, str(REPO))
    from irs_990_efiler_database_spark.plans.concordance import (
        load_schedn_spec,
    )

    spec = load_schedn_spec()
    serial = 0

    def new_root():
        root = ET.Element("Return", {"returnVersion": "2014v5.0"})
        ET.SubElement(root, "ReturnHeader")
        data = ET.SubElement(root, "ReturnData")
        ET.SubElement(data, "IRS990")
        ET.SubElement(data, "IRS990ScheduleN")
        return root

    def finish(root, out):
        nonlocal serial
        obj = f"9902{serial:06d}"
        serial += 1
        out.append(
            (
                f"file:///armfuzz/{obj}_public.xml",
                ET.tostring(root, encoding="unicode"),
            )
        )

    def ensure(node, parts):
        for part in parts:
            found = node.find(part)
            node = found if found is not None else ET.SubElement(node, part)
        return node

    out: dict[str, list[tuple[str, str]]] = {}
    for tname, t in spec["tables"].items():
        docs: list[tuple[str, str]] = []
        if t["cardinality"] == "ONE":
            i = 0
            for var in t["columns"]:
                for xp in t["vars"][var]["xpaths"]:
                    root = new_root()
                    parts = [p for p in xp.split("/") if p]
                    if parts and parts[0] == "Return":
                        parts = parts[1:]
                    ensure(root, parts).text = str(700 + i)
                    i += 1
                    finish(root, docs)
        else:
            for gi, gp in enumerate(t["groups"]):
                gparts = [p for p in gp.split("/") if p][1:]
                li = 0
                for var in t["columns"]:
                    for rel in t["vars"][var]["rels"]:
                        root = new_root()
                        parent = ensure(root, gparts[:-1])
                        for inst in range(2):
                            g = ET.SubElement(parent, gparts[-1])
                            leaf = ensure(g, [p for p in rel.split("/") if p])
                            leaf.text = str(2000 * (gi + 1) + 10 * li + inst)
                        li += 1
                        finish(root, docs)
        out[tname] = docs
    return out


def wellformed_xpath(xp: str) -> bool:
    """True when the crosswalk cell is a representable element path —
    the shared filter for every master-crosswalk fuzz (the public CSV
    carries a handful of malformed cells that can never match a real
    element; both the engine and the golden treat them verbatim)."""
    leaf_ok = all(
        part.startswith("@") or part.replace("_", "").isalnum()
        for part in xp.split("/")
        if part and part != "Return"
    )
    return ";" not in xp and " " not in xp and leaf_ok


def gen_master_arm_docs(
    locations: list[str] | None = None,
) -> dict[str, list[tuple[str, str, str, str, str]]]:
    """Value-fuzz corpus for the ENTIRE master crosswalk (VERDICT r7
    #7 / r8 #5): one tiny document per well-formed xpath arm of every
    one of the 1,683 LOCATIONs — ~13.5k docs. The slice fuzz samples 6
    locations; the '; '-cell and presence-semantics bugs both lived in
    cells no fixture touched, so VALUE coverage must be total, like
    compile coverage already is.

    Returns location -> [(url, xml, variable, value, xpath)] — the
    variable, its unique digit value, and the populated arm ride along
    so the harness can check cross-arm wiring (a doc's value must
    appear in exactly the variables whose xpath set contains the
    populated arm) without a golden call per (doc, location) pair."""
    import sys as _sys
    import xml.etree.ElementTree as ET

    _sys.path.insert(0, str(REPO))
    from irs_990_efiler_database_spark.plans.concordance import (
        load_master_index,
        master_table_rows,
    )

    if locations is None:
        locations = sorted({r[1] for r in load_master_index()})
    serial = 0
    out: dict[str, list[tuple[str, str, str, str, str]]] = {}
    for loc in locations:
        docs: list[tuple[str, str, str, str, str]] = []
        for r in master_table_rows(loc):
            if not wellformed_xpath(r["xpath"]):
                continue
            root = ET.Element("Return", {"returnVersion": "2014v5.0"})
            ET.SubElement(root, "ReturnHeader")
            ET.SubElement(root, "ReturnData")
            parts = [p for p in r["xpath"].split("/") if p]
            if parts and parts[0] == "Return":
                parts = parts[1:]
            attr = None
            if parts and parts[-1].startswith("@"):
                attr = parts.pop()[1:]
            node = root
            for part in parts:
                found = node.find(part)
                node = (
                    found if found is not None else ET.SubElement(node, part)
                )
            value = f"3{serial:07d}"  # unique per arm, never a prefix clash
            if attr:
                node.set(attr, value)
            else:
                node.text = value
            obj = f"9903{serial:06d}"
            serial += 1
            docs.append(
                (
                    f"file:///masterfuzz/{obj}_public.xml",
                    ET.tostring(root, encoding="unicode"),
                    r["variable"],
                    value,
                    r["xpath"],
                )
            )
        out[loc] = docs
    return out


def gen_master_coalesce_docs(
    locations: list[str] | None = None,
) -> dict[str, list[tuple[str, str, str]]]:
    """Coalesce-PRECEDENCE fuzz: one doc per multi-arm master variable
    with ALL of its arms populated at once (distinct values per arm).
    The single-arm fuzz (gen_master_arm_docs) proves each arm wires to
    the right column; it cannot see arm-ORDER divergence between the
    engine's coalesce_sql and the golden's _coalesce when several
    vintages coexist in one document — 3,170 master variables carry
    >=2 arms. Returns location -> [(url, xml, variable)]."""
    import sys as _sys
    import xml.etree.ElementTree as ET

    _sys.path.insert(0, str(REPO))
    from irs_990_efiler_database_spark.plans.concordance import (
        load_master_index,
        master_table_rows,
    )

    if locations is None:
        locations = sorted({r[1] for r in load_master_index()})
    serial = 0
    out: dict[str, list[tuple[str, str, str]]] = {}
    for loc in locations:
        by_var: dict[str, list[str]] = {}
        for r in master_table_rows(loc):
            if wellformed_xpath(r["xpath"]):
                by_var.setdefault(r["variable"], []).append(r["xpath"])
        docs: list[tuple[str, str, str]] = []
        for var, xps in by_var.items():
            if len(xps) < 2:
                continue
            root = ET.Element("Return", {"returnVersion": "2014v5.0"})
            ET.SubElement(root, "ReturnHeader")
            ET.SubElement(root, "ReturnData")
            for k, xp in enumerate(xps):
                parts = [p for p in xp.split("/") if p]
                if parts and parts[0] == "Return":
                    parts = parts[1:]
                attr = None
                if parts and parts[-1].startswith("@"):
                    attr = parts.pop()[1:]
                node = root
                for part in parts:
                    found = node.find(part)
                    node = (
                        found
                        if found is not None
                        else ET.SubElement(node, part)
                    )
                value = f"4{serial:06d}{k:02d}"
                if attr:
                    node.set(attr, value)
                else:
                    node.text = value
            obj = f"9904{serial:06d}"
            serial += 1
            docs.append(
                (
                    f"file:///coalescefuzz/{obj}_public.xml",
                    ET.tostring(root, encoding="unicode"),
                    var,
                )
            )
        if docs:
            out[loc] = docs
    return out


if __name__ == "__main__":
    from irs_990_efiler_database_spark.session import get_spark

    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/xml_bundle"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 2000
    gen_bundle(get_spark("gen-corpus"), out, n)
    print(f"wrote {n} docs to {out}")
