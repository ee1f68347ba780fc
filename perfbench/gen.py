"""Seeded input generator and expected outputs for the benchmark.

Every filing is ``corpusgen.synth_doc(i, ...)`` over the committed
fixture templates; the seed offsets the index range ``i`` so EINs,
ObjectIds, the fixture mix, realistic byte targets and Part VII /
Schedule J cardinalities all move with it. Expected per-table row
counts come from the generator (which documents are truncated) and the
``extract.golden`` reference builders, never from the program under
test.
"""

from __future__ import annotations

import json
import os
import random
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

from irs_990_efiler_database_spark.corpusgen import synth_doc
from irs_990_efiler_database_spark.extract import golden
from irs_990_efiler_database_spark.extract.schedn_builder import schedn_table_names
from irs_990_efiler_database_spark.plans.concordance import table_names

CORRUPT_EVERY = 100  # ~1% of filings are truncated and must dead-letter
DTK = "F9-P07-TABLE-01-DTK-COMPENSATION"
DTK_COMP = "F9_07_PZ_COMP_DIRECT"
INDEX_FORMS = ("990", "990EZ")  # filter_index's default subset


def table_list() -> list[str]:
    """The default build set, in the order ``jobs`` writes it."""
    return ["CORE", *table_names(), *schedn_table_names()]


def templates() -> list[str]:
    return [p.read_text() for p in golden.fixture_files()]


def base_index(seed: int) -> int:
    """First ``synth_doc`` index of a seed; EINs stay 9 digits."""
    return (seed % 4000) * 100_000


@dataclass
class Doc:
    i: int
    object_id: str
    xml: str
    corrupt: bool
    formtype: str  # from the untruncated document
    fisyr: str


@dataclass
class Expected:
    """What a correct build of a set of documents must contain."""

    rows: Counter = field(default_factory=Counter)  # table -> rows
    dead: int = 0
    dtk_comp_by_year: Counter = field(default_factory=Counter)

    def __iadd__(self, other: "Expected") -> "Expected":
        self.rows.update(other.rows)
        self.dead += other.dead
        self.dtk_comp_by_year.update(other.dtk_comp_by_year)
        return self


def make_docs(
    texts: list[str], start: int, n: int, realistic: bool
) -> list[Doc]:
    # the form type and tax year live in the fixture template; inflation
    # and the EIN rewrite leave them alone
    header = {}
    for k, xml in enumerate(texts):
        row = golden.golden_core_row("file:///t/0_public.xml", xml)
        header[k] = (row["FORMTYPE"], row["FISYR"])
    docs = []
    for i in range(start, start + n):
        url, xml = synth_doc(i, texts, CORRUPT_EVERY, realistic=realistic)
        oid = url.rsplit("/", 1)[1].removesuffix("_public.xml")
        corrupt = i % CORRUPT_EVERY == CORRUPT_EVERY - 1
        docs.append(Doc(i, oid, xml, corrupt, *header[i % len(texts)]))
    return docs


def _golden_counts(url: str, xml: str) -> tuple[Counter, Counter]:
    rows, comp = Counter({"CORE": 1}), Counter()
    for t in table_names():
        got = golden.golden_rdb_rows(url, xml, t)[1]
        rows[t] += len(got)
        if t == DTK:
            for r in got:
                comp[r["TAXYR"]] += int(r[DTK_COMP] or 0)
    for t in schedn_table_names():
        rows[t] += len(golden.golden_schedn_rows(url, xml, t)[1])
    return rows, comp


def expected_for(docs: list[Doc], url_of, realistic: bool) -> Expected:
    """Golden per-table row counts and DTK compensation totals by tax
    year for the documents a correct build keeps; ``url_of(doc)`` is
    the URL the build sees. Fixture-size replicas differ from their
    template only in the EIN, so their counts are computed once per
    template."""
    exp = Expected()
    memo: dict[int, tuple[Counter, Counter]] = {}
    n_templates = len(golden.fixture_files())
    for d in docs:
        if d.corrupt:
            exp.dead += 1
            continue
        key = d.i if realistic else d.i % n_templates
        if key not in memo:
            memo[key] = _golden_counts(url_of(d), d.xml)
        rows, comp = memo[key]
        exp.rows.update(rows)
        exp.dtk_comp_by_year.update(comp)
    return exp


def golden_rows(d: Doc, url: str) -> tuple[dict, list[dict]]:
    """The golden CORE row and DTK rows of one document."""
    return (
        golden.golden_core_row(url, d.xml),
        golden.golden_rdb_rows(url, d.xml, DTK)[1],
    )


# ------------------------------------------------------------ writers


def write_raw_files(docs: list[Doc], raw_dir: Path) -> dict[str, str]:
    """One ``<ObjectId>_public.xml`` per filing (the suffix is what
    ``object_id`` is parsed from); returns object_id -> file URL."""
    raw_dir.mkdir(parents=True, exist_ok=True)
    urls = {}
    for d in docs:
        p = raw_dir / f"{d.object_id}_public.xml"
        p.write_text(d.xml)
        urls[d.object_id] = p.resolve().as_uri()
    return urls


def write_index(
    docs: list[Doc], urls: dict[str, str], index_dir: Path, seed: int
) -> set[str]:
    """Two yearly wrapped-JSON index files over ``docs``. About 2% of
    entries are marked unavailable and about 1% are listed twice (the
    yearly files overlap), so filtering and de-duplication do work.
    Returns the ObjectIds a correct ``filter_index`` keeps."""
    rng = random.Random(seed)
    index_dir.mkdir(parents=True, exist_ok=True)
    years: dict[int, list[dict]] = {2014: [], 2015: []}
    kept = set()
    for d in docs:
        available = rng.random() >= 0.02
        entry = {
            "EIN": str(500000000 + d.i),
            "TaxPeriod": f"{d.fisyr}12",
            "DLN": f"9349{d.i:011d}",
            "FormType": d.formtype,
            "URL": urls[d.object_id],
            "OrganizationName": f"ORG {d.i}",
            "SubmittedOn": f"{2014 + d.i % 2}-01-15",
            "ObjectId": d.object_id,
            "LastUpdated": f"{2014 + d.i % 2}-12-30T12:00:00",
            "IsElectronic": True,
            "IsAvailable": available,
        }
        years[2014 + d.i % 2].append(entry)
        if rng.random() < 0.01:
            years[2014 + d.i % 2].append(dict(entry))
        if available and d.formtype in INDEX_FORMS:
            kept.add(d.object_id)
    for year, filings in years.items():
        (index_dir / f"index_{year}.json").write_text(
            json.dumps({f"Filings{year}": filings})
        )
    return kept


def write_bundle(
    docs: list[Doc], path: Path, files: int, url_of, prefix: str = "part"
) -> None:
    """A (url, xml) parquet bundle in ``files`` part files, as
    ``write_return_bundle`` lays it out."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path.mkdir(parents=True, exist_ok=True)
    for k in range(files):
        part = docs[k::files]
        table = pa.table(
            {
                "url": [url_of(d) for d in part],
                "xml": [d.xml for d in part],
            }
        )
        pq.write_table(table, os.fspath(path / f"{prefix}-{k:05d}.parquet"))


def synthetic_url(d: Doc) -> str:
    return f"file:///synthetic/{d.object_id}_public.xml"
