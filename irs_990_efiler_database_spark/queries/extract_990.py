"""990 extraction pipeline under the oracle gate.

Each query runs the REAL Spark extraction path (wholetext XML source →
``F.from_xml`` superset struct → compiled Column expressions) over the
canonical 4-document fixture matrix (two 990 + two 990EZ spanning the
2013 XSD break — the reference's own demo corpus,
BUILD_SCRIPTS/README.md:44-50), and is checked against an independent
ElementTree re-implementation of the reference's per-document semantics
(``extract.golden``) emitted as literal DuckDB SQL.

Queries: CORE (scrapeXML analog, reference
build_efile_database_functions.R:307-2860) + each concordance-driven
table (build_rdb_table, :210-276).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..extract.core_builder import build_core
from ..extract.golden import (
    fixture_files,
    fixtures_dir,
    golden_core_sql,
    golden_rdb_sql,
    golden_schedn_sql,
    typed_values_sql,
)
from ..extract.rdb_builder import build_rdb_table
from ..extract.schedn_builder import build_schedn_table, schedn_table_names
from ..plans.concordance import _DEFAULT_MASTER_SLICES, load_core_spec, table_names
from ..sources.xml_source import read_return_xml_files
from . import register

_GLOB = str(fixtures_dir() / "*.xml")


def _returns(spark: SparkSession) -> DataFrame:
    return read_return_xml_files(spark, _GLOB)


def _realistic_docs() -> list[tuple[str, str]]:
    """Deterministic realistic-size corpus slice (VERDICT r12
    next-round #1): one full pass over the 13-fixture vintage matrix,
    every doc inflated to the 50-250 KB band real filings occupy
    (corpusgen.inflate_doc — Part VII groups at 5-40 instances,
    Schedule J at half that, ~1 KB Schedule O narrative blocks to the
    byte target). Realistic-shape extraction was previously validated
    at row-count level only; these rows put it under the same
    value-hash oracle gate as the fixture-size queries, so a size- or
    chunking-dependent extraction bug (the class the r12 vectorized-
    reader OOM proved exists) fails the gate instead of passing
    silently. Reference corpus shape: BUILD_SCRIPTS/README.md:256."""
    from ..corpusgen import synth_doc

    texts = [p.read_text() for p in fixture_files()]
    return [synth_doc(i, texts, realistic=True) for i in range(13)]


_REAL_DOCS = _realistic_docs()


def _real_returns(spark: SparkSession) -> DataFrame:
    from ..sources.xml_source import with_parsed_return

    df = spark.createDataFrame(_REAL_DOCS, "url string, xml string")
    return with_parsed_return(df)


@register("x990_core_realistic", oracle=golden_core_sql(docs=_REAL_DOCS))
def x990_core_realistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORE over the realistic-size corpus slice — the 237-column
    scrapeXML analog at the byte shape real filings have (50-250 KB,
    golden-gated per value)."""
    cols = list(dict.fromkeys(load_core_spec()["columns"]))
    return build_core(_real_returns(spark), columns=cols)


@register(
    "x990_p07_dtk_realistic",
    oracle=golden_rdb_sql("F9-P07-TABLE-01-DTK-COMPENSATION", docs=_REAL_DOCS),
)
def x990_p07_dtk_realistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part VII DTK compensation (1:M explode) over the realistic
    corpus slice — the MANY table the 5-40-instance inflation feeds,
    value-gated so group explode at realistic cardinality is proven,
    not just counted."""
    return build_rdb_table(
        _real_returns(spark), "F9-P07-TABLE-01-DTK-COMPENSATION"
    )


@register(
    "x990_sj_comp_realistic",
    oracle=golden_rdb_sql("SJ-P02-T01-COMPENSATION", docs=_REAL_DOCS),
)
def x990_sj_comp_realistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schedule J compensation (1:M explode) over the realistic corpus
    slice — the second MANY table the inflation feeds."""
    return build_rdb_table(_real_returns(spark), "SJ-P02-T01-COMPENSATION")


@register("x990_core", oracle=golden_core_sql())
def x990_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORE: 237-column scrapeXML analog (one row per return); dedup'd
    column list (the reference's namedList carries ORGDISSOLVED twice)."""
    cols = list(dict.fromkeys(load_core_spec()["columns"]))
    return build_core(_returns(spark), columns=cols)


def _register_rdb(table: str) -> None:
    # query names can't contain the raw table name's dots/dashes freely;
    # normalize to a stable snake identifier
    qname = "x990_" + table.lower().replace("-", "_")

    @register(qname, oracle=golden_rdb_sql(table))
    def _q(spark: SparkSession, sf_dir: str, _t: str = table) -> DataFrame:
        return build_rdb_table(_returns(spark), _t)

    _q.__doc__ = f"Concordance table {table} (build_rdb_table analog)."


for _t in table_names():
    _register_rdb(_t)

# master-concordance slices (reference create_code_chunks analog,
# :5186-5291): built by the SAME generic build_rdb_table through the
# registered master spec — concordance groups NOT covered by the two
# per-table CSVs (Schedule A) plus the 990PF balance sheet (the r4
# missing-#1 proof + stretch #7). Only the default slices: the
# process-global master registry also holds any slice registered
# before this import (a build's, or a catalog slice registered below),
# which must neither become a query here nor be registered twice
for _t in sorted(name for name, *_ in _DEFAULT_MASTER_SLICES):
    _register_rdb(_t)

# derived-catalog MANY slices (VERDICT r12 next-round #2): the master
# crosswalk carries no cardinality column, so repeating-group roots
# are now DERIVED structurally for all 1,683 LOCATIONs
# (tools/derive_many_catalog.py → metadata/master_many_catalog.json,
# cross-checked against the per-table concordances' ground truth).
# Two slices go under the value-hash oracle gate here: the Schedule N
# Part II dispositions table — catalog roots must reproduce the
# hand-built SCHED-N explode semantics through the GENERIC
# build_rdb_table path, including the nested
# LiquidationTable/LiquidationDetail vintage whose innermost-anchor
# bug this catalog found — and the Schedule A Part II public-support
# group slice (31 derived roots, the widest catalog entry the
# fixtures populate).
from ..plans.concordance import register_catalog_many_table  # noqa: E402


def _register_catalog_query(loc: str) -> None:
    name = register_catalog_many_table(loc, table_name=f"MC-{loc}-MANY")
    qname = "x990_" + name.lower().replace("-", "_")

    @register(qname, oracle=golden_rdb_sql(name))
    def _q(
        spark: SparkSession, sf_dir: str, _loc: str = loc, _n: str = name
    ) -> DataFrame:
        # registrations live in process-global state a caller may
        # legitimately reset (the CLI fresh-process contract) — the
        # query re-registers from the committed catalog when missing,
        # so it never depends on import-time side effects surviving
        from ..plans.concordance import _MASTER_TABLES

        if _n not in _MASTER_TABLES:
            register_catalog_many_table(_loc, table_name=_n)
        # scoped parse (guide §1.2/§7.3, VERDICT r14 #5): Catalyst
        # analysis of the ~1,900-leaf superset from_xml struct
        # dominated this 13-doc entry (~2-3.5 s sf-independent);
        # parsing with the table's own pruned schema cuts the analyzed
        # struct to the slice's leaves. Values are flag-exact-identical
        # (tests/test_extract_990.py::test_scoped_parse_matches_superset)
        # and the golden oracle pins the rows either way.
        return build_rdb_table(
            read_return_xml_files(spark, _GLOB, scope_tables=(_n,)),
            _n,
            scoped=True,
        )

    _q.__doc__ = (
        f"Derived-catalog MANY slice {name} (group roots from "
        "metadata/master_many_catalog.json through the generic "
        "build_rdb_table explode path)."
    )


for _loc in ("IRS990ScheduleN-PART-02", "SCHED-A-PART-02"):
    _register_catalog_query(_loc)


def _register_schedn(table: str) -> None:
    qname = "x990_" + table.lower().replace("-", "_")

    @register(qname, oracle=golden_schedn_sql(table))
    def _q(spark: SparkSession, sf_dir: str, _t: str = table) -> DataFrame:
        return build_schedn_table(_returns(spark), _t)

    _q.__doc__ = (
        f"Schedule N table {table} (hand-rolled explode analog, "
        "reference :2875-4140)."
    )


for _t in schedn_table_names():
    _register_schedn(_t)


def _termination_oracle() -> str:
    # composed golden oracle: the CORE golden rows joined to the
    # SCHED-N-TABLE-00 golden rows — two independent ElementTree
    # derivations the Spark join must reproduce
    core = golden_core_sql()
    sn = golden_schedn_sql("SCHED-N-TABLE-00")
    return f"""
    WITH core AS ({core}),
    sn AS ({sn})
    SELECT core.URL, core.EIN, core.NAME, core.FISYR,
           core.TERMINATED, core.DISCOPS, core.SCHEDN,
           sn.SN_PZ_01_ASSETSDISTRIBUTED AS assets_distributed,
           sn.SN_PZ_01_EXEMPTSTATUSTERMINATED AS exempt_status_terminated
    FROM core LEFT JOIN sn USING (URL)
    WHERE core.TERMINATED IS NOT NULL OR core.SCHEDN
    """


@register("x990_termination_report", oracle=_termination_oracle())
def x990_termination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table 990 analysis: organizations that terminated or
    filed Schedule N, with their CORE header and the Schedule N
    disposition answers — the join a researcher actually runs over the
    built database (the reference leaves this to downstream Stata
    users; here it is a first-class engine query). The Spark side
    joins the REAL builder outputs; the oracle composes the two
    independent ElementTree goldens, so builder + join semantics sit
    under one hash."""
    from pyspark.sql import functions as F

    returns = _returns(spark)
    cols = list(dict.fromkeys(load_core_spec()["columns"]))
    core = build_core(returns, columns=cols).select(
        "URL", "EIN", "NAME", "FISYR", "TERMINATED", "DISCOPS", "SCHEDN"
    )
    sn = build_schedn_table(returns, "SCHED-N-TABLE-00").select(
        "URL",
        F.col("SN_PZ_01_ASSETSDISTRIBUTED").alias("assets_distributed"),
        F.col("SN_PZ_01_EXEMPTSTATUSTERMINATED").alias(
            "exempt_status_terminated"
        ),
    )
    return core.join(sn, "URL", "left").filter(
        F.col("TERMINATED").isNotNull() | F.col("SCHEDN")
    )


def _compensation_oracle(
    docs: list[tuple[str, str]] | None = None,
) -> str:
    # composed golden oracle: per-filing top-paid director/trustee/key
    # employee from the DTK golden joined to the CORE golden's revenue
    core = golden_core_sql(docs=docs)
    dtk = golden_rdb_sql("F9-P07-TABLE-01-DTK-COMPENSATION", docs=docs)
    return f"""
    WITH core AS ({core}),
    dtk AS ({dtk}),
    comp AS (
      SELECT URL, F9_07_PZ_DTK_NAME AS dtk_name,
             COALESCE(CAST(F9_07_PZ_COMP_DIRECT AS BIGINT), 0)
             + COALESCE(CAST(F9_07_PZ_COMP_OTHER AS BIGINT), 0)
             + COALESCE(CAST(F9_07_PZ_COMP_RELATED AS BIGINT), 0)
               AS total_comp
      FROM dtk WHERE F9_07_PZ_DTK_NAME IS NOT NULL
    ),
    top AS (
      SELECT URL, dtk_name, total_comp FROM (
        SELECT URL, dtk_name, total_comp,
               ROW_NUMBER() OVER (PARTITION BY URL
                                  ORDER BY total_comp DESC, dtk_name) AS rn
        FROM comp
      ) WHERE rn = 1
    )
    SELECT c.URL, c.EIN, c.NAME, c.FISYR,
           t.dtk_name AS top_paid_name,
           t.total_comp AS top_paid_total,
           CAST(c.TOTALREVCURRENT AS BIGINT) AS total_revenue,
           CASE WHEN CAST(c.TOTALREVCURRENT AS BIGINT) > 0
                THEN round(CAST(t.total_comp AS DOUBLE)
                           / CAST(c.TOTALREVCURRENT AS BIGINT), 6)
           END AS comp_to_revenue
    FROM core c JOIN top t ON t.URL = c.URL
    """


def _compensation_report(returns: DataFrame) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    cols = list(dict.fromkeys(load_core_spec()["columns"]))
    core = build_core(returns, columns=cols).select(
        "URL", "EIN", "NAME", "FISYR", "TOTALREVCURRENT"
    )
    dtk = build_rdb_table(returns, "F9-P07-TABLE-01-DTK-COMPENSATION")
    comp = dtk.filter(F.col("F9_07_PZ_DTK_NAME").isNotNull()).select(
        "URL",
        F.col("F9_07_PZ_DTK_NAME").alias("dtk_name"),
        (
            F.coalesce(F.col("F9_07_PZ_COMP_DIRECT").cast("long"), F.lit(0))
            + F.coalesce(F.col("F9_07_PZ_COMP_OTHER").cast("long"), F.lit(0))
            + F.coalesce(
                F.col("F9_07_PZ_COMP_RELATED").cast("long"), F.lit(0)
            )
        ).alias("total_comp"),
    )
    w = Window.partitionBy("URL").orderBy(
        F.col("total_comp").desc(), "dtk_name"
    )
    top = (
        comp.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    rev = F.col("TOTALREVCURRENT").cast("long")
    return core.join(top, "URL").select(
        "URL",
        "EIN",
        "NAME",
        "FISYR",
        F.col("dtk_name").alias("top_paid_name"),
        F.col("total_comp").alias("top_paid_total"),
        rev.alias("total_revenue"),
        F.when(
            rev > 0,
            F.round(F.col("total_comp").cast("double") / rev, 6),
        ).alias("comp_to_revenue"),
    )


@register("x990_compensation_report", oracle=_compensation_oracle())
def x990_compensation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table 990 analysis #2: each filing's highest-paid
    director/trustee/key employee (direct + other + related comp) next
    to the organization's current-year total revenue — the
    executive-compensation screen a 990 researcher runs. Spark joins
    the REAL builder outputs (per-URL top-1 window is bounded by
    officers-per-filing); the oracle composes the two independent
    ElementTree goldens, so builder + window + join semantics sit
    under one hash."""
    return _compensation_report(_returns(spark))


@register(
    "x990_compensation_report_realistic",
    oracle=_compensation_oracle(docs=_REAL_DOCS),
)
def x990_compensation_report_realistic(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The compensation report at realistic byte shape (VERDICT r12
    next-round #1's report-query leg): the per-URL top-1 window runs
    over the inflated 5-40-person Part VII groups, so report + window
    + join semantics are value-gated at the cardinality real filings
    have, not the fixtures' 2-3 officers."""
    return _compensation_report(_real_returns(spark))


def _balance_audit_oracle() -> str:
    core = golden_core_sql()
    return f"""
    WITH core AS ({core})
    SELECT URL, EIN, FISYR,
           CAST(TOTALASSETSENDYEAR AS BIGINT) AS assets_eoy,
           CAST(TOTALLIABENDYEAR AS BIGINT) AS liabilities_eoy,
           CAST(NETASSETSENDYEAR AS BIGINT) AS net_assets_eoy,
           CAST(TOTALASSETSENDYEAR AS BIGINT)
             - CAST(TOTALLIABENDYEAR AS BIGINT)
             - CAST(NETASSETSENDYEAR AS BIGINT) AS identity_gap,
           (CAST(TOTALASSETSENDYEAR AS BIGINT)
            - CAST(TOTALLIABENDYEAR AS BIGINT)
            - CAST(NETASSETSENDYEAR AS BIGINT)) = 0 AS balances
    FROM core
    WHERE TOTALASSETSENDYEAR IS NOT NULL
      AND TOTALLIABENDYEAR IS NOT NULL
      AND NETASSETSENDYEAR IS NOT NULL
    """


@register("x990_balance_sheet_audit", oracle=_balance_audit_oracle())
def x990_balance_sheet_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The accounting-identity audit every 990 researcher runs first:
    end-of-year assets must equal liabilities plus net assets. Runs
    over the REAL CORE builder output (all-string model cast to
    integers exactly as the oracle's golden does) and reports the
    per-filing gap — the reference leaves this to downstream Stata;
    here it's a first-class engine query."""
    from pyspark.sql import functions as F

    cols = list(dict.fromkeys(load_core_spec()["columns"]))
    core = build_core(_returns(spark), columns=cols)
    a = F.col("TOTALASSETSENDYEAR").cast("long")
    l = F.col("TOTALLIABENDYEAR").cast("long")
    n = F.col("NETASSETSENDYEAR").cast("long")
    return (
        core.filter(a.isNotNull() & l.isNotNull() & n.isNotNull())
        .select(
            "URL",
            "EIN",
            "FISYR",
            a.alias("assets_eoy"),
            l.alias("liabilities_eoy"),
            n.alias("net_assets_eoy"),
            (a - l - n).alias("identity_gap"),
            ((a - l - n) == 0).alias("balances"),
        )
    )


def _public_support_oracle() -> str:
    sa = golden_rdb_sql("SCHED-A-PART-02")
    return f"""
    WITH sa AS ({sa})
    SELECT URL, EIN, NAME, TAXYR,
           CAST(COALESCE(GIGRCORETOOT, GIGRCORCTOOT) AS BIGINT) AS gifts_total,
           CAST(GROINVINCTOT AS BIGINT) AS invest_total,
           CAST(OTHEINCOTOTA AS BIGINT) AS other_total,
           COALESCE(CAST(COALESCE(GIGRCORETOOT, GIGRCORCTOOT) AS BIGINT), 0)
             + COALESCE(CAST(GROINVINCTOT AS BIGINT), 0)
             + COALESCE(CAST(OTHEINCOTOTA AS BIGINT), 0) AS total_support,
           round(CAST(CAST(COALESCE(GIGRCORETOOT, GIGRCORCTOOT) AS BIGINT)
                      AS DOUBLE)
                 / (COALESCE(CAST(COALESCE(GIGRCORETOOT, GIGRCORCTOOT)
                                  AS BIGINT), 0)
                    + COALESCE(CAST(GROINVINCTOT AS BIGINT), 0)
                    + COALESCE(CAST(OTHEINCOTOTA AS BIGINT), 0)), 6)
             AS public_support_pct
    FROM sa
    """


@register("x990_public_support_report", oracle=_public_support_oracle())
def x990_public_support_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Public-support test (Schedule A Part II — the calculation every
    501(c)(3) charity's status hinges on): gifts/grants over total support, from
    the MASTER-CONCORDANCE-built SCHED-A-PART-02 table. The gifts
    total coalesces the old-style and Grp-style concordance variables
    — a report the reference cannot produce (its metaprogram emits the
    extractor, not the analysis); here both sit under one oracle
    hash."""
    from pyspark.sql import functions as F

    sa = build_rdb_table(_returns(spark), "SCHED-A-PART-02")
    gifts = F.coalesce(
        F.col("GIGRCORETOOT"), F.col("GIGRCORCTOOT")
    ).cast("long")
    invest = F.col("GROINVINCTOT").cast("long")
    other = F.col("OTHEINCOTOTA").cast("long")
    total = (
        F.coalesce(gifts, F.lit(0))
        + F.coalesce(invest, F.lit(0))
        + F.coalesce(other, F.lit(0))
    )
    return sa.select(
        "URL",
        "EIN",
        "NAME",
        "TAXYR",
        gifts.alias("gifts_total"),
        invest.alias("invest_total"),
        other.alias("other_total"),
        total.alias("total_support"),
        F.round(gifts.cast("double") / total, 6).alias("public_support_pct"),
    )


def _pf_balance_oracle() -> str:
    pf = golden_rdb_sql("IRS990PF-PART-02")
    return f"""
    WITH pf AS ({pf})
    SELECT URL, EIN, TAXYR,
           CAST(BSTAEOY AS BIGINT) AS assets_eoy,
           CAST(BSTLEOY AS BIGINT) AS liabilities_eoy,
           CAST(BSTNAOFBEOY AS BIGINT) AS net_assets_eoy,
           CAST(BSTAEOY AS BIGINT) - CAST(BSTLEOY AS BIGINT)
             - CAST(BSTNAOFBEOY AS BIGINT) AS identity_gap,
           (CAST(BSTAEOY AS BIGINT) - CAST(BSTLEOY AS BIGINT)
             - CAST(BSTNAOFBEOY AS BIGINT)) = 0 AS balances
    FROM pf
    WHERE BSTAEOY IS NOT NULL AND BSTLEOY IS NOT NULL
      AND BSTNAOFBEOY IS NOT NULL
    """


@register("x990_pf_balance_audit", oracle=_pf_balance_oracle())
def x990_pf_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """990PF balance-sheet identity audit over the master-built
    IRS990PF-PART-02 table — the PF mirror of
    ``x990_balance_sheet_audit``, proving the 990PF extraction slice
    (r4 stretch #7) feeds the same analysis surface as the PC/EZ
    pipeline."""
    from pyspark.sql import functions as F

    pf = build_rdb_table(_returns(spark), "IRS990PF-PART-02")
    a = F.col("BSTAEOY").cast("long")
    l = F.col("BSTLEOY").cast("long")
    n = F.col("BSTNAOFBEOY").cast("long")
    return (
        pf.filter(a.isNotNull() & l.isNotNull() & n.isNotNull())
        .select(
            "URL",
            "EIN",
            "TAXYR",
            a.alias("assets_eoy"),
            l.alias("liabilities_eoy"),
            n.alias("net_assets_eoy"),
            (a - l - n).alias("identity_gap"),
            ((a - l - n) == 0).alias("balances"),
        )
    )


def _dirty_corpus() -> list[tuple[str, str]]:
    """The fixture matrix + deterministic corruption classes modeled on
    the reference's per-URL try() failures (FAIL_LIST.csv, reference
    build_efile_database_functions.R:5012-5017, :5047-5101): every
    fixture both intact and truncated mid-element, plus a non-XML
    payload, an unterminated attribute, mismatched tags and an empty
    document. Deterministic by construction (pure text transforms of
    committed fixtures), so the ElementTree golden below is stable."""
    docs: list[tuple[str, str]] = []
    for p in fixture_files():
        text = p.read_text()
        docs.append((f"file:///dirty/{p.stem}_ok.xml", text))
        docs.append(
            (f"file:///dirty/{p.stem}_trunc.xml", text[: int(len(text) * 0.6)])
        )
    docs.append(("file:///dirty/not_xml.txt", "plain text, no xml here"))
    docs.append(
        (
            "file:///dirty/open_attr.xml",
            '<Return xmlns="http://www.irs.gov/efile">'
            '<ReturnHeader TaxYr="2014></ReturnHeader></Return>',
        )
    )
    docs.append(
        ("file:///dirty/mismatched.xml", "<Return><ReturnHeader></Return></ReturnHeader>")
    )
    docs.append(("file:///dirty/empty.xml", ""))
    return docs


def _dead_letter_golden_sql() -> str:
    """Literal VALUES oracle: per-document parse verdicts from the
    INDEPENDENT parser (ElementTree), the same source of truth as
    every other golden in this module — a divergence means Spark's
    PERMISSIVE from_xml accepted a document expat rejects (or vice
    versa), exactly the split_corrupt contract under test."""
    import xml.etree.ElementTree as ET

    rows = []
    for url, text in _dirty_corpus():
        try:
            ET.fromstring(text)
            status = "parsed"
        except ET.ParseError:
            status = "dead_letter"
        rows.append({"url": url, "status": status})
    return typed_values_sql(["url", "status"], rows, {})


@register("x990_dead_letter_split", oracle=_dead_letter_golden_sql())
def x990_dead_letter_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE corrupt-document capture (S3, SURVEY §2.1) under the
    oracle gate: the real parse path (``with_parsed_return`` →
    ``split_corrupt``) over the fixture matrix plus five deterministic
    corruption classes, checked verdict-for-verdict against
    ElementTree. Pins the dead-letter CONTRACT, not just a count: a
    clean doc misrouted to the dead-letter sink (data loss for
    downstream replay) or a corrupt doc leaking into the parse (null
    cascade through 237 columns) each flips a row. The same capture
    path dead-letters exactly 4,700/4,700 injected documents at
    filing-year scale (BENCH_NOTES r11)."""
    from pyspark.sql import functions as F

    from ..sources.xml_source import split_corrupt, with_parsed_return

    df = spark.createDataFrame(_dirty_corpus(), "url string, xml string")
    ok, dead = split_corrupt(with_parsed_return(df))
    return ok.select("url", F.lit("parsed").alias("status")).unionByName(
        dead.select("url", F.lit("dead_letter").alias("status"))
    )
