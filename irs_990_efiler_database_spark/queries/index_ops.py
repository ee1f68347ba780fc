"""Index pipeline under the oracle gate — the reference's buildIndex
(build_efile_database_functions.R:54-89) plus its published validation
aggregates (Build-Efiler-Index.md:105-135, README.md:77-82).

The Spark side runs the REAL distributed path (wholetext scan →
from_json MAP root → explode → dropDuplicates → TaxYear). The oracle
is an independent Python json parse of the same fixture files emitted
as literal rows; the aggregate queries' oracles let DuckDB compute the
aggregation itself over those literals, so both the scan and the
aggregation semantics are cross-checked.
"""

from __future__ import annotations

import json
from functools import lru_cache
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..extract.golden import typed_values_sql
from ..sources.index import build_index, filter_index, read_index_files
from . import register

_FIXTURES = (
    Path(__file__).resolve().parent.parent.parent / "tests" / "fixtures" / "index"
)
_GLOB = str(_FIXTURES / "index_*.json")

_COLS = [
    "EIN", "TaxPeriod", "DLN", "FormType", "URL", "OrganizationName",
    "SubmittedOn", "ObjectId", "LastUpdated", "IsElectronic", "IsAvailable",
    "TaxYear",
]
_TYPES = {"IsElectronic": "BOOLEAN", "IsAvailable": "BOOLEAN", "TaxYear": "BIGINT"}


@lru_cache(maxsize=1)
def _golden_index_rows() -> list[dict]:
    """Independent re-implementation of buildIndex per-row semantics."""
    rows: list[dict] = []
    seen: set[tuple] = set()
    for p in sorted(_FIXTURES.glob("index_*.json")):
        wrapped = json.loads(p.read_text())
        (filings,) = wrapped.values()
        for f in filings:
            key = tuple(sorted(f.items()))
            if key in seen:  # unique() (:75)
                continue
            seen.add(key)
            yr, month = int(f["TaxPeriod"][:4]), f["TaxPeriod"][4:6]
            rows.append({**f, "TaxYear": yr if month == "12" else yr - 1})
    return rows


def _golden_sql() -> str:
    return typed_values_sql(_COLS, _golden_index_rows(), _TYPES)


@register("idx_build", oracle=_golden_sql())
def idx_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The built index: scan → distinct → TaxYear (S1 + F3 + U3)."""
    return build_index(spark, _GLOB)


@register(
    "idx_crosstab_form_year",
    oracle=f"""
    SELECT FormType,
           COUNT(*) FILTER (TaxYear = 2012) AS "2012",
           COUNT(*) FILTER (TaxYear = 2013) AS "2013",
           COUNT(*) FILTER (TaxYear = 2014) AS "2014",
           COUNT(*) FILTER (TaxYear = 2015) AS "2015"
    FROM ({_golden_sql()})
    GROUP BY FormType
    """,
)
def idx_crosstab_form_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's own validation crosstab table(FormType, TaxYear)
    (README.md:77-82, Build-Efiler-Index.md:105-110)."""
    return (
        build_index(spark, _GLOB)
        .groupBy("FormType")
        .pivot("TaxYear", [2012, 2013, 2014, 2015])
        .count()
        .na.fill(0, ["2012", "2013", "2014", "2015"])
    )


@register(
    "idx_panel_spells",
    oracle=f"""
    SELECT n_filings, COUNT(*) AS n_orgs
    FROM (
      SELECT EIN, COUNT(*) AS n_filings
      FROM ({_golden_sql()})
      GROUP BY EIN
    )
    GROUP BY n_filings
    """,
)
def idx_panel_spells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-of-frequency: distribution of filings per org
    (table(table(EIN)), Build-Efiler-Index.md:125-135) — surfaces the
    double-filing anomaly the reference documents."""
    return (
        build_index(spark, _GLOB)
        .groupBy("EIN")
        .agg(F.count(F.lit(1)).alias("n_filings"))
        .groupBy("n_filings")
        .agg(F.count(F.lit(1)).alias("n_orgs"))
    )


@register(
    "idx_filter_available_990",
    oracle=f"""
    SELECT EIN, TaxYear, FormType, ObjectId
    FROM ({_golden_sql()})
    WHERE TaxYear IN (2013, 2014)
      AND FormType IN ('990', '990EZ')
      AND IsAvailable
    """,
)
def idx_filter_available_990(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-fetch subsetting (P5): years × form types × availability
    (:4958, Build-Efiler-Index.md:142-155)."""
    return filter_index(
        build_index(spark, _GLOB), years=[2013, 2014]
    ).select("EIN", "TaxYear", "FormType", "ObjectId")


@register(
    "idx_semi_join_eins",
    oracle=f"""
    SELECT EIN, TaxYear, ObjectId
    FROM ({_golden_sql()})
    WHERE FormType IN ('990', '990EZ') AND IsAvailable
      AND EIN IN ('100000001', '100000003')
    """,
)
def idx_semi_join_eins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EIN-membership subsetting as a broadcast left-semi join — the
    reference's index$EIN %in% eins (:4958)."""
    eins = spark.createDataFrame(
        [("100000001",), ("100000003",)], ["EIN"]
    )
    return filter_index(build_index(spark, _GLOB), eins=eins).select(
        "EIN", "TaxYear", "ObjectId"
    )


@register(
    "idx_amended_supersede",
    oracle=f"""
    SELECT EIN, TaxPeriod, ObjectId,
           CAST(rn AS BIGINT) AS version_rank,
           rn = 1 AS is_current
    FROM (
      SELECT EIN, TaxPeriod, ObjectId,
             ROW_NUMBER() OVER (PARTITION BY EIN, TaxPeriod
                                ORDER BY ObjectId DESC) AS rn
      FROM ({_golden_sql()})
    )
    """,
)
def idx_amended_supersede(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amended-filing resolution at the index level: within an
    (EIN, TaxPeriod) filing group, later ObjectIds supersede earlier
    ones (amended returns re-post with a newer id); rank 1 is the
    filing a rebuild should extract. One window over the group key —
    the selection step that feeds sinks.upsert_partitions."""
    from pyspark.sql import Window

    idx = build_index(spark, _GLOB)
    w = Window.partitionBy("EIN", "TaxPeriod").orderBy(F.col("ObjectId").desc())
    return idx.select(
        "EIN",
        "TaxPeriod",
        "ObjectId",
        F.row_number().over(w).cast("long").alias("version_rank"),
        (F.row_number().over(w) == 1).alias("is_current"),
    )


@register(
    "idx_coverage_report",
    oracle=f"""
    SELECT TaxYear, FormType,
           CAST(COUNT(*) AS BIGINT) AS n_filings,
           CAST(COUNT(*) FILTER (WHERE IsAvailable) AS BIGINT) AS n_available,
           CAST(COUNT(*) FILTER (WHERE IsElectronic) AS BIGINT) AS n_electronic,
           CAST(COUNT(DISTINCT EIN) AS BIGINT) AS n_orgs
    FROM ({_golden_sql()})
    GROUP BY TaxYear, FormType
    """,
)
def idx_coverage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index coverage report: filings, availability, e-file share, and
    distinct orgs per (TaxYear, FormType) — the first table anyone
    asks of the filing index ('what can I actually build for 2015?').
    One aggregation over the deduped index; the availability and
    e-file counts are conditional aggregates sharing the scan."""
    idx = build_index(spark, _GLOB)
    return idx.groupBy("TaxYear", "FormType").agg(
        F.count(F.lit(1)).cast("long").alias("n_filings"),
        F.sum(F.col("IsAvailable").cast("long")).cast("long").alias("n_available"),
        F.sum(F.col("IsElectronic").cast("long")).cast("long").alias("n_electronic"),
        F.count_distinct("EIN").cast("long").alias("n_orgs"),
    )


@register(
    "idx_yearly_growth",
    oracle=f"""
    WITH yearly AS (
      SELECT TaxYear, CAST(COUNT(*) AS BIGINT) AS n_filings
      FROM ({_golden_sql()})
      GROUP BY TaxYear
    )
    SELECT TaxYear, n_filings,
           LAG(n_filings) OVER (ORDER BY TaxYear) AS prev_filings,
           CASE WHEN LAG(n_filings) OVER (ORDER BY TaxYear) IS NOT NULL
                THEN round(CAST(n_filings AS DOUBLE)
                           / LAG(n_filings) OVER (ORDER BY TaxYear) - 1, 6)
           END AS yoy_growth
    FROM yearly
    """,
)
def idx_yearly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year filing growth from the index: one yearly count
    aggregation, then a lag window over the bounded (one row per tax
    year) frame — the trend table behind capacity planning for the
    next build."""
    from pyspark.sql import Window

    idx = build_index(spark, _GLOB)
    yearly = idx.groupBy("TaxYear").agg(
        F.count(F.lit(1)).cast("long").alias("n_filings")
    )
    # bounded-window: input is the per-TaxYear aggregate (≤ ~30 rows)
    w = Window.orderBy("TaxYear")
    prev = F.lag("n_filings").over(w)
    return yearly.select(
        "TaxYear",
        "n_filings",
        prev.alias("prev_filings"),
        F.when(
            prev.isNotNull(),
            F.round(F.col("n_filings").cast("double") / prev - 1, 6),
        ).alias("yoy_growth"),
    )


@register(
    "idx_pushdown_scan",
    oracle=f"""
    SELECT DISTINCT EIN, TaxPeriod, FormType, ObjectId
    FROM ({_golden_sql()})
    WHERE FormType IN ('990', '990EZ')
      AND ObjectId >= '2014'
      AND IsAvailable IS NOT NULL
    """,
)
def idx_pushdown_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The filtered index scan under the oracle gate: the executor-side
    wholetext + ``from_json`` reader (``read_index_files``) with an
    IN, a range and a null-test predicate over the raw rows, projected
    and deduplicated."""
    return (
        read_index_files(spark, _GLOB)
        .filter(
            F.col("FormType").isin("990", "990EZ")
            & (F.col("ObjectId") >= "2014")
            & F.col("IsAvailable").isNotNull()
        )
        .select("EIN", "TaxPeriod", "FormType", "ObjectId")
        .dropDuplicates()
    )
