"""Filing-index source — the Spark equivalent of the reference's
``buildIndex`` (build_efile_database_functions.R:54-89): fetch yearly
``index_<year>.json`` files, concatenate, dedupe, derive TaxYear.

Scale design: the yearly index files (~25 MB each, one wrapped JSON
object ``{"Filings<year>": [entry, ...]}``) are parsed on executors —
one task per file via a wholetext read + ``F.from_json`` with a MAP
root (the wrapping key varies per year, so a fixed struct schema can't
name it). Everything downstream is columnar; the dedup is the only
shuffle and runs on the full row hash. This is the engine's only
index reader, and reading writes nothing into the index directory.

Schema per Build-Efiler-Index.md:7-20 (strings + the live index's
IsElectronic/IsAvailable booleans, :18-19).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

INDEX_ENTRY = T.StructType(
    [
        T.StructField("EIN", T.StringType()),
        T.StructField("TaxPeriod", T.StringType()),
        T.StructField("DLN", T.StringType()),
        T.StructField("FormType", T.StringType()),
        T.StructField("URL", T.StringType()),
        T.StructField("OrganizationName", T.StringType()),
        T.StructField("SubmittedOn", T.StringType()),
        T.StructField("ObjectId", T.StringType()),
        T.StructField("LastUpdated", T.StringType()),
        T.StructField("IsElectronic", T.BooleanType()),
        T.StructField("IsAvailable", T.BooleanType()),
    ]
)

_MAP_SCHEMA = T.MapType(T.StringType(), T.ArrayType(INDEX_ENTRY))


def read_index_files(spark: SparkSession, path_glob: str) -> DataFrame:
    """One row per filing from yearly wrapped-JSON index files."""
    from .xml_source import expand_glob

    raw = spark.read.text(expand_glob(spark, path_glob), wholetext=True)
    return (
        raw.select(F.explode(F.from_json("value", _MAP_SCHEMA)).alias("k", "filings"))
        .select(F.explode("filings").alias("f"))
        .select("f.*")
    )


def with_tax_year(index: DataFrame) -> DataFrame:
    """TaxYear derivation (:81-84): the filing year is the TaxPeriod
    year minus one, unless the accounting year ends in December."""
    yr = F.substring("TaxPeriod", 1, 4).cast("int")
    month = F.substring("TaxPeriod", 5, 2)
    return index.withColumn(
        "TaxYear", F.when(month == "12", yr).otherwise(yr - 1)
    )


def build_index(spark: SparkSession, path_glob: str) -> DataFrame:
    """buildIndex analog: scan → distinct → TaxYear (:54-89). A pure
    read: the index directory is left exactly as it was."""
    return with_tax_year(read_index_files(spark, path_glob).dropDuplicates())


def build_index_from_urls(
    spark: SparkSession,
    urls: list[str],
    retries: int = 2,
    ca_file: str | None = None,
    save_dir: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """buildIndex over an OBJECT STORE: the reference fetches each
    yearly index straight from S3 over HTTPS
    (build_efile_database_functions.R:54-68); this is that path with
    the fetch on executors — each index URL downloads in its own task
    via the engine's retrying fetcher (any urllib scheme: https, a
    presigned s3 URL, file://), then flows through the IDENTICAL
    wrapped-JSON parse and TaxYear derivation as the file-glob reader.

    Returns (index, failures): a failed year becomes dead-letter rows
    (url, error), never an abort — the reference's try()/FAIL_LIST
    bookkeeping (:5047-5101) as data. Callers that require all years
    assert ``failures.isEmpty()``.

    ``save_dir``: also persist each successfully fetched index file
    locally under its URL basename, so a later ``build_index`` can
    re-read the year without fetching it again. Files stream through
    ``toLocalIterator`` (one ~25 MB yearly file in driver memory at a
    time, never the whole set)."""
    from ..caching import tracked_persist
    from .fetch import fetch_returns

    # persist: the ok/failed splits below would otherwise re-download
    # every index file once per consumer action
    fetched = tracked_persist(
        fetch_returns(
            spark, urls, partitions=len(urls), retries=retries, ca_file=ca_file
        )
    )
    ok = fetched.filter(F.col("error").isNull())
    if save_dir is not None:
        import os
        from urllib.parse import urlparse

        os.makedirs(save_dir, exist_ok=True)
        for row in ok.select("url", "xml").toLocalIterator():
            base = os.path.basename(urlparse(row["url"]).path)
            tmp = os.path.join(save_dir, base + ".tmp")
            with open(tmp, "w", encoding="utf-8") as fh:
                fh.write(row["xml"])
            os.replace(tmp, os.path.join(save_dir, base))
    parsed = (
        ok.select(F.explode(F.from_json("xml", _MAP_SCHEMA)).alias("k", "filings"))
        .select(F.explode("filings").alias("f"))
        .select("f.*")
    )
    failures = fetched.filter(F.col("error").isNotNull()).select("url", "error")
    return with_tax_year(parsed.dropDuplicates()), failures


def filter_index(
    index: DataFrame,
    years: list[int] | None = None,
    form_types: tuple[str, ...] | None = ("990", "990EZ"),
    available_only: bool = True,
    eins: DataFrame | None = None,
) -> DataFrame:
    """Index subsetting (P5): the reference's pre-fetch filters
    (:4958, Build-Efiler-Index.md:142-155, BUILD_SCRIPTS/README.md:306).

    ``eins``: an (EIN) DataFrame — applied as a broadcast left-semi
    join (the reference's ``%in%`` membership test at :4958)."""
    out = index
    if years is not None:
        out = out.filter(F.col("TaxYear").isin(years))
    if form_types is not None:
        out = out.filter(F.col("FormType").isin(*form_types))
    if available_only and "IsAvailable" in out.columns:
        out = out.filter(F.col("IsAvailable"))
    if eins is not None:
        out = out.join(F.broadcast(eins.select("EIN")), "EIN", "left_semi")
    return out
