"""Build orchestration — the Spark replacement for the reference's
``buildDatabase`` driver loop (build_efile_database_functions.R:
4938-5177) and ``buildYear`` chunk/restart scaffolding
(BUILD_SCRIPTS/README.md:294-355).

One parameterized job: scan XML → PERMISSIVE parse → all output tables
off ONE cached parse → partitioned idempotent writes + dead-letter.
Both builds run the same per-batch write step (``_write_batch``):
``build_database`` once over the whole source, and
``build_database_incremental`` once per streaming micro-batch.
What the reference does with a 3M-iteration driver loop, manual chunking
into ~1000 parts, try()/redo lists, and per-chunk RDS files is here:

- task-level parallelism over the XML scan (no driver loop);
- PERMISSIVE parse + dead-letter table (no try()/FAIL_LIST);
- dynamic partition overwrite (no chunk/restart bookkeeping — re-running
  a year replaces exactly that year's partitions);
- files sized by bytes, not one per chunk: ``sinks.write_table`` is the
  only code that decides file layout. It rebalances every table on its
  partition columns and AQE sizes the write, so each partition
  directory (per micro-batch) gets one file until it outgrows the
  advisory partition size; no task count is set here;
- the multi-year "separate R instances" parallelism (README.md:258) is
  just executor parallelism over one job.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor, as_completed
from dataclasses import dataclass, field

from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .extract.core_builder import build_core
from .extract.rdb_builder import build_rdb_table
from .extract.schedn_builder import build_schedn_table, schedn_table_names
from .plans.concordance import (
    load_core_spec,
    master_table_names,
    register_catalog_many_table,
    register_master_table,
    table_names,
)
from .sinks import read_table, write_csv, write_dead_letter, write_table
from .sources.index import filter_index
from .sources.xml_source import (
    read_return_bundle,
    read_return_xml_files,
    set_reader_batch_size,
    split_corrupt,
    with_parsed_return,
)

BUNDLE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("xml", T.StringType()),
    ]
)


@dataclass
class BuildResult:
    tables: dict[str, str] = field(default_factory=dict)  # name -> path
    rows: dict[str, int] = field(default_factory=dict)
    dead_letter_path: str | None = None
    dead_rows: int = 0


def _all_builders(selected: list[str]) -> dict[str, tuple]:
    """Every buildable table's (builder, partition columns), with each
    name in *selected* resolved. A selected name that is not a
    concordance / Schedule N / registered slice may name a
    master-concordance LOCATION or a derived-catalog MANY slice
    (``MC-<LOCATION>[-MANY]``) directly; it is registered here.

    Both builds call this BEFORE their source read or stream start:
    registration clears the cached superset parse schema, so the
    slice's xpaths have to be registered before the parse. A name
    given twice is refused: its two writes would overwrite one path at
    once."""
    repeated = sorted({t for t in selected if selected.count(t) > 1})
    if repeated:
        raise ValueError(f"tables named more than once: {', '.join(repeated)}")
    known = {"CORE", *table_names(), *schedn_table_names(), *master_table_names()}
    for t in selected:
        if t in known:
            continue
        try:
            if t.startswith("MC-"):
                # group roots come from metadata/master_many_catalog.json
                loc = t[3:-5] if t.endswith("-MANY") else t[3:]
                register_catalog_many_table(loc, table_name=t)
            else:
                register_master_table(t)
        except KeyError:
            raise KeyError(
                f"unknown table {t!r}: not a buildable table, a "
                "master-concordance LOCATION, or a derived-catalog "
                f"MANY slice (MC-<LOCATION>) (known: {', '.join(sorted(known))})"
            ) from None
    core_cols = list(dict.fromkeys(load_core_spec()["columns"]))
    builders: dict[str, tuple] = {
        # CORE partitions on FISYR (its tax-year column); writing needs
        # unique column names so the namedList's faithful ORGDISSOLVED
        # dup is dropped here
        "CORE": (lambda r: build_core(r, columns=core_cols), ("FISYR", "FORMTYPE"))
    }
    for t in table_names():
        builders[t] = (lambda r, _t=t: build_rdb_table(r, _t), ("TAXYR", "FORMTYPE"))
    for t in schedn_table_names():
        builders[t] = (
            lambda r, _t=t: build_schedn_table(r, _t),
            ("FISYR", "FORMTYPE"),
        )
    # registered master-concordance slices (Schedule A, 990PF, any
    # runtime-registered location, the ones registered above): buildable
    # via tables=[...] but NOT in the default build set — the default
    # stays at reference parity (CORE + PartVII + SchedJ + SchedN,
    # :5135-5163)
    for t in master_table_names():
        builders[t] = (lambda r, _t=t: build_rdb_table(r, _t), ("TAXYR", "FORMTYPE"))
    return builders


def _default_tables() -> list[str]:
    return (
        ["CORE"] + list(table_names()) + list(schedn_table_names())
    )


def _exists(spark: SparkSession, path: str) -> bool:
    """Whether *path* exists, asked through the Hadoop FS API (local,
    S3A, HDFS) like ``sources.xml_source.expand_glob``."""
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    return jpath.getFileSystem(hconf).exists(jpath)


def _write_batch(
    returns: DataFrame,
    out_dir: str,
    tables: list[str],
    builders: dict[str, tuple],
    result: BuildResult,
    batch_id: int | None = None,
    csv: bool = False,
) -> None:
    """The one per-batch write step of both builds: the parsed
    *returns* → every table in *tables* + the dead letters, with this
    batch's paths and counts added to *result*.

    The parse is persisted ONCE, before ``split_corrupt``, so the
    tables and the dead letters all read the cached parse (the XML is
    parsed once per batch). Table writes are independent jobs over
    that cache (distinct output paths; the BlockManager's
    per-partition locks make concurrent cache fills compute each
    parse partition once), submitted to one pool so their fixed
    job-setup/commit latency overlaps. The file layout is
    ``write_table``'s one rule: each table is rebalanced on its
    partition columns and AQE sizes the write tasks, so a partition
    directory gets one file per batch; the stage that fills the parse
    cache runs one task per input partition. ``write_table`` also
    returns the rows it wrote, counted during the write.

    ``batch_id`` (micro-batches) adds the ``_batch`` column. Every
    write partitions by ``(*table partitions, "_batch")`` and
    ``write_table`` drops partition columns the frame lacks, so the
    batch build writes without it and a retried micro-batch replaces
    only its own ``_batch`` partitions.

    An empty partitioned write leaves no schema on disk, so an empty
    table is written as one zero-row unpartitioned file — but only
    when the table path did not exist before: an unpartitioned
    overwrite is STATIC and would delete every earlier partition.

    On the first failed table the queued writes are cancelled, the
    running ones drain, and ONE ``RuntimeError`` names the failed and
    the completed tables (raised after the pool has quiesced, so the
    unpersist never races a live job)."""
    out = out_dir.rstrip("/")
    spark = returns.sparkSession

    def tag(df: DataFrame) -> DataFrame:
        return df if batch_id is None else df.withColumn("_batch", F.lit(batch_id))

    returns = returns.persist()
    try:
        ok, dead = split_corrupt(returns)

        def write_one(name: str) -> tuple[str, int]:
            build, part_cols = builders[name]
            df = tag(build(ok))
            path = f"{out}/{name}"
            existed = _exists(spark, path)
            n = write_table(df, path, partition_by=(*part_cols, "_batch"))
            if n == 0 and not existed:
                write_table(df, path, partition_by=None)
            if csv:
                write_csv(df, f"{path}-csv")
            return path, n

        # submit + as_completed (not ex.map): one table's failure must
        # not propagate while sibling writes are mid-flight
        done: dict[str, tuple[str, int]] = {}
        failures: dict[str, Exception] = {}
        with ThreadPoolExecutor(min(8, len(tables)) or 1) as ex:
            futs = {ex.submit(write_one, name): name for name in tables}
            for fut in as_completed(futs):
                if fut.cancelled():
                    # a QUEUED sibling cancelled after the first failure
                    # never ran; reporting it would bury the root cause
                    continue
                try:
                    done[futs[fut]] = fut.result()
                except Exception as e:  # noqa: BLE001 — attributed below
                    failures[futs[fut]] = e
                    for other in futs:
                        other.cancel()
        if failures:
            detail = "; ".join(
                f"{t}: {type(e).__name__}: {e}" for t, e in sorted(failures.items())
            )
            completed = ", ".join(sorted(done)) or "none"
            raise RuntimeError(
                f"build failed for table(s) [{detail}] — completed tables "
                f"({completed}) are written and idempotently re-buildable"
            ) from next(iter(failures.values()))
        for name in tables:
            path, n = done[name]
            result.tables[name] = path
            result.rows[name] = result.rows.get(name, 0) + n

        n_dead = dead.count()
        if n_dead:
            result.dead_letter_path = f"{out}/DEAD-LETTER"
            write_dead_letter(tag(dead), result.dead_letter_path)
            result.dead_rows += n_dead
    finally:
        returns.unpersist()


def build_database(
    spark: SparkSession,
    out_dir: str,
    xml_glob: str | list[str] | None = None,
    bundle_path: str | None = None,
    index: DataFrame | None = None,
    years: list[int] | None = None,
    form_types: tuple[str, ...] | None = None,
    tables: list[str] | None = None,
    csv: bool = False,
) -> BuildResult:
    """Run the full build: source → parse → N tables → sinks, as ONE
    call of the per-batch write step (:func:`_write_batch`) over the
    whole source.

    ``index``: optional built index; when given, only documents whose
    ObjectId appears in the (years/form_types-filtered) index are
    processed — the reference's pre-fetch subsetting (:4958) as a
    broadcast semi-join.
    """
    if (xml_glob is None) == (bundle_path is None):
        raise ValueError("exactly one of xml_glob / bundle_path required")
    selected = tables if tables is not None else _default_tables()
    builders = _all_builders(selected)
    returns = (
        read_return_xml_files(spark, xml_glob)
        if xml_glob is not None
        else read_return_bundle(spark, bundle_path)
    )
    if index is not None:
        wanted = filter_index(
            index, years=years, form_types=form_types, available_only=True
        ).select(F.col("ObjectId").alias("object_id"))
        returns = returns.join(F.broadcast(wanted), "object_id", "left_semi")

    result = BuildResult()
    _write_batch(returns, out_dir, selected, builders, result, csv=csv)
    return result


def build_database_incremental(
    spark: SparkSession,
    out_dir: str,
    landing_dir: str,
    checkpoint_dir: str,
    tables: list[str] | None = None,
    max_files_per_trigger: int | None = None,
) -> BuildResult:
    """Incremental buildDatabase: a Structured Streaming file source
    watches ``landing_dir`` for new (url, xml) parquet bundles and runs
    the SAME parse → 12-table extraction on exactly the new files.

    This replaces the reference's "rebuild everything every few months"
    cadence (BUILD_SCRIPTS/README.md:260): when the monthly IRS drop
    lands under the prefix, one ``availableNow`` run processes only the
    unseen bundles — the checkpoint's source log is the reference's
    chunk/redo bookkeeping, done by the engine.

    Exactly-once: each micro-batch runs the batch build's per-batch
    write step (:func:`_write_batch`, from ``foreachBatch``) — ONE
    parse feeding all tables — with its batch id, so every table write
    is partitioned by ``(*table_partitions, _batch)`` with dynamic
    partition overwrite: a retried batch atomically replaces its own
    ``_batch`` partitions instead of appending duplicates. Read the result with
    ``read_incremental_table`` (drops the bookkeeping column).

    ``rows``/``dead_rows`` count documents processed by THIS run (a
    catch-up run over an already-current landing dir reports 0).
    """
    selected = tables if tables is not None else _default_tables()
    builders = _all_builders(selected)
    out = out_dir.rstrip("/")
    result = BuildResult()
    for name in selected:
        result.tables[name] = f"{out}/{name}"
    failed: list[RuntimeError] = []

    def process(batch: DataFrame, batch_id: int) -> None:
        try:
            _write_batch(
                with_parsed_return(batch),
                out,
                selected,
                builders,
                result,
                batch_id=batch_id,
            )
        except RuntimeError as e:
            failed.append(e)
            raise

    # the streaming file source uses the SAME vectorized parquet reader
    # as the batch path, so a realistic-size landing bundle (150 KB
    # cells) needs the same adaptive batch size (VERDICT r12 #5)
    set_reader_batch_size(spark, landing_dir)
    reader = spark.readStream.schema(BUNDLE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    q = (
        reader.parquet(landing_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    except StreamingQueryException:
        # the query wraps the batch's error; raise the step's own
        # attributed error instead
        if failed:
            raise failed[0]
        raise
    return result


def read_incremental_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a table written by ``build_database_incremental``, hiding
    the ``_batch`` bookkeeping partition column."""
    return read_table(spark, path).drop("_batch")


def validate_database(spark: SparkSession, out_dir: str) -> dict[str, int]:
    """Post-build data-quality gate (dbt-test style): declarative
    invariants over the written tables, returned as
    {check_name: violation_count} — all zeros means publishable.

    The reference has no automated validation at all (bad documents
    surface as downstream NA storms); here every check is one
    conditional count in ONE action over ONE scan of CORE: a per-URL
    aggregation carries the row checks' counts, and a global sum over
    it adds the duplicate-URL count. Checks:

    - core_ein_format: EIN must be 9 digits
    - core_url_unique: URL is the document key — no duplicates
    - core_fisyr_range: fiscal year within the e-file program's history
    - core_formtype_known: FORMTYPE is one of the program's forms
    """
    core = read_table(spark, f"{out_dir}/CORE")
    fisyr = F.col("FISYR").cast("int")
    row_checks = {
        "core_ein_format": ~F.col("EIN").rlike(r"^\d{9}$"),
        "core_fisyr_range": (fisyr < 2009) | (fisyr > 2035),
        "core_formtype_known": ~F.col("FORMTYPE").isin("990", "990EZ", "990PF"),
    }
    per_url = core.groupBy("URL").agg(
        F.count(F.lit(1)).alias("n"),
        *(F.count_if(bad).alias(name) for name, bad in row_checks.items()),
    )
    totals = per_url.agg(
        F.count_if(F.col("n") > 1).alias("core_url_unique"),
        *(F.sum(name).alias(name) for name in row_checks),
    ).collect()[0]
    names = (
        "core_ein_format",
        "core_url_unique",
        "core_fisyr_range",
        "core_formtype_known",
    )
    # an empty CORE sums to NULL
    return {name: int(totals[name] or 0) for name in names}
