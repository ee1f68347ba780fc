"""Build orchestration — the Spark replacement for the reference's
``buildDatabase`` driver loop (build_efile_database_functions.R:
4938-5177) and ``buildYear`` chunk/restart scaffolding
(BUILD_SCRIPTS/README.md:294-355).

One parameterized job: scan XML → PERMISSIVE parse → all output tables
off ONE cached parse → partitioned idempotent writes + dead-letter.
What the reference does with a 3M-iteration driver loop, manual chunking
into ~1000 parts, try()/redo lists, and per-chunk RDS files is here:

- task-level parallelism over the XML scan (no driver loop);
- PERMISSIVE parse + dead-letter table (no try()/FAIL_LIST);
- dynamic partition overwrite (no chunk/restart bookkeeping — re-running
  a year replaces exactly that year's partitions);
- the multi-year "separate R instances" parallelism (README.md:258) is
  just executor parallelism over one job.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import types as T

from .extract.core_builder import build_core
from .extract.rdb_builder import build_rdb_table
from .extract.schedn_builder import build_schedn_table, schedn_table_names
from .plans.concordance import load_core_spec, master_table_names, table_names
from .sinks import read_table, write_csv, write_dead_letter, write_table
from .sources.index import filter_index
from .sources.xml_source import (
    _bundle_columnar_batch_size,
    bundle_footers,
    read_return_bundle,
    read_return_xml_files,
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


def _all_builders():
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
    # runtime-registered location): buildable via tables=[...] but NOT
    # in the default build set — the default stays at reference parity
    # (CORE + PartVII + SchedJ + SchedN, :5135-5163)
    for t in master_table_names():
        builders[t] = (lambda r, _t=t: build_rdb_table(r, _t), ("TAXYR", "FORMTYPE"))
    return builders


def _default_tables() -> list[str]:
    return (
        ["CORE"] + list(table_names()) + list(schedn_table_names())
    )


# above this UNCOMPRESSED source size, auto write_concurrency
# serializes table writes: the r12 overlap A/B measured 2.05x at
# 46 MB, 1.31x at a 1.1 GB filing year, 0.88x at the 15.4 GB
# realistic corpus — all in raw (uncompressed) XML cell bytes, the
# unit that governs the parse/write volume. 8 GiB sits safely past
# every measured win and below the measured loss. NOTE the unit: the
# 15.4 GB corpus is only ~1 GB on disk (snappy ~16x on the narrative
# text), so an on-disk threshold would never fire for the exact
# corpus that measured the loss — bundle estimates are rescaled to
# uncompressed via the first part-file's footer ratio below.
_OVERLAP_SERIAL_BYTES = 8 << 30


def _bundle_uncompressed_ratio(bundle_path: str) -> float | None:
    """Uncompressed/compressed ratio from LOCAL part-file parquet
    footers (``sources.xml_source.bundle_footers``, shared with
    ``_bundle_columnar_batch_size``); None when no local footer is
    readable (object store) — the on-disk size then stands as a LOWER
    bound on uncompressed.

    Samples up to three part files
    (first/middle/last in sorted order) summing raw and compressed
    bytes across the sample — a byte-weighted ratio — so one
    unrepresentative part file can't swing the 8 GiB overlap/serial
    decision on a heterogeneous bundle."""
    try:
        footers = bundle_footers(
            bundle_path,
            lambda parts: sorted({parts[0], parts[len(parts) // 2], parts[-1]}),
        )
        raw = comp = 0
        for meta in footers:
            for g in range(meta.num_row_groups):
                rg = meta.row_group(g)
                raw += rg.total_byte_size
                for c in range(rg.num_columns):
                    comp += rg.column(c).total_compressed_size
        return raw / comp if comp > 0 else None
    except Exception:  # noqa: BLE001
        return None


def _estimate_input_bytes(
    spark: SparkSession,
    xml_glob: str | list[str] | None,
    bundle_path: str | None,
) -> int | None:
    """Best-effort UNCOMPRESSED size of the build source. Raw-XML glob
    matches are already uncompressed — their Hadoop-FS sizes (local,
    S3A, HDFS; directories summed recursively) are used directly. A
    parquet bundle's on-disk size is rescaled by the footer-measured
    compression ratio when a local footer is readable; otherwise the
    on-disk size stands as a lower bound (errs toward overlap, whose
    loss case is bounded). None when the filesystem cannot answer —
    callers must treat None as "unknown", not "small"."""
    try:
        sc = spark.sparkContext
        jvm = sc._jvm
        hconf = sc._jsc.hadoopConfiguration()

        if bundle_path is not None:
            jpath = jvm.org.apache.hadoop.fs.Path(bundle_path)
            fs = jpath.getFileSystem(hconf)
            disk = fs.getContentSummary(jpath).getLength()
            ratio = _bundle_uncompressed_ratio(bundle_path)
            return int(disk * ratio) if ratio is not None else disk
        total = 0
        globs = [xml_glob] if isinstance(xml_glob, str) else list(xml_glob)
        matched = False
        for g in globs:
            jpath = jvm.org.apache.hadoop.fs.Path(g)
            fs = jpath.getFileSystem(hconf)
            statuses = fs.globStatus(jpath)
            if statuses is None:
                continue
            for s in statuses:
                matched = True
                total += (
                    s.getLen()
                    if s.isFile()
                    else fs.getContentSummary(s.getPath()).getLength()
                )
        return total if matched else None
    except Exception:  # noqa: BLE001 — any FS failure means "unknown"
        return None


def _auto_write_concurrency(est_bytes: int | None, n_tables: int) -> int:
    """Size-adaptive default for ``build_database(write_concurrency=
    None)``: serialize once the source is big enough that per-table
    writes are bandwidth-bound (overlap then only adds commit-path
    contention — measured 0.88x at 15.4 GB uncompressed), overlap the
    fixed job-setup/commit latency below that (measured 2.05x at
    small sizes). Unknown size keeps the overlap default: the loss
    case is bounded (-12% measured) while the win case is >2x."""
    if est_bytes is not None and est_bytes >= _OVERLAP_SERIAL_BYTES:
        return 1
    return min(8, n_tables or 1)


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
    write_partitions: int | None = 8,
    write_concurrency: int | None = None,
) -> BuildResult:
    """Run the full build: source → parse → N tables → sinks.

    ``index``: optional built index; when given, only documents whose
    ObjectId appears in the (years/form_types-filtered) index are
    processed — the reference's pre-fetch subsetting (:4958) as a
    broadcast semi-join.

    ``write_partitions``: coalesce each output table to this many
    write tasks (None = inherit the parse partitioning). Extraction
    tables are DIMENSION-sized relative to the raw XML (a few hundred
    columns × one row per filing), so writing them at the parse's
    partition count fans out tiny files and pays per-task commit
    latency × #partitions × #tables — measured 3× end-to-end on the
    2000-doc build (10.0 → 3.3 s). On a cluster, size it so output
    files land near the rowgroup sweet spot (~128 MB); coalesce (not
    repartition) keeps the write shuffle-free, at the cost of capping
    the extraction projection's parallelism at the same count —
    acceptable because extraction over the cached parse is cheap and
    N tables write concurrently.

    ``write_concurrency``: cap on concurrently submitted table writes.
    1 serializes the writes — the A/B knob tools/extract_scale.py uses
    to measure what the overlap is worth at a given corpus size. None
    (the default) is size-adaptive: overlap pays when per-table writes
    are LATENCY-dominated and stops paying once they are
    bandwidth-bound (measured r12 A/B: 2.05x at a 20k-doc build,
    1.31x at a 1.1 GB filing year, 0.88x — a net loss — at a 15.4 GB
    realistic corpus), so auto mode serializes when the source
    exceeds ~8 GiB UNCOMPRESSED (raw-XML globs measured directly via
    Hadoop FS — local, S3A, HDFS; parquet bundles rescaled from
    on-disk size by the footer compression ratio) and otherwise
    overlaps at min(8, #tables); an unstatable source keeps the
    overlap default (see :func:`_auto_write_concurrency`).
    """
    if (xml_glob is None) == (bundle_path is None):
        raise ValueError("exactly one of xml_glob / bundle_path required")
    if write_concurrency is not None and write_concurrency < 1:
        raise ValueError(
            "write_concurrency must be >= 1 (or None for the "
            f"auto default), got {write_concurrency}"
        )
    builders = _all_builders()
    selected = tables if tables is not None else _default_tables()
    # auto-register BEFORE the source read: a requested table that is
    # not a concordance / Schedule N / registered slice may name a
    # master-concordance LOCATION directly (the `register` CLI
    # advertises exactly this workflow, and registrations are
    # per-process). Registration clears the cached superset parse
    # schema, so it must precede read_return_xml_files — the slice's
    # xpaths have to be in the parse struct.
    for t in selected:
        if t not in builders:
            from .plans.concordance import (
                register_catalog_many_table,
                register_master_table,
            )

            try:
                if t.startswith("MC-"):
                    # derived-catalog MANY slice by canonical name
                    # (MC-<LOCATION>[-MANY]): group roots come from
                    # metadata/master_many_catalog.json — no
                    # hand-declared group_roots needed
                    loc = t[3:-5] if t.endswith("-MANY") else t[3:]
                    register_catalog_many_table(loc, table_name=t)
                else:
                    register_master_table(t)
            except KeyError:
                known = ", ".join(sorted(builders))
                raise KeyError(
                    f"unknown table {t!r}: not a buildable table, a "
                    "master-concordance LOCATION, or a derived-catalog "
                    f"MANY slice (MC-<LOCATION>) (known: {known})"
                ) from None
            builders[t] = (
                lambda r, _t=t: build_rdb_table(r, _t),
                ("TAXYR", "FORMTYPE"),
            )
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

    ok, dead = split_corrupt(returns)
    ok = ok.persist()
    try:
        result = BuildResult()
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.sql import Observation

        def write_one(name: str) -> tuple[str, str, int]:
            build, part_cols = builders[name]
            df = build(ok)
            if write_partitions:
                df = df.coalesce(write_partitions)
            path = f"{out_dir.rstrip('/')}/{name}"
            # count DURING the write (Observation) instead of a second
            # scan per table; an empty partitioned write leaves no
            # schema on disk, so the (rare, cheap) empty case rewrites
            # unpartitioned to stay readable
            obs = Observation()
            write_table(
                df.observe(obs, F.count(F.lit(1)).alias("n")),
                path,
                partition_by=part_cols,
            )
            n = int(obs.get["n"])
            if n == 0:
                write_table(df, path, partition_by=None)
            if csv:
                write_csv(df, f"{path}-csv")
            return name, path, n

        # per-table writes are independent jobs over the ONE cached
        # parse (distinct output paths; the BlockManager's per-partition
        # locks make concurrent cache fills compute each parse partition
        # once) — submitting them concurrently overlaps their fixed
        # job-setup/commit latency, the dominant cost of small builds;
        # on a real cluster it also keeps executors fed between commits
        # submit + as_completed (not ex.map): one table's failure must
        # not propagate while sibling writes are mid-flight — collect
        # per-table errors, cancel not-yet-started writes, let running
        # ones drain, then raise ONE attributed error after the pool
        # has fully quiesced (so the finally-unpersist never races a
        # live job)
        from concurrent.futures import as_completed

        failures: dict[str, Exception] = {}
        workers = (
            write_concurrency
            if write_concurrency is not None
            else _auto_write_concurrency(
                _estimate_input_bytes(spark, xml_glob, bundle_path),
                len(selected),
            )
        )
        with ThreadPoolExecutor(max_workers=workers) as ex:
            futs = {ex.submit(write_one, name): name for name in selected}
            for fut in as_completed(futs):
                if fut.cancelled():
                    # a QUEUED sibling we cancelled after the first
                    # failure — it never ran; reporting it as failed
                    # would bury the root cause in CancelledError noise
                    continue
                try:
                    name, path, n = fut.result()
                except Exception as e:  # noqa: BLE001 — attributed below
                    failures[futs[fut]] = e
                    for other in futs:
                        other.cancel()
                else:
                    result.tables[name] = path
                    result.rows[name] = n
        if failures:
            detail = "; ".join(
                f"{t}: {type(e).__name__}: {e}" for t, e in sorted(failures.items())
            )
            done = ", ".join(sorted(result.tables)) or "none"
            raise RuntimeError(
                f"build failed for table(s) [{detail}] — completed tables "
                f"({done}) are written and idempotently re-buildable"
            ) from next(iter(failures.values()))

        dl_path = f"{out_dir.rstrip('/')}/DEAD-LETTER"
        result.dead_rows = dead.count()
        if result.dead_rows:
            write_dead_letter(dead, dl_path)
            result.dead_letter_path = dl_path
        return result
    finally:
        ok.unpersist()


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

    Exactly-once: each micro-batch is ONE parse feeding all tables
    (``foreachBatch``), and every table write is partitioned by
    ``(*table_partitions, _batch)`` with dynamic partition overwrite —
    a retried batch atomically replaces its own ``_batch`` partitions
    instead of appending duplicates. Read the result with
    ``read_incremental_table`` (drops the bookkeeping column).

    ``rows``/``dead_rows`` count documents processed by THIS run (a
    catch-up run over an already-current landing dir reports 0).
    """
    from pyspark.sql import Observation

    builders = _all_builders()
    selected = tables if tables is not None else _default_tables()
    out = out_dir.rstrip("/")
    result = BuildResult()
    for name in selected:
        result.tables[name] = f"{out}/{name}"

    def process(batch: DataFrame, batch_id: int) -> None:
        ok, dead = split_corrupt(with_parsed_return(batch))
        ok = ok.persist()
        try:
            for name in selected:
                build, part_cols = builders[name]
                df = build(ok).withColumn("_batch", F.lit(batch_id))
                obs = Observation()
                write_table(
                    df.observe(obs, F.count(F.lit(1)).alias("n")),
                    result.tables[name],
                    partition_by=(*part_cols, "_batch"),
                )
                result.rows[name] = result.rows.get(name, 0) + int(obs.get["n"])
            dl = dead.withColumn("_batch", F.lit(batch_id)).withColumn(
                "captured_at", F.current_timestamp()
            )
            n_dead = dl.count()
            if n_dead:
                result.dead_letter_path = f"{out}/DEAD-LETTER"
                write_table(dl, result.dead_letter_path, partition_by=("_batch",))
                result.dead_rows += n_dead
        finally:
            ok.unpersist()

    # the streaming file source uses the SAME vectorized parquet reader
    # as the batch path, so a realistic-size landing bundle (150 KB
    # cells) would re-introduce the r12 OOM (4096-row batches x cell
    # bytes x concurrent scan tasks) if the batch-size fix stayed
    # confined to read_return_bundle — size it from the landing dir's
    # measured row width before the stream starts (VERDICT r12 #5)
    batch_size = _bundle_columnar_batch_size(landing_dir)
    if batch_size is not None:
        spark.conf.set(
            "spark.sql.parquet.columnarReaderBatchSize", batch_size
        )
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
    q.awaitTermination()
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
    surface as downstream NA storms); here the checks run as a handful
    of count aggregations over the partitioned parquet, so the gate
    costs one scan per table at any scale. Checks:

    - core_ein_format: EIN must be 9 digits
    - core_url_unique: URL is the document key — no duplicates
    - core_fisyr_range: fiscal year within the e-file program's history
    - core_formtype_known: FORMTYPE is one of the program's forms
    """
    core = read_table(spark, f"{out_dir}/CORE")
    checks: dict[str, int] = {}
    checks["core_ein_format"] = core.filter(
        ~F.col("EIN").rlike(r"^\d{9}$")
    ).count()
    checks["core_url_unique"] = (
        core.groupBy("URL").count().filter(F.col("count") > 1).count()
    )
    checks["core_fisyr_range"] = core.filter(
        (F.col("FISYR").cast("int") < 2009) | (F.col("FISYR").cast("int") > 2035)
    ).count()
    checks["core_formtype_known"] = core.filter(
        ~F.col("FORMTYPE").isin("990", "990EZ", "990PF")
    ).count()
    return checks
