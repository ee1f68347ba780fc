"""Table sinks — the Spark replacement for the reference's per-chunk
saveRDS/write.csv outputs (build_efile_database_functions.R:5136-5163)
and its manual chunk/restart bookkeeping (BUILD_SCRIPTS/README.md:
294-355).

Partitioned parquet with DYNAMIC partition overwrite is the scale
design: re-running a year's build atomically replaces exactly that
year's partitions (idempotent restart — the chunk/redo list becomes a
no-op), and every downstream read prunes on tax_year/form_type.
"""

from __future__ import annotations

from functools import reduce
from operator import and_, or_

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

DEFAULT_PARTITION_COLS = ("TAXYR", "FORMTYPE")


def write_table(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] | None = DEFAULT_PARTITION_COLS,
    mode: str = "overwrite",
) -> int:
    """Partitioned parquet sink (replaces saveRDS, :5136-5148). Returns
    the number of rows written.

    Partition values are preserved as-is; rows whose partition column
    is NULL land in the Hive default partition and round-trip as NULL.
    Partition columns the frame lacks are dropped from ``partition_by``.

    File layout is decided here and nowhere else, by one rule: the
    frame is rebalanced on its partition columns (round-robin when it
    has none) and AQE sizes the write tasks (``RebalancePartitions``).
    Every row of one partition value goes to one write task, so a
    partition directory gets one file, split only when it outgrows
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes``. AQE coalesces
    the small shuffle partitions: while
    ``spark.sql.adaptive.coalescePartitions.parallelismFirst`` holds
    (Spark's default) it keeps up to the default parallelism of tasks
    of at least ``coalescePartitions.minPartitionSize``, else it packs
    them to the advisory size. The stage feeding the rebalance keeps
    its input's partitioning, so a write never narrows the scan or the
    parse upstream of it.

    Rows are counted DURING the write by an ``Observation`` above the
    rebalance, not by a second scan.

    Dynamic overwrite is set per-write (writer option), never on the
    shared session conf — a session-level set would silently change
    the truncation semantics of every later partitioned overwrite in
    the same session.
    """
    cols = [c for c in (partition_by or ()) if c in df.columns]
    obs = Observation()
    counted = df.hint("rebalance", *cols).observe(obs, F.count(F.lit(1)).alias("n"))
    w = counted.write.mode(mode).option("partitionOverwriteMode", "dynamic")
    if cols:
        w = w.partitionBy(*cols)
    w.parquet(path)
    return int(obs.get["n"])


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink (replaces write.csv, :5151-5163). Single-header CSV
    directory; arrays/structs are not CSV-able so flat tables only.
    Its files are sized by :func:`write_table`'s rule: a round-robin
    rebalance that AQE sizes."""
    df.hint("rebalance").write.mode(mode).option("header", True).csv(path)


def write_dead_letter(dead: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Dead-letter sink (FAIL_LIST.csv analog, :5096-5101): parquet of
    (url, xml, reason, captured_at) for replay, written by
    :func:`write_table` partitioned by ``_batch``, so its files are
    sized by the same rule as the tables' (one file per ``_batch``
    directory, or round-robin sized by AQE when unpartitioned).

    A frame without ``_batch`` (the batch build, ``fetch_to_bundle``)
    is written unpartitioned, overwrite-per-run, so the DEAD-LETTER
    table honors the same idempotent-restart guarantee as the data
    tables (a re-run of build_database must not accumulate duplicate
    dead rows); pass mode='append' to accumulate across distinct
    corpora instead. A streaming micro-batch's frame carries
    ``_batch``, so a retried batch replaces only its own partition."""
    write_table(
        dead.withColumn("captured_at", F.current_timestamp()),
        path,
        partition_by=("_batch",),
        mode=mode,
    )


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Re-read a sink table; the glob-concat chunk re-reader
    (bind_data, BUILD_SCRIPTS/README.md:388-409) is just this scan —
    parquet directories ARE the concatenation.

    Partition values come back exactly as written (the all-string
    output model): type inference is off while the relation resolves,
    which is when Spark infers the partition columns, and the caller's
    setting is restored before returning."""
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    before = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        return spark.read.parquet(path)
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def upsert_partitions(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: tuple[str, ...],
    partition_by: tuple[str, ...] = DEFAULT_PARTITION_COLS,
) -> None:
    """Merge-by-partition-rewrite: upsert ``updates`` into an existing
    partitioned table — the amended-filing story (an IRS correction
    replaces the prior version of that return; the reference's only
    recourse is a full rebuild of the year).

    Mechanics, one pass whose cost follows the update batch:

    - ``updates`` is evaluated once: it is cached, and one driver
      ``collect`` of its partition and key columns fills the cache;
    - the table is read with literal predicates: a null-safe match on
      the batch's partition values (pruned at planning, so untouched
      partitions' files are never read or rewritten; the Hive default
      partition, read back as NULL, matches a NULL value) and a
      predicate that drops the batch's keys (a NULL key never matches,
      so an existing row with a NULL key is kept);
    - the kept rows and the updates are written once by
      :func:`write_table`'s dynamic partition overwrite. Its tasks
      write under ``.spark-staging-*`` and each affected partition is
      swapped in at job commit, after every read task has finished; a
      failed job leaves the table as it was.

    The batch is DRIVER-SIZED: its partition values and keys are
    collected and become literals in the read. A year-sized reload
    goes through ``jobs.build_database``.

    Every ``key_cols`` and ``partition_by`` name must be a column of
    both the table and ``updates``, else ``ValueError``; both must be
    non-empty (an unpartitioned overwrite would replace the table it
    reads)."""
    existing = read_table(spark, path)
    missing = [
        c
        for c in (*key_cols, *partition_by)
        if c not in existing.columns or c not in updates.columns
    ]
    if missing or not key_cols or not partition_by:
        raise ValueError(
            f"upsert_partitions: key_cols {list(key_cols)} and partition_by "
            f"{list(partition_by)} must be non-empty columns of both the "
            f"table at {path} and the updates; missing: {missing}"
        )
    batch = updates.select(*existing.columns).persist()
    try:
        n = len(partition_by)
        rows = batch.select(*partition_by, *key_cols).collect()
        if not rows:
            return
        parts = {tuple(r[:n]) for r in rows}
        # a key tuple holding a NULL matches nothing, as in a join
        keys = {tuple(r[n:]) for r in rows if None not in r[n:]}
        affected = reduce(
            or_,
            (
                reduce(and_, (F.col(c).eqNullSafe(v) for c, v in zip(partition_by, p)))
                for p in parts
            ),
        )
        types = {c: existing.schema[c].dataType for c in key_cols}
        updated = F.struct(*key_cols).isin(
            [
                F.struct(*(F.lit(v).cast(types[c]).alias(c) for c, v in zip(key_cols, k)))
                for k in keys
            ]
        )
        keep = existing.where(affected & ~updated)
        write_table(keep.unionByName(batch), path, partition_by=partition_by)
    finally:
        batch.unpersist()


def write_stata(df: DataFrame, path: str, version: int = 118) -> None:
    """Stata .dta export of a bounded table — the reference ships its
    index as Stata/SPSS alongside CSV (Build-Efiler-Index.md:170-193,
    via haven::write_dta). Stata files are single-file, non-splittable
    containers, so this is a DRIVER-side export for index-scale data
    (millions of rows), not a distributed sink — the distributed
    formats are parquet/CSV; this exists for parity with the
    reference's downstream-stats-user story."""
    import pandas as pd  # noqa: F401 — to_stata ships with pandas

    pdf = df.toPandas()
    pdf.to_stata(path, write_index=False, version=version)


def write_spss(df: DataFrame, path: str) -> None:
    """SPSS .sav export of a bounded table — completes the reference's
    index export trio (Build-Efiler-Index.md:170-193 ships CSV, Stata,
    AND SPSS via haven::write_sav). Like ``write_stata``, .sav is a
    single-file non-splittable container, so this is a driver-side
    export for index-scale data, not a distributed sink.

    Gated on ``pyreadstat`` (the pandas-ecosystem .sav writer): absent
    in this container, so the call degrades to a clear
    NotImplementedError naming the dependency rather than a stub that
    pretends to succeed."""
    pdf = df.toPandas()
    try:
        import pyreadstat
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise NotImplementedError(
            "SPSS export requires the 'pyreadstat' package "
            "(pip install pyreadstat); CSV and Stata exports are "
            "dependency-free alternatives"
        ) from exc
    pyreadstat.write_sav(pdf, path)
