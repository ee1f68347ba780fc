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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_PARTITION_COLS = ("TAXYR", "FORMTYPE")


def write_table(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] | None = DEFAULT_PARTITION_COLS,
    mode: str = "overwrite",
) -> None:
    """Partitioned parquet sink (replaces saveRDS, :5136-5148).

    Partition values are preserved as-is; rows whose partition column
    is NULL land in the Hive default partition and round-trip as NULL.

    Dynamic overwrite is set per-write (writer option), never on the
    shared session conf — a session-level set would silently change
    the truncation semantics of every later partitioned overwrite in
    the same session.
    """
    w = df.write.mode(mode).option("partitionOverwriteMode", "dynamic")
    cols = [c for c in (partition_by or ()) if c in df.columns]
    if cols:
        w = w.partitionBy(*cols)
    w.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink (replaces write.csv, :5151-5163). Single-header CSV
    directory; arrays/structs are not CSV-able so flat tables only."""
    df.write.mode(mode).option("header", True).csv(path)


def write_dead_letter(dead: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Dead-letter sink (FAIL_LIST.csv analog, :5096-5101): parquet of
    (url, xml, reason, captured_at) for replay, written by
    :func:`write_table` partitioned by ``_batch``.

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


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: tuple[str, ...] = (),
) -> int:
    """Small-file compaction: rewrite a parquet table so each output
    file approaches ``target_file_bytes``. Returns the file count
    written.

    The reference's chunked build (BUILD_SCRIPTS/README.md:294-355)
    emits one output per chunk; an incremental/streaming build emits
    one per micro-batch. At 100 TB that accretes millions of KB-sized
    files and scan planning — not I/O — becomes the bottleneck (one
    footer read + one task per file). Compaction is the standing
    maintenance job.

    Unpartitioned tables rewrite with a round-robin repartition sized
    from the on-disk bytes (no keys, so no skew). Partitioned tables
    compact PER PARTITION: each partition directory's byte total sets
    its own file count (a global round-robin would scatter every
    partition's rows across every task and re-fragment the layout into
    up-to-n files per partition value), implemented as one shuffle on
    (partition cols, deterministic hash salt mod that partition's file
    count).

    The swap is rename-ordered (write tmp sibling → rename live dir
    aside → rename tmp in → delete old), so on a POSIX filesystem each
    step is atomic and the table is absent only between the two
    renames — microseconds, and crash-recoverable since both old and
    new data still exist under sibling names. BEST-EFFORT, not a
    transaction: a reader that lists the directory inside that window
    fails and retries; true atomicity needs a table format with a
    metadata pointer (Delta/Iceberg)."""
    import math
    import os
    import shutil
    from pathlib import Path

    p = Path(path)
    data_files = [f for f in p.rglob("*.parquet") if f.is_file()]
    df = spark.read.parquet(path)
    pcols = [c for c in partition_by if c in df.columns]
    tmp = p.with_name(p.name + "._compacting")
    if not pcols:
        total_bytes = sum(f.stat().st_size for f in data_files)
        n_files = max(1, math.ceil(total_bytes / target_file_bytes))
        df.repartition(n_files).write.mode("overwrite").parquet(str(tmp))
    else:
        # per-partition byte totals from the hive directory layout
        sizes: dict[tuple[str, ...], int] = {}
        for f in data_files:
            key = tuple(
                part.split("=", 1)[1]
                for part in f.relative_to(p).parts
                if "=" in part
            )
            sizes[key] = sizes.get(key, 0) + f.stat().st_size
        plan_rows = [
            (*k, max(1, math.ceil(b / target_file_bytes)))
            for k, b in sizes.items()
        ]
        n_files = sum(r[-1] for r in plan_rows)
        plan = spark.createDataFrame(
            plan_rows, [*(f"_p_{c}" for c in pcols), "_nf"]
        )
        # join the per-partition file budget on the hive-encoded string
        # values, then salt deterministically (hash of the non-partition
        # payload) so each partition value fans into exactly its budget
        cond = [
            F.col(c).cast("string").eqNullSafe(F.col(f"_p_{c}"))
            for c in pcols
        ]
        payload = [c for c in df.columns if c not in pcols]
        salted = (
            df.join(F.broadcast(plan), cond)
            .withColumn(
                "_salt", F.pmod(F.abs(F.hash(*payload)), F.col("_nf"))
            )
            .repartition(n_files, *pcols, F.col("_salt"))
            .drop("_nf", "_salt", *[f"_p_{c}" for c in pcols])
        )
        salted.write.mode("overwrite").partitionBy(*pcols).parquet(str(tmp))
    bak = p.with_name(p.name + "._precompact")
    os.rename(p, bak)
    os.rename(tmp, p)
    shutil.rmtree(bak)
    return n_files
