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

from pyspark.sql import Column, DataFrame, SparkSession
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


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] | None = None,
    mode: str = "overwrite",
) -> None:
    """ORC sink: the columnar interchange format for Hive/Trino-side
    consumers (JVM-native writer, zlib block compression, same
    predicate-pushdown/column-pruning story as parquet on re-read)."""
    w = df.write.mode(mode)
    cols = [c for c in (partition_by or ()) if c in df.columns]
    if cols:
        w = w.partitionBy(*cols)
    w.orc(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines export — the interchange format LLM training
    pipelines consume (one JSON object per line, nested columns kept
    as nested JSON, gzip-compressed shards; each output file is an
    independently readable shard so downstream loaders parallelize by
    file)."""
    df.write.mode(mode).option("compression", "gzip").json(path)


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
    parquet directories ARE the concatenation."""
    # keep partition values exactly as written (all-string output model)
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    return spark.read.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: str,
    n_buckets: int = 32,
    sort_by: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed-table sink: pre-shuffles rows into
    ``n_buckets`` files keyed by ``bucket_by``, so every later join or
    aggregation on that key reads co-located buckets with NO exchange.

    This is the pay-once-shuffle-forever path for the 100 TB fact
    tables (the reference has no analog — its chunked RDS files are
    keyed by position): bucketed lineitem ⋈ bucketed orders on
    orderkey is a zero-shuffle sort-merge join (asserted in
    tests/test_operators.py)."""
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, bucket_by)
    if sort_by:
        w = w.sortBy(sort_by)
    w.saveAsTable(table)


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

    Mechanics: only partitions PRESENT in ``updates`` are touched —
    the existing table is semi-joined to the updates' distinct
    partition values (a broadcast join over partition columns, which
    dynamic partition pruning turns into a pruned scan), matched keys
    are dropped (anti-join), and the union is written back with
    dynamic partition overwrite. Untouched partitions' files are never
    read or rewritten, so the cost is proportional to the amended
    partitions, not the table."""
    existing = read_table(spark, path)
    part_cols = [c for c in partition_by if c in updates.columns]
    keys = [c for c in key_cols if c in existing.columns]
    affected = existing.join(
        F.broadcast(updates.select(*part_cols).distinct()), part_cols, "left_semi"
    )
    keep = affected.join(
        F.broadcast(updates.select(*keys).distinct()), keys, "left_anti"
    )
    merged = keep.unionByName(updates.select(*existing.columns))
    # the write overwrites files the plan reads — materialize the
    # merged partitions (executor-local blocks, affected partitions
    # only) and truncate lineage before touching the directory
    merged = merged.localCheckpoint(eager=True)
    write_table(merged, path, partition_by=tuple(part_cols))


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


def write_time_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str,
    mode: str = "overwrite",
) -> None:
    """Time-layout sink: partition directories by the event DATE,
    parquet row groups sorted by the timestamp inside each partition.

    The two-level pruning story for 100 TB event tables: a time-range
    predicate first prunes whole partition directories (Catalyst
    partition pruning — scans never even list the other days), then the
    in-partition sort tightens parquet min/max row-group statistics so
    the remaining files skip non-matching row groups at the footer
    level. Same layout the incremental build writes per `_batch`.
    Dynamic overwrite is a per-write option — no session conf leak."""
    (
        df.withColumn("event_date", F.to_date(F.col(ts_col)))
        .repartition(F.col("event_date"))
        .sortWithinPartitions(ts_col)
        .write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_date")
        .parquet(path)
    )


def write_zordered(
    df: DataFrame,
    path: str,
    cols: tuple[str, str],
    bits: int = 10,
    n_files: int = 16,
    mode: str = "overwrite",
) -> None:
    """Z-order clustered parquet: rows sorted by the interleaved-bit
    (Morton) code of two columns, so parquet min/max footer statistics
    stay tight on BOTH dimensions at once — a filter on either column
    skips most files/row groups, where a single-column sort only ever
    serves one predicate.

    Mechanics: each column is affinely scaled to [0, 2^bits) from its
    global min/max (one tiny agg — no sort, no sampling), the Morton
    code is a codegen'd bit-interleave expression, and the layout is
    repartitionByRange + sortWithinPartitions on that code: exactly
    two passes over the data regardless of size."""
    a, b = cols
    mm = df.agg(
        F.min(a).alias("amin"),
        F.max(a).alias("amax"),
        F.min(b).alias("bmin"),
        F.max(b).alias("bmax"),
    ).collect()[0]
    top = (1 << bits) - 1

    def scaled(col: str, lo, hi) -> Column:
        if hi == lo:
            return F.lit(0)
        return F.least(
            F.lit(top),
            F.floor(
                (F.col(col) - F.lit(lo))
                / F.lit(float(hi - lo))
                * F.lit(1 << bits)
            ).cast("long"),
        )

    x, y = scaled(a, mm["amin"], mm["amax"]), scaled(b, mm["bmin"], mm["bmax"])
    z: Column = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + (F.shiftright(x, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i)))
            + (F.shiftright(y, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i + 1)))
        )
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )


def write_snapshot(df: DataFrame, path: str) -> int:
    """Snapshot-versioned sink (poor-man's time travel): each write
    lands under ``_v=N`` for the next monotonic version and becomes
    visible only when its ``_SUCCESS`` marker exists — readers never
    observe a half-written snapshot, and history is retained for
    audits/rollback (the lakehouse-table property the reference's
    overwrite-in-place RDS files can't offer; a real Delta/Iceberg
    catalog is the drop-in upgrade).

    Returns the version written. Version discovery is one driver-side
    directory listing; snapshot data itself is ordinary parquet, so
    every scan optimization (pruning, pushdown) applies unchanged."""
    from pathlib import Path

    p = Path(path)
    p.mkdir(parents=True, exist_ok=True)
    current = [
        int(d.name.split("=", 1)[1])
        for d in p.iterdir()
        if d.is_dir() and d.name.startswith("_v=")
    ]
    version = (max(current) + 1) if current else 0
    df.write.mode("errorifexists").parquet(str(p / f"_v={version}"))
    return version


def read_snapshot(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read a snapshot table at ``version`` (default: latest COMMITTED
    version — one with its _SUCCESS marker). Time travel = passing an
    older version number."""
    from pathlib import Path

    p = Path(path)
    committed = sorted(
        int(d.name.split("=", 1)[1])
        for d in p.iterdir()
        if d.is_dir() and d.name.startswith("_v=") and (d / "_SUCCESS").exists()
    )
    if not committed:
        raise FileNotFoundError(f"no committed snapshots under {path}")
    if version is None:
        version = committed[-1]
    if version not in committed:
        raise FileNotFoundError(
            f"snapshot _v={version} not committed under {path} "
            f"(have {committed})"
        )
    return spark.read.parquet(str(p / f"_v={version}"))


def snapshot_versions(path: str) -> list[int]:
    """Committed snapshot versions, oldest first."""
    from pathlib import Path

    return sorted(
        int(d.name.split("=", 1)[1])
        for d in Path(path).iterdir()
        if d.is_dir() and d.name.startswith("_v=") and (d / "_SUCCESS").exists()
    )


def delete_rows(
    spark: SparkSession,
    path: str,
    key_col: str,
    values: list,
    partition_by: tuple[str, ...] = DEFAULT_PARTITION_COLS,
) -> int:
    """Targeted deletion (the GDPR/right-to-be-forgotten pass): remove
    every row whose ``key_col`` is in ``values`` by rewriting ONLY the
    partitions that contain such rows — the delete-shaped sibling of
    ``upsert_partitions``. Untouched partitions' files are never read
    or rewritten, so cost is proportional to where the subject's data
    lives, not the table. Returns the number of rows deleted.

    The key probe is a broadcast IN-filter (a deletion request is a
    bounded subject list by nature); the partition discovery reuses
    the same dynamic-partition-overwrite mechanics as the amended
    -filing upsert."""
    existing = read_table(spark, path)
    part_cols = [c for c in partition_by if c in existing.columns]
    hit = F.col(key_col).isin(values)
    affected_parts = existing.filter(hit).select(*part_cols).distinct()
    affected = existing.join(F.broadcast(affected_parts), part_cols, "left_semi")
    n_deleted = affected.filter(hit).count()
    if n_deleted == 0:
        return 0
    keep = affected.filter(~hit)
    # the write overwrites files the plan reads — materialize first
    keep = keep.localCheckpoint(eager=True)
    write_table(keep, path, partition_by=tuple(part_cols))
    return n_deleted


def read_table_tolerant(
    spark: SparkSession, path: str, schema=None
) -> DataFrame:
    """Corruption-tolerant scan: skip unreadable parquet files instead
    of failing the whole job — the read-side counterpart of the
    dead-letter pattern, for the ops reality that a 100 TB table
    accumulates the occasional torn object (failed upload, partial
    replication). Set per-read via the datasource option, never on the
    session conf: silently tolerating corruption in EVERY read would
    mask real data loss.

    Pass ``schema`` when the torn file might be the one Spark would
    infer the schema from (a production table's schema is known); with
    no schema, inference falls back to the first readable footer."""
    r = spark.read.option("ignoreCorruptFiles", "true")
    if schema is not None:
        r = r.schema(schema)
        return r.parquet(path)
    try:
        return r.parquet(path)
    except Exception:
        # the footer Spark sampled for inference was the torn one:
        # recover the schema from any readable footer, then scan
        from pathlib import Path as _P

        for f in sorted(_P(path).rglob("*.parquet")):
            try:
                sch = spark.read.parquet(str(f)).schema
                return spark.read.option(
                    "ignoreCorruptFiles", "true"
                ).schema(sch).parquet(path)
            except Exception:
                continue
        raise


def vacuum_snapshots(path: str, keep_last: int = 2) -> list[int]:
    """Retention for the snapshot sink: drop all but the newest
    ``keep_last`` committed versions (plus any uncommitted debris),
    returning the versions removed. Old snapshots are what make time
    travel possible AND what makes the table grow without bound — this
    is the standing maintenance job that bounds it, the same role
    VACUUM plays for a Delta/Iceberg table."""
    import shutil
    from pathlib import Path

    p = Path(path)
    committed = sorted(
        int(d.name.split("=", 1)[1])
        for d in p.iterdir()
        if d.is_dir() and d.name.startswith("_v=") and (d / "_SUCCESS").exists()
    )
    keep = set(committed[-keep_last:]) if keep_last > 0 else set()
    removed = []
    for d in sorted(p.iterdir()):
        if not (d.is_dir() and d.name.startswith("_v=")):
            continue
        v = int(d.name.split("=", 1)[1])
        committed_ok = (d / "_SUCCESS").exists()
        if v not in keep and (not committed_ok or v in set(committed) - keep):
            shutil.rmtree(d)
            removed.append(v)
    return sorted(removed)
