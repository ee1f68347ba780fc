"""Parquet table catalog for the synthetic star schema (TESTDATA.md).

At 100 TB the same tables would be partitioned parquet/iceberg paths; this
catalog keeps path resolution in one place so queries never hardcode file
layout, and registers temp views so the DataFrame and SQL surfaces see the
same names.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def load_table(
    spark: SparkSession, sf_dir: str, name: str, rebalance: bool | None = None
) -> DataFrame:
    """Load one catalog table.

    ``rebalance``: small-input scan rebalance policy (see
    ``_rebalance_narrow_scan``). ``None`` = table-based default (on for
    the text/vector tables, off for the relational ones); ``False`` =
    never — for consumers whose first operation is an aggregation over
    cheap per-row work, where the extra exchange only inflates the
    map-side partial-aggregation output (measured: Kneser-Ney scoring
    1.50 s -> 2.10 s with the rebalance); ``True`` = force the
    conditional rebalance for a table outside the default set."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
    # parquet reader rejects. The tuned session factory sets nanosAsLong
    # up front (session.py); for caller-provided vanilla sessions (the
    # driver's) fall back to setting it here, guarded so an already-
    # configured session is never mutated.
    if (
        name == "events"
        and spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true"
    ):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # Parquet TIMESTAMP(isAdjustedToUTC=false) surfaces as TIMESTAMP_NTZ,
    # which functions like unix_micros() reject. The session timezone is
    # pinned to UTC (session.py), so casting NTZ -> TIMESTAMP preserves
    # every value while restoring the full timestamp function surface.
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    do_rebalance = rebalance if rebalance is not None else name in _REBALANCE_TABLES
    if do_rebalance:
        df = _rebalance_narrow_scan(spark, df, table_path(sf_dir, name))
    return df


# Small-input scan rebalance (optimization guide §2.5 "input skew: one
# huge unsplittable file"): parquet scans parallelize at row-group
# granularity, so a table stored as one single-row-group file executes
# its entire scan stage — and every map-side computation fused into it
# (filters, projections, partial aggregation, HOFs) — as ONE task, no
# matter how many cores the session has. The test corpora are exactly
# that shape (one file, one row group per table), which serialized the
# scan stage of every query on local[32].
#
# The fix is a round-robin repartition to the session's default
# parallelism. It is applied only to the tables whose consumers do
# heavy PER-ROW work downstream of the scan — the text corpus
# (``documents``: HOF tokenization, shingling, n-gram passes) and the
# vector table (``embeddings``: per-row array math) — measured 2-6x
# wins (char-trigram lang-id 2.42 s -> 0.52 s, brute cosine top-k
# 2.11 s -> 0.57 s, hard-negative mining 3.43 s -> 0.53 s at sf0.1 on
# local[32]). The relational tables are deliberately EXCLUDED: their
# consumers' first operation is typically a join/aggregation whose own
# exchange already parallelizes everything downstream, so a base
# rebalance only adds a serial sort+shuffle-write to the scan task
# (measured regressions: q21 1.65 s -> 2.96 s, ridge 0.89 -> 1.19).
#
# Guards, so the rebalance is scale-adaptive (derived from the input)
# rather than a local[32] constant:
#   (a) the scan yields fewer splits than the session has cores, and
#   (b) the table's on-disk bytes are at most cores x maxPartitionBytes
#       (the whole input is smaller than one normal task's worth of
#       data per core, so the extra shuffle is trivially cheap
#       relative to the idle-core loss).
# At production scale both guards fail closed: a 100 TB corpus yields
# thousands of splits and exceeds the byte bound by orders of
# magnitude, so this never adds a full-corpus shuffle to a real
# deployment. Results are unaffected: round-robin repartition is
# deterministic (sort-before-repartition is on by default), and no
# registered query depends on scan partitioning (the two
# spark_partition_id consumers are partitioning-invariant by design).
_REBALANCE_TABLES = frozenset({"documents", "embeddings"})
_SPLITS_CACHE: dict[tuple[str, str, str | None], int] = {}

# Spark size confs accept byte-suffixed strings ("128m", "1g"); a
# caller-provided session may have set maxPartitionBytes that way, and
# int() on it would crash every documents/embeddings load. Same suffix
# table as Spark's JavaUtils.byteStringAsBytes (case-insensitive,
# optional trailing 'b').
_SIZE_SUFFIXES = {
    "k": 1024,
    "m": 1024**2,
    "g": 1024**3,
    "t": 1024**4,
    "p": 1024**5,
}


def _parse_bytes(value: str) -> int:
    s = str(value).strip().lower()
    try:
        return int(s)
    except ValueError:
        pass
    body = s[:-1] if s.endswith("b") else s
    if body and body[-1] in _SIZE_SUFFIXES:
        try:
            return int(body[:-1]) * _SIZE_SUFFIXES[body[-1]]
        except ValueError:
            pass
    # unparseable: fall back to the Spark default rather than crash a
    # load_table call over a heuristic-only input
    return 128 * 1024 * 1024


def input_bytes(path: str) -> int | None:
    """On-disk bytes of a table: the size of a single-file table, the
    sum of every file under a directory-backed one (``os.path.getsize``
    on a directory returns its inode size, about 4 KB). ``None`` when
    the path cannot be read locally (non-local storage, missing path);
    callers treat that as production scale."""
    try:
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, files in os.walk(path)
                for f in files
            )
        return os.path.getsize(path)
    except OSError:
        return None


def bounded_input(spark: SparkSession, path: str) -> bool:
    """Whether the table at *path* is small enough for a local sizing
    heuristic: its on-disk bytes are at most one normal task per core
    (``defaultParallelism`` x ``maxPartitionBytes``). Fails closed: a
    path that cannot be sized locally (non-local storage, a missing
    path) counts as production scale, since listing object storage is
    driver-side work no ``load_table`` call should add."""
    size = input_bytes(path)
    if size is None:
        return False
    max_part = _parse_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    return size <= spark.sparkContext.defaultParallelism * max_part


def _rebalance_narrow_scan(
    spark: SparkSession, df: DataFrame, path: str
) -> DataFrame:
    if not bounded_input(spark, path):
        return df
    cores = spark.sparkContext.defaultParallelism
    max_part = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    # max_part in the key: a mid-session conf change alters the split
    # count a fresh scan would yield, so a cached count from the old
    # setting must not decide the rebalance (only the heuristic, never
    # results, depends on this — but keep it honest anyway)
    key = (spark.sparkContext.applicationId, path, max_part)
    splits = _SPLITS_CACHE.get(key)
    if splits is None:
        # actual scan split count (file-split based); cached per
        # session+path because the RDD conversion compiles the plan
        splits = spark.read.parquet(path).rdd.getNumPartitions()
        _SPLITS_CACHE[key] = splits
    if splits >= cores:
        return df
    # round-robin rather than a full-row hash key: a hash expression
    # over every column would be referenced by the exchange and defeat
    # column pruning at the scan (measured: ridge re-read all 16
    # lineitem columns instead of 3). Round-robin keeps pruning intact;
    # its sort-before-repartition cost on a <=cores x maxPartitionBytes
    # input is small.
    return df.repartition(cores)


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view (idempotent) for the SQL surface."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
