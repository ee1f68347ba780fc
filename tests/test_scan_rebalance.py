"""Pins for the conditional small-input scan rebalance
(catalog._rebalance_narrow_scan, optimization guide §2.5): a
single-row-group parquet file executes its whole scan stage as one
task, so load_table round-robin-rebalances the text/vector tables to
the session's default parallelism — guarded so it can never fire on
production-scale inputs and overridable per call.
"""

from __future__ import annotations

import pytest

from irs_990_efiler_database_spark.catalog import (
    _REBALANCE_TABLES,
    load_table,
)

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_default_tables_gain_round_robin_exchange(spark):
    for name in sorted(_REBALANCE_TABLES):
        plan = _plan(load_table(spark, SF, name))
        assert "RoundRobinPartitioning" in plan, name


def test_relational_tables_stay_rebalance_free(spark):
    for name in ("lineitem", "orders", "events", "nation"):
        plan = _plan(load_table(spark, SF, name))
        assert "RoundRobinPartitioning" not in plan, name


def test_per_call_override_wins_both_ways(spark):
    assert "RoundRobinPartitioning" not in _plan(
        load_table(spark, SF, "documents", rebalance=False)
    )
    assert "RoundRobinPartitioning" in _plan(
        load_table(spark, SF, "lineitem", rebalance=True)
    )


def test_rebalance_spreads_partitions_and_preserves_rows(spark):
    base = load_table(spark, SF, "documents", rebalance=False)
    reb = load_table(spark, SF, "documents")
    assert base.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    assert (
        reb.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    )
    # content-identical: same rows, only placement changed
    assert reb.count() == base.count()
    assert reb.exceptAll(base).count() == 0
    assert base.exceptAll(reb).count() == 0


def test_pruning_and_pushdown_survive_the_rebalance(spark):
    from pyspark.sql import functions as F

    df = load_table(spark, SF, "documents").filter(
        F.col("doc_id") < 10
    ).select("doc_id", "lang")
    plan = _plan(df)
    scan = plan[plan.index("FileScan") :].splitlines()[0]
    # only the two consumed columns are read, and the filter reached
    # the scan below the repartition
    assert "text" not in scan
    assert "PushedFilters: [" in plan and "LessThan(doc_id,10" in plan


def test_byte_guard_fails_closed_for_oversized_inputs(spark, monkeypatch):
    # shrink maxPartitionBytes so the bytes-per-core guard rejects the
    # table: the rebalance must not fire however few splits the scan has
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    try:
        plan = _plan(load_table(spark, SF, "documents"))
        assert "RoundRobinPartitioning" not in plan
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_suffixed_max_partition_bytes_is_parsed_not_fatal(spark):
    # a caller-provided session may set the conf with a size suffix;
    # int() on "128m" used to raise ValueError and kill every
    # documents/embeddings load on such sessions (ADVICE r14)
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
    try:
        plan = _plan(load_table(spark, SF, "documents"))
        assert "RoundRobinPartitioning" in plan  # guard passes at 128 MiB
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_parse_bytes_suffix_table():
    from irs_990_efiler_database_spark.catalog import _parse_bytes

    assert _parse_bytes("134217728") == 128 * 1024**2
    assert _parse_bytes("128m") == 128 * 1024**2
    assert _parse_bytes("128MB") == 128 * 1024**2
    assert _parse_bytes("1g") == 1024**3
    assert _parse_bytes("2k") == 2048
    assert _parse_bytes("garbage") == 128 * 1024**2  # fail-safe default


def test_directory_backed_table_is_sized_by_its_files(spark, tmp_path):
    """A directory-backed ``*.parquet`` table larger than cores x
    maxPartitionBytes is sized by its files and gets the
    production-scale profile: session drain defaults and no scan
    rebalance. Sizing the directory inode (about 4 KB) instead gave it
    the bounded-drain profile."""
    import os

    from irs_990_efiler_database_spark.catalog import input_bytes, table_path
    from irs_990_efiler_database_spark.queries import events_streaming as es

    sf = str(tmp_path)
    path = table_path(sf, "events")
    load_table(spark, SF, "events").coalesce(1).write.parquet(path)
    total = input_bytes(path)
    assert total == sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )
    cores = spark.sparkContext.defaultParallelism
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(total // (2 * cores)))
    try:
        plan = _plan(load_table(spark, sf, "events", rebalance=True))
        assert "RoundRobinPartitioning" not in plan
        assert es._drain_knobs(spark, sf) == {
            "state_partitions": None,
            "state_store": None,
        }
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
