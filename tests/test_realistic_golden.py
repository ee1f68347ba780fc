"""Golden VALUE sweep at realistic byte shape (VERDICT r12 next-round
#1): the r11/r12 realistic-size work validated counts (CORE == docs,
dead-letter exact) but every VALUE comparison still ran on 2.3 KB
fixture docs — a size- or chunking-dependent extraction bug
(truncation, Arrow chunking across 150 KB cells, group explode at
5-40 instances: the class the r12 vectorized-reader OOM proved exists)
would have passed. Here the full 12-table default build is compared
row-for-row against the independent ElementTree golden
(extract.golden) over a >= 5,000-doc corpus of 50-250 KB docs with
mixed vintages — the byte shape the reference's 3M-doc corpus has
(BUILD_SCRIPTS/README.md:256).

The golden side is the same per-document ET re-implementation the
fixture tests use, parallelized with mapInPandas so 5k realistic docs
stay test-feasible; independence is unchanged (ElementTree
row-at-a-time semantics vs from_xml + Catalyst columns)."""

from __future__ import annotations

import pytest

from irs_990_efiler_database_spark.jobs import _all_builders, _default_tables
from irs_990_efiler_database_spark.sources.xml_source import (
    read_return_bundle,
)
from tools.gen_xml_corpus import gen_bundle, gen_rows

N_DOCS = 5000


@pytest.fixture(scope="module")
def realistic_bundle(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("realistic") / "bundle")
    gen_bundle(spark, path, N_DOCS, partitions=32, realistic_size=True)
    return path


def test_driver_and_distributed_realistic_docs_are_byte_identical(
    spark, realistic_bundle
):
    """Both generation paths share corpusgen.synth_doc; pin it — the
    realistic oracle rows (x990_*_realistic) are built from the
    driver-side path and must describe the same bytes the distributed
    corpus carries."""
    want = dict(gen_rows(40, realistic_size=True))
    got = {
        r["url"]: r["xml"]
        for r in spark.read.parquet(realistic_bundle)
        .filter("url < 'file:///synthetic/2014700000040'")
        .collect()
    }
    assert got == want


@pytest.mark.slow
def test_full_build_matches_golden_at_realistic_shape(
    spark, realistic_bundle
):
    """Every one of the 12 default build tables, value-equal to the ET golden
    over 5,000 realistic-size docs (exceptAll both directions + count
    equality per table)."""

    from pyspark.sql import functions as F

    tables = _default_tables()
    rdb_tables = [
        t for t in tables if t != "CORE" and not t.startswith("SCHED-N")
    ]
    schedn_tables = [t for t in tables if t.startswith("SCHED-N")]
    assert len(tables) == 12  # CORE + 8 rdb + 3 Sched N (the default build set)

    returns = read_return_bundle(spark, realistic_bundle).persist()
    try:
        builders = _all_builders(tables)
        spark_dfs = {t: builders[t][0](returns) for t in tables}

        # distributed golden: one pass over (url, xml), emitting
        # (table, row-json); the kernel imports the PACKAGE golden
        # module on the workers (tools/ itself is not importable there)
        rdb_t, schedn_t = list(rdb_tables), list(schedn_tables)

        def gold(batches):
            import json as _json

            import pandas as pd

            from irs_990_efiler_database_spark.extract.golden import (
                golden_core_row,
                golden_rdb_rows,
                golden_schedn_rows,
            )

            for pdf in batches:
                out = []
                for url, xml in zip(pdf["url"], pdf["xml"]):
                    out.append(
                        ("CORE", _json.dumps(golden_core_row(url, xml)))
                    )
                    for t in rdb_t:
                        _, rows = golden_rdb_rows(url, xml, t)
                        out.extend((t, _json.dumps(r)) for r in rows)
                    for t in schedn_t:
                        _, rows = golden_schedn_rows(url, xml, t)
                        out.extend((t, _json.dumps(r)) for r in rows)
                yield pd.DataFrame(out, columns=["table", "row"])

        golden_all = (
            spark.read.parquet(realistic_bundle)
            .mapInPandas(gold, "table string, row string")
            .persist()
        )
        try:
            failures = {}
            for t in tables:
                sdf = spark_dfs[t]
                # parse the golden JSON into the Spark table's OWN
                # schema (same types incl. boolean flags), same column
                # order — exceptAll then compares values exactly
                gdf = (
                    golden_all.filter(F.col("table") == t)
                    .select(
                        F.from_json("row", sdf.schema).alias("j")
                    )
                    .select([F.col(f"j.`{c}`").alias(c) for c in sdf.columns])
                )
                n_s, n_g = sdf.count(), gdf.count()
                extra = sdf.exceptAll(gdf).count()
                missing = gdf.exceptAll(sdf).count()
                if not (n_s == n_g and extra == 0 and missing == 0):
                    failures[t] = {
                        "spark_rows": n_s,
                        "golden_rows": n_g,
                        "spark_only": extra,
                        "golden_only": missing,
                    }
            assert not failures, failures
            # the sweep exercised real MANY cardinality, not a
            # degenerate corpus: Part VII explodes far beyond 1:1
            assert (
                spark_dfs["F9-P07-TABLE-01-DTK-COMPENSATION"].count()
                > N_DOCS
            )
        finally:
            golden_all.unpersist()
    finally:
        returns.unpersist()


def test_incremental_build_at_realistic_shape(spark, tmp_path):
    """VERDICT r12 next-round #5: the streaming file source uses the
    same vectorized parquet reader as the batch path, so the adaptive
    columnarReaderBatchSize fix must govern incremental builds over
    realistic-size landing bundles too — pinned here, with exactly-once
    row accounting at the inflated shape."""
    import shutil

    from irs_990_efiler_database_spark.jobs import (
        build_database_incremental,
        read_incremental_table,
    )
    from irs_990_efiler_database_spark.sources.xml_source import (
        _bundle_columnar_batch_size,
    )

    stage = tmp_path / "stage"
    gen_bundle(spark, str(stage), 40, partitions=2, realistic_size=True)
    landing = tmp_path / "landing"
    landing.mkdir()
    for i, p in enumerate(sorted(stage.glob("part-*.parquet"))):
        shutil.copy(p, landing / f"drop{i}.parquet")

    # the landing dir's measured row width demands a small batch
    expected = _bundle_columnar_batch_size(str(landing))
    assert expected is not None and expected < 4096

    res = build_database_incremental(
        spark,
        str(tmp_path / "out"),
        str(landing),
        str(tmp_path / "ckpt"),
        tables=["CORE", "F9-P07-TABLE-01-DTK-COMPENSATION"],
    )
    assert (
        spark.conf.get("spark.sql.parquet.columnarReaderBatchSize")
        == str(expected)
    )
    assert res.rows["CORE"] == 40
    core = read_incremental_table(spark, res.tables["CORE"])
    assert core.count() == 40
    # inflation reached the MANY table through the streaming path too
    assert res.rows["F9-P07-TABLE-01-DTK-COMPENSATION"] >= 8 * 5

    # catch-up run over the already-current landing dir: exactly-once
    res2 = build_database_incremental(
        spark,
        str(tmp_path / "out"),
        str(landing),
        str(tmp_path / "ckpt"),
        tables=["CORE", "F9-P07-TABLE-01-DTK-COMPENSATION"],
    )
    assert res2.rows.get("CORE", 0) == 0
    assert core.count() == 40
