"""Index pipeline tests (buildIndex analog, reference :54-89)."""

from __future__ import annotations

import pytest

from irs_990_efiler_database_spark.queries.index_ops import (
    _GLOB,
    _golden_index_rows,
)
from irs_990_efiler_database_spark.sources.index import (
    build_index,
    filter_index,
)


def test_build_index_dedupes_and_derives_tax_year(spark):
    idx = build_index(spark, _GLOB)
    rows = {r["ObjectId"]: r.asDict() for r in idx.collect()}
    golden = {r["ObjectId"]: r for r in _golden_index_rows()}
    assert len(rows) == len(golden) == 25  # 26 raw - 1 duplicate
    for obj, g in golden.items():
        assert rows[obj] == g


def test_tax_year_rule(spark):
    # Dec period-end → TaxYear == period year; otherwise year - 1
    idx = build_index(spark, _GLOB)
    for r in idx.select("TaxPeriod", "TaxYear").collect():
        yr, month = int(r["TaxPeriod"][:4]), r["TaxPeriod"][4:6]
        assert r["TaxYear"] == (yr if month == "12" else yr - 1)


def test_ein_filter_is_broadcast_semi_join(spark):
    eins = spark.createDataFrame([("100000001",)], ["EIN"])
    out = filter_index(build_index(spark, _GLOB), eins=eins)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert out.count() == 3  # one filing per fixture year


@pytest.mark.slow
def test_custom_python_datasource_matches_native_reader(spark):
    """The Spark-4 Python DataSource connector must return exactly the
    rows the plan-native wholetext+from_json reader returns, with one
    input partition per index file (the executor-parallel contract)."""
    from irs_990_efiler_database_spark.queries.index_ops import _GLOB
    from irs_990_efiler_database_spark.sources.index import read_index_files
    from irs_990_efiler_database_spark.sources.pydatasource import (
        Irs990IndexDataSource,
    )

    spark.dataSource.register(Irs990IndexDataSource)
    via_ds = spark.read.format("irs990index").load(_GLOB)
    native = read_index_files(spark, _GLOB)
    assert via_ds.schema == native.schema
    key = lambda r: (r["ObjectId"], r["URL"])  # noqa: E731
    assert sorted(via_ds.collect(), key=key) == sorted(
        native.collect(), key=key
    )
    assert via_ds.rdd.getNumPartitions() == 3  # one per yearly file


def test_custom_python_datasource_streams_new_files_exactly_once(
    spark, tmp_path
):
    """The streaming side of the connector: an availableNow run over
    the landing dir ingests every file; a file that lands later is
    picked up by the next run from the same checkpoint WITHOUT
    re-reading the old ones (offset log = sorted-name file count)."""
    import glob
    import shutil

    from irs_990_efiler_database_spark.queries.index_ops import _GLOB
    from irs_990_efiler_database_spark.sources.pydatasource import (
        Irs990IndexDataSource,
    )

    src_files = sorted(glob.glob(_GLOB))
    assert len(src_files) >= 3
    land = tmp_path / "landing"
    land.mkdir()
    for f in src_files[:2]:
        shutil.copy(f, land)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    spark.dataSource.register(Irs990IndexDataSource)

    def run_once():
        q = (
            spark.readStream.format("irs990index")
            .load(str(land / "*.json"))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    n_first = spark.read.parquet(out).count()
    batch_2 = spark.read.format("irs990index").load(str(land / "*.json"))
    assert n_first == batch_2.count()

    shutil.copy(src_files[2], land)
    run_once()
    got = spark.read.parquet(out)
    batch_3 = spark.read.format("irs990index").load(str(land / "*.json"))
    # exactly-once: total rows equal the batch read of all 3 files —
    # nothing duplicated, nothing missed
    assert got.count() == batch_3.count()
    key = lambda r: (r["ObjectId"], r["URL"])  # noqa: E731
    assert sorted(got.collect(), key=key) == sorted(
        batch_3.collect(), key=key
    )


def test_stream_offset_is_name_hwm_not_positional_count(tmp_path):
    """Offsets are lexicographic high-water marks: a file landing
    between latestOffset() and partitions() must not shift which files
    a committed [start, end] range selects (the positional-slice bug:
    a backfill that sorts earlier shifted the slice, silently skipping
    one file and re-reading another)."""
    import glob
    import shutil

    from irs_990_efiler_database_spark.queries.index_ops import _GLOB
    from irs_990_efiler_database_spark.sources.pydatasource import (
        Irs990IndexStreamReader,
    )

    src = sorted(glob.glob(_GLOB))
    land = tmp_path / "landing"
    land.mkdir()
    # land the two LAST-sorting files first
    for f in src[1:3]:
        shutil.copy(f, land)
    r = Irs990IndexStreamReader({"path": str(land / "*.json")})
    start = r.initialOffset()
    end = r.latestOffset()
    # race window: a file sorting FIRST lands after latestOffset()
    shutil.copy(src[0], land)
    picked = sorted(p.path for p in r.partitions(start, end))
    # the committed range must still select exactly the two files that
    # existed at latestOffset() time — a positional slice would have
    # returned [src0, src1], skipping src2 forever
    import os

    assert [os.path.basename(p) for p in picked] == [
        os.path.basename(f) for f in src[1:3]
    ]
    # and the next listing detects the out-of-order arrival loudly
    # (src[0] sorts below the committed mark → would never be selected)
    import pytest

    with pytest.raises(RuntimeError, match="out-of-order"):
        r.latestOffset()


def test_stream_monotonic_arrivals_advance_hwm(tmp_path):
    """Happy path: ascending-name arrivals produce disjoint (start,
    end] intervals that cover every file exactly once."""
    import glob
    import shutil

    from irs_990_efiler_database_spark.queries.index_ops import _GLOB
    from irs_990_efiler_database_spark.sources.pydatasource import (
        Irs990IndexStreamReader,
    )

    src = sorted(glob.glob(_GLOB))
    land = tmp_path / "landing"
    land.mkdir()
    shutil.copy(src[0], land)
    r = Irs990IndexStreamReader({"path": str(land / "*.json")})
    o0 = r.initialOffset()
    o1 = r.latestOffset()
    b1 = {p.path for p in r.partitions(o0, o1)}
    shutil.copy(src[1], land)
    o2 = r.latestOffset()
    b2 = {p.path for p in r.partitions(o1, o2)}
    assert len(b1) == 1 and len(b2) == 1 and not (b1 & b2)
    # idle tick: no new files → empty batch, offset unchanged
    o3 = r.latestOffset()
    assert o3 == o2 and r.partitions(o2, o3) == []


def test_build_index_from_object_store_with_faults(spark, tmp_path):
    """The reference's production index path is fetch-from-object-store
    (build_efile_database_functions.R:54-68); this drives
    build_index_from_urls against a LIVE local HTTP object store:
    two healthy yearly index files, one that always 403s. The healthy
    years must parse into exactly the rows the file-glob reader
    produces for those files, the 403 year must land in the failures
    frame (not abort), and nothing is fetched on the driver."""
    import glob
    import http.server
    import socketserver
    import threading
    from pathlib import Path

    from irs_990_efiler_database_spark.caching import release_cached
    from irs_990_efiler_database_spark.sources.index import (
        build_index,
        build_index_from_urls,
    )

    src = sorted(glob.glob(_GLOB))
    assert len(src) >= 3
    docs = {f"/index/{Path(f).name}": Path(f).read_text() for f in src[:2]}

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 — http.server API
            if self.path.endswith("index_denied.json"):
                self.send_error(403, "access denied")
                return
            body = docs.get(self.path)
            if body is None:
                self.send_error(404, "no such object")
                return
            data = body.encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, *a):  # quiet
            pass

    with socketserver.ThreadingTCPServer(("127.0.0.1", 0), Handler) as srv:
        port = srv.server_address[1]
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        urls = [f"http://127.0.0.1:{port}{p}" for p in sorted(docs)] + [
            f"http://127.0.0.1:{port}/index/index_denied.json"
        ]
        try:
            idx, failures = build_index_from_urls(spark, urls, retries=1)
            fails = failures.collect()
            assert len(fails) == 1
            assert "denied" in fails[0]["url"] and "403" in fails[0]["error"]
            # healthy years == the file-glob reader over the same files
            want = build_index(spark, src[:2])
            key = lambda r: r["ObjectId"]  # noqa: E731
            assert sorted(idx.collect(), key=key) == sorted(
                want.collect(), key=key
            )
        finally:
            release_cached()
            srv.shutdown()


def test_s3a_config_contract(spark, monkeypatch):
    """s3a_config pins the production object-store contract (magic
    committer, pooled connections, anonymous-or-keyed creds,
    path-style for custom endpoints); the env wiring applies it to the
    live session's Hadoop configuration — verifiable without the
    hadoop-aws jars because fs.* keys are plain configuration."""
    from irs_990_efiler_database_spark.session import (
        _apply_s3a_env_config,
        s3a_config,
    )

    conf = s3a_config(endpoint="http://127.0.0.1:9000", anonymous=True)
    assert conf["spark.hadoop.fs.s3a.committer.name"] == "magic"
    assert conf["spark.hadoop.fs.s3a.path.style.access"] == "true"
    assert conf["spark.hadoop.fs.s3a.aws.credentials.provider"].endswith(
        "AnonymousAWSCredentialsProvider"
    )
    keyed = s3a_config(access_key="ak", secret_key="sk")
    assert keyed["spark.hadoop.fs.s3a.access.key"] == "ak"
    assert "spark.hadoop.fs.s3a.endpoint" not in keyed

    monkeypatch.setenv("SPARK_GRAFT_S3_ENDPOINT", "http://127.0.0.1:9000")
    monkeypatch.setenv("SPARK_GRAFT_S3_ANON", "1")
    _apply_s3a_env_config(spark)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.endpoint") == "http://127.0.0.1:9000"
    assert hconf.get("fs.s3a.committer.name") == "magic"


def test_default_driver_heap_fits_the_host(tmp_path):
    """The default ``spark.driver.memory`` is derived from the host's
    MemTotal (about half): a 15 GB host must never get a heap larger
    than itself (the old fixed 48g default got the test JVM
    OOM-killed on such a host)."""
    import re

    from irs_990_efiler_database_spark.session import _default_driver_mem

    meminfo = tmp_path / "meminfo"
    meminfo.write_text(
        "MemTotal:       15728640 kB\nMemFree:         1048576 kB\n"
    )
    heap = _default_driver_mem(str(meminfo))
    m = re.fullmatch(r"(\d+)([mg])", heap)
    assert m, heap
    mib = int(m.group(1)) * (1024 if m.group(2) == "g" else 1)
    assert 1024 <= mib <= 15 * 1024, heap
    assert mib >= 7 * 1024, heap  # about half, not a token heap
    assert _default_driver_mem(str(tmp_path / "missing")) == "4g"


def test_simple_stream_reader_exactly_once(spark, tmp_path):
    """The SimpleDataSourceStreamReader path (.option("simple","true")
    routes through pyspark's streamReader->simpleStreamReader fallback):
    driver-side micro-batch reads with the same filename-hwm offsets —
    an availableNow run ingests everything, a later file is picked up
    from the same checkpoint without re-reading the old ones, and the
    total equals the batch read (exactly-once)."""
    import glob
    import shutil

    from irs_990_efiler_database_spark.queries.index_ops import _GLOB
    from irs_990_efiler_database_spark.sources.pydatasource import (
        Irs990IndexDataSource,
    )

    src_files = sorted(glob.glob(_GLOB))
    assert len(src_files) >= 3
    land = tmp_path / "landing"
    land.mkdir()
    for f in src_files[:2]:
        shutil.copy(f, land)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    try:
        spark.dataSource.register(Irs990IndexDataSource)
    except Exception:
        pass

    def run_once():
        q = (
            spark.readStream.format("irs990index")
            .option("simple", "true")
            .load(str(land / "*.json"))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    n_first = spark.read.parquet(out).count()
    assert n_first == spark.read.format("irs990index").load(
        str(land / "*.json")
    ).count()

    shutil.copy(src_files[2], land)
    run_once()
    got = spark.read.parquet(out)
    want = spark.read.format("irs990index").load(str(land / "*.json"))
    assert got.count() == want.count()
    key = lambda r: (r["ObjectId"], r["URL"])  # noqa: E731
    assert sorted(got.collect(), key=key) == sorted(want.collect(), key=key)


def test_simple_stream_reader_out_of_order_tripwire(tmp_path):
    """The simple (driver-read) stream reader keeps the full reader's
    in-run out-of-order guard: a name backfilled at or below the
    high-water mark raises loudly instead of being silently and
    permanently skipped (it would fall inside an already-committed
    offset interval)."""
    import glob
    import shutil

    import pytest

    from irs_990_efiler_database_spark.queries.index_ops import _GLOB
    from irs_990_efiler_database_spark.sources.pydatasource import (
        Irs990IndexSimpleStreamReader,
    )

    src = sorted(glob.glob(_GLOB))
    assert len(src) >= 3
    land = tmp_path / "landing"
    land.mkdir()
    for f in src[1:3]:
        shutil.copy(f, land)
    r = Irs990IndexSimpleStreamReader({"path": str(land / "*.json")})
    rows, end = r.read(r.initialOffset())
    assert len(list(rows)) > 0 and end["hwm"]
    # idle tick advances nothing and does not trip
    rows2, end2 = r.read(end)
    assert list(rows2) == [] and end2 == end
    # backfill below the mark → loud error, not silent data loss
    shutil.copy(src[0], land)
    with pytest.raises(RuntimeError, match="out-of-order"):
        r.read(end)


def test_simple_stream_reader_replay_reproduces_committed_batch(tmp_path):
    """readBetweenOffsets (the replay path pyspark's prefetch wrapper
    calls after a restart) must reproduce exactly the committed
    interval's rows — no re-read of earlier files, no pull-forward of
    later ones — because files are immutable and names monotonic."""
    import glob
    import shutil

    from irs_990_efiler_database_spark.queries.index_ops import _GLOB
    from irs_990_efiler_database_spark.sources.pydatasource import (
        Irs990IndexSimpleStreamReader,
        _index_rows,
    )

    src = sorted(glob.glob(_GLOB))
    assert len(src) >= 3
    land = tmp_path / "landing"
    land.mkdir()
    shutil.copy(src[0], land)
    r = Irs990IndexSimpleStreamReader({"path": str(land / "*.json")})
    rows0, o1 = r.read(r.initialOffset())
    n0 = len(list(rows0))
    shutil.copy(src[1], land)
    rows1, o2 = r.read(o1)
    batch1 = sorted(rows1)  # _index_rows yields plain tuples
    shutil.copy(src[2], land)

    # replay the committed (o1, o2] interval on a FRESH reader (driver
    # restart: in-run ledger gone) — identical rows despite the later
    # file now being present
    r2 = Irs990IndexSimpleStreamReader({"path": str(land / "*.json")})
    replay = sorted(r2.readBetweenOffsets(o1, o2))
    assert replay == batch1 and len(replay) > 0
    # and the (origin, o1] interval reproduces the first batch's size
    assert len(list(r2.readBetweenOffsets(r2.initialOffset(), o1))) == n0


def _corrupt_keeping_stat(p) -> None:
    """Overwrite a file with invalid JSON while preserving its size and
    mtime_ns, so format-2 manifest evidence stays VALID for it — the
    proof device for "pruning never opens this file". (The tests run
    as root, so chmod-based unreadability can't serve as the proof.)"""
    import os

    st = p.stat()
    p.write_bytes(b"{ corrupt: never opened"[: st.st_size].ljust(
        st.st_size, b" "
    ))
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns))


@pytest.mark.slow
def test_pushdown_reader_filters_and_prunes_files(spark, tmp_path):
    """Spark-4.1 Python DataSource FILTER PUSHDOWN (opt-in
    .option("pushdown","true") + spark.sql.python.filterPushdown.enabled):

    1. parity — pushdown read == plain read under the same filters
       (incl. range predicates, now pushed);
    2. file-level pruning is evidence-based — with the verified
       ``_objectid_prefixes.json`` manifest present and a non-matching
       year's index file corrupted on disk, the pruned read succeeds
       (that file is never opened) while the plain reader fails on it;
       WITHOUT the manifest the default mode conservatively opens
       every file (no silent filename-trust);
    3. an unsupported predicate (Not) is returned to Spark and still
       applied (results stay correct)."""
    import glob
    import shutil

    import pytest

    from irs_990_efiler_database_spark.queries.index_ops import _GLOB
    from irs_990_efiler_database_spark.sources.pydatasource import (
        Irs990IndexDataSource,
        write_objectid_prefix_manifest,
    )

    try:
        spark.dataSource.register(Irs990IndexDataSource)
    except Exception:
        pass
    old = spark.conf.get("spark.sql.python.filterPushdown.enabled", None)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        land = tmp_path / "idx"
        land.mkdir()
        for f in sorted(glob.glob(_GLOB)):
            shutil.copy(f, land)
        pat = str(land / "index_*.json")

        def rd(pushdown: bool, **opts):
            r = spark.read.format("irs990index")
            if pushdown:
                r = r.option("pushdown", "true")
            for k, v in opts.items():
                r = r.option(k, v)
            return r.load(pat)

        # 1. parity under supported + unsupported predicates
        from pyspark.sql import functions as F

        cond = (
            F.col("FormType").isin("990", "990EZ")  # In: pushed
            & F.col("ObjectId").startswith("2014")
            & F.col("IsAvailable").isNotNull()
            & (F.col("TaxPeriod") > "200000")  # GreaterThan: pushed
            & ~F.col("OrganizationName").startswith("\x00")  # Not: kept
        )
        want = sorted(map(tuple, rd(False).filter(cond).collect()))
        got = sorted(map(tuple, rd(True).filter(cond).collect()))
        assert got == want and len(got) > 0

        # the accept/reject split itself (parity alone can't tell a
        # pushed filter from one Spark re-applied)
        from pyspark.sql.datasource import GreaterThan
        from pyspark.sql.datasource import In as DSIn
        from pyspark.sql.datasource import Not, StringStartsWith

        from irs_990_efiler_database_spark.sources.pydatasource import (
            Irs990IndexPushdownReader,
        )

        r = Irs990IndexPushdownReader({"path": pat})
        rejected = list(
            r.pushFilters(
                [
                    DSIn(("FormType",), ("990", "990EZ")),
                    GreaterThan(("TaxPeriod",), "200000"),
                    Not(StringStartsWith(("OrganizationName",), "\x00")),
                ]
            )
        )
        assert [type(f).__name__ for f in rejected] == ["Not"]
        assert sorted(type(f).__name__ for f in r._pushed) == [
            "GreaterThan",
            "In",
        ]
        # and the accepted filters really drop rows during read()
        part = r.partitions()[0]
        kept_rows = list(r.read(part))
        forms = {row[3] for row in kept_rows}  # FormType is field 3
        assert forms and forms <= {"990", "990EZ"}
        assert all(row[1] > "200000" for row in kept_rows)  # TaxPeriod

        # 2a. default (manifest) mode without a manifest: NO pruning —
        # the corrupted non-matching file is still opened, loudly
        (land / "index_2013.json").write_text("{ this is not json")
        with pytest.raises(Exception):
            rd(True).filter(F.col("ObjectId").startswith("2014")).collect()
        # restore, write the verified manifest, re-corrupt KEEPING the
        # recorded stat (size + mtime_ns): evidence stays valid, so the
        # pruning proof is "corrupt but never opened"; a stat-visible
        # change would correctly invalidate the evidence instead
        # (pinned separately in
        # test_pushdown_manifest_stale_evidence_is_ignored)
        shutil.copy(
            sorted(glob.glob(_GLOB))[0], land / "index_2013.json"
        )
        write_objectid_prefix_manifest(pat)
        _corrupt_keeping_stat(land / "index_2013.json")

        # 2b. manifest-verified pruning: the pushdown read never opens
        # the corrupt file; the plain read dies on it
        pruned = rd(True).filter(F.col("ObjectId").startswith("2014"))
        rows_2014 = pruned.collect()
        assert len(rows_2014) > 0
        assert all(r["ObjectId"].startswith("2014") for r in rows_2014)
        with pytest.raises(Exception):
            rd(False).filter(F.col("ObjectId").startswith("2014")).collect()

        # 2c. range-predicate pruning via verified prefix BOUNDS:
        # ObjectId >= "2015" skips both earlier years' files (2014's
        # is corrupted too, and never opened)
        _corrupt_keeping_stat(land / "index_2014.json")
        hi = rd(True).filter(F.col("ObjectId") >= "2015").collect()
        assert len(hi) > 0
        assert all(r["ObjectId"] >= "2015" for r in hi)

        # 2d. filename heuristic mode still available as explicit
        # opt-in (documented invariant: filename year == prefix)
        fn = rd(True, prune_files="filename").filter(
            F.col("ObjectId").startswith("2015")
        )
        assert fn.count() > 0
    finally:
        if old is None:
            spark.conf.unset("spark.sql.python.filterPushdown.enabled")
        else:
            spark.conf.set("spark.sql.python.filterPushdown.enabled", old)


@pytest.mark.slow
def test_pushdown_manifest_pruning_survives_cross_year_objectid(
    spark, tmp_path
):
    """The ADVICE r11 medium: the reference documents ObjectId only as
    'Tax Period + DLN (sortof)' (Build-Efiler-Index.md:16), so a
    yearly index file may hold a CROSS-YEAR ObjectId prefix. Filename
    pruning would silently drop such rows; manifest pruning records
    what each file actually contains and must return them."""
    import json

    from pyspark.sql import functions as F

    from irs_990_efiler_database_spark.sources.pydatasource import (
        Irs990IndexDataSource,
        write_objectid_prefix_manifest,
    )

    try:
        spark.dataSource.register(Irs990IndexDataSource)
    except Exception:
        pass
    old = spark.conf.get("spark.sql.python.filterPushdown.enabled", None)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        land = tmp_path / "idx"
        land.mkdir()
        row = {
            "EIN": "100000099",
            "TaxPeriod": "201312",
            "DLN": "93490000099",
            "FormType": "990",
            "URL": "https://example.invalid/201499999_public.xml",
            "OrganizationName": "LATE PROCESSED ORG",
            "SubmittedOn": "2014-02-01",
            # 2014-prefixed ObjectId INSIDE the 2013 file
            "ObjectId": "201499999",
            "LastUpdated": "2014-03-01",
            "IsElectronic": True,
            "IsAvailable": True,
        }
        (land / "index_2013.json").write_text(
            json.dumps({"Filings2013": [row]})
        )
        pat = str(land / "index_*.json")
        write_objectid_prefix_manifest(pat)
        man = json.loads((land / "_objectid_prefixes.json").read_text())
        assert man["_format"] == 2
        assert man["files"]["index_2013.json"]["prefixes"] == ["2014"]

        def rd(**opts):
            r = spark.read.format("irs990index").option("pushdown", "true")
            for k, v in opts.items():
                r = r.option(k, v)
            return r.load(pat)

        q = F.col("ObjectId").startswith("2014")
        # manifest mode (default): the cross-year row IS returned
        assert rd().filter(q).count() == 1
        # filename heuristic: silently drops it — exactly the failure
        # mode the manifest exists to prevent (pinned so the contrast
        # stays documented)
        assert rd(prune_files="filename").filter(q).count() == 0
        # prune_files=off sanity + invalid option is loud
        assert rd(prune_files="off").filter(q).count() == 1
        import pytest as _pytest

        with _pytest.raises(Exception):
            rd(prune_files="bogus").filter(q).count()
    finally:
        if old is None:
            spark.conf.unset("spark.sql.python.filterPushdown.enabled")
        else:
            spark.conf.set("spark.sql.python.filterPushdown.enabled", old)


@pytest.mark.slow
def test_pushdown_manifest_multi_dir_and_short_objectid(spark, tmp_path):
    """Two pruning-evidence edge cases (r12 review findings): (1) a
    multi-directory glob with COLLIDING basenames — each directory gets
    its own manifest describing only its own files, so one dir's
    evidence can never prune the other's; (2) a file holding a row
    whose ObjectId is shorter than 4 chars is recorded as null =
    unprunable, and a short EqualTo constraint derives no year at all
    — in every mode the row survives."""
    import json

    from pyspark.sql import functions as F

    from irs_990_efiler_database_spark.sources.pydatasource import (
        Irs990IndexDataSource,
        write_objectid_prefix_manifest,
    )

    try:
        spark.dataSource.register(Irs990IndexDataSource)
    except Exception:
        pass
    old = spark.conf.get("spark.sql.python.filterPushdown.enabled", None)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        def row(oid):
            return {
                "EIN": "100000001", "TaxPeriod": "201312",
                "DLN": "1", "FormType": "990",
                "URL": "u", "OrganizationName": "O",
                "SubmittedOn": "2014-01-01", "ObjectId": oid,
                "LastUpdated": "2014-01-01",
                "IsElectronic": True, "IsAvailable": True,
            }

        for sub, oid in (("a", "2013000001"), ("b", "2015000001")):
            d = tmp_path / sub
            d.mkdir()
            (d / "index_2013.json").write_text(
                json.dumps({"Filings2013": [row(oid)]})
            )
        # plus a SHORT-ObjectId file in dir a
        (tmp_path / "a" / "index_1999.json").write_text(
            json.dumps({"Filings1999": [row("20")]})
        )
        pat = str(tmp_path / "*" / "index_*.json")
        written = write_objectid_prefix_manifest(pat)
        assert len(written) == 2  # one manifest PER directory
        man_a = json.loads((tmp_path / "a" / "_objectid_prefixes.json").read_text())
        man_b = json.loads((tmp_path / "b" / "_objectid_prefixes.json").read_text())
        assert man_a["files"]["index_2013.json"]["prefixes"] == ["2013"]
        # unprunable evidence
        assert man_a["files"]["index_1999.json"]["prefixes"] is None
        assert man_b["files"]["index_2013.json"]["prefixes"] == ["2015"]

        def rd(**opts):
            r = spark.read.format("irs990index").option("pushdown", "true")
            for k, v in opts.items():
                r = r.option(k, v)
            return r.load(pat)

        # (1) basename collision: dir b's 2015 row found via ITS OWN
        # manifest even though dir a's same-named file says 2013
        got = rd().filter(F.col("ObjectId").startswith("2015")).collect()
        assert [r["ObjectId"] for r in got] == ["2015000001"]

        # (2) short ObjectId survives every mode and constraint shape
        q = F.col("ObjectId") == "20"
        assert rd().filter(q).count() == 1
        assert rd(prune_files="filename").filter(q).count() == 1
        assert rd(prune_files="off").filter(q).count() == 1
        # and a <=-range that covers it doesn't prune its file
        assert (
            rd().filter(F.col("ObjectId") <= "2014").count() == 2
        )  # the '20' row + the 2013 row
    finally:
        if old is None:
            spark.conf.unset("spark.sql.python.filterPushdown.enabled")
        else:
            spark.conf.set("spark.sql.python.filterPushdown.enabled", old)


def test_pushdown_manifest_stale_evidence_is_ignored(spark, tmp_path):
    """Format-2 staleness guard (r13): manifests are now emitted
    AUTOMATICALLY at build/fetch time, so a sidecar can outlive its
    files — an index file re-fetched after the IRS monthly refresh may
    gain prefixes the recorded evidence lacks. An entry whose recorded
    (size, mtime_ns) no longer matches the file must be treated as "no
    evidence, keep", never used to prune."""
    import json

    from pyspark.sql import functions as F

    from irs_990_efiler_database_spark.sources.pydatasource import (
        Irs990IndexDataSource,
        write_objectid_prefix_manifest,
    )

    try:
        spark.dataSource.register(Irs990IndexDataSource)
    except Exception:
        pass
    old = spark.conf.get("spark.sql.python.filterPushdown.enabled", None)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        land = tmp_path / "idx"
        land.mkdir()

        def row(oid):
            return {
                "EIN": "100000001", "TaxPeriod": "201312",
                "DLN": "1", "FormType": "990",
                "URL": "u", "OrganizationName": "O",
                "SubmittedOn": "2014-01-01", "ObjectId": oid,
                "LastUpdated": "2014-01-01",
                "IsElectronic": True, "IsAvailable": True,
            }

        (land / "index_2013.json").write_text(
            json.dumps({"Filings2013": [row("2013000001")]})
        )
        pat = str(land / "index_*.json")
        write_objectid_prefix_manifest(pat)

        # the monthly-refresh scenario: the file is REPLACED and now
        # carries a 2014-prefixed row the evidence knows nothing about
        (land / "index_2013.json").write_text(
            json.dumps(
                {"Filings2013": [row("2013000001"), row("2014000777")]}
            )
        )

        got = (
            spark.read.format("irs990index")
            .option("pushdown", "true")
            .load(pat)
            .filter(F.col("ObjectId").startswith("2014"))
            .collect()
        )
        # stale evidence ignored: the file was kept and the new row found
        assert [r["ObjectId"] for r in got] == ["2014000777"]

        # legacy format-1 manifests still prune (no staleness guard to
        # apply): hand-write one claiming the file holds only 2013
        (land / "_objectid_prefixes.json").write_text(
            json.dumps({"index_2013.json": ["2013"]})
        )
        n = (
            spark.read.format("irs990index")
            .option("pushdown", "true")
            .load(pat)
            .filter(F.col("ObjectId").startswith("2014"))
            .count()
        )
        assert n == 0  # pruned on the legacy evidence, as documented
    finally:
        if old is None:
            spark.conf.unset("spark.sql.python.filterPushdown.enabled")
        else:
            spark.conf.set("spark.sql.python.filterPushdown.enabled", old)


def test_build_index_emits_manifest_by_default(spark, tmp_path):
    """VERDICT r12 next-round #3: build_index over a local glob emits
    the pruning-evidence sidecar as part of the build — no manual
    write_objectid_prefix_manifest step — idempotently (fresh evidence
    is not rewritten) and best-effort (a read-only index directory is
    skipped silently, never an abort)."""
    import glob
    import os
    import shutil
    import stat as _stat

    from irs_990_efiler_database_spark.sources.pydatasource import (
        PREFIX_MANIFEST,
        ensure_objectid_prefix_manifest,
    )

    land = tmp_path / "idx"
    land.mkdir()
    for f in sorted(glob.glob(_GLOB)):
        shutil.copy(f, land)
    pat = str(land / "index_*.json")

    assert build_index(spark, pat).count() > 0
    mpath = land / PREFIX_MANIFEST
    assert mpath.exists()
    st0 = mpath.stat().st_mtime_ns

    # idempotent: a second build leaves fresh evidence untouched
    assert build_index(spark, pat).count() > 0
    assert mpath.stat().st_mtime_ns == st0

    # a changed file refreshes the evidence
    first = sorted(land.glob("index_*.json"))[0]
    first.write_text(first.read_text())
    os.utime(first, ns=(1, 1))
    ensure_objectid_prefix_manifest(pat)
    assert mpath.stat().st_mtime_ns != st0

    # auto_manifest=False leaves the directory alone
    mpath.unlink()
    assert build_index(spark, pat, auto_manifest=False).count() > 0
    assert not mpath.exists()

    # read-only directory: build still succeeds, no sidecar appears
    ro = tmp_path / "ro"
    ro.mkdir()
    for f in sorted(glob.glob(_GLOB)):
        shutil.copy(f, ro)
    os.chmod(ro, _stat.S_IRUSR | _stat.S_IXUSR)
    try:
        is_root = os.geteuid() == 0  # root ignores dir perms; then the
        # write succeeds harmlessly and best-effort is vacuously true
        assert build_index(spark, str(ro / "index_*.json")).count() > 0
        if not is_root:
            assert not (ro / PREFIX_MANIFEST).exists()
    finally:
        os.chmod(ro, 0o755)


def test_build_index_from_urls_save_dir_emits_evidence(spark, tmp_path):
    """VERDICT r12 next-round #3 (fetch path): build_index_from_urls
    with save_dir persists the fetched yearly index files locally AND
    emits the pruning-evidence sidecar — a later pushdown read over
    that directory prunes with no manual step."""
    import glob
    import json
    from pathlib import Path

    from pyspark.sql import functions as F

    from irs_990_efiler_database_spark.sources.index import (
        build_index_from_urls,
    )
    from irs_990_efiler_database_spark.sources.pydatasource import (
        Irs990IndexDataSource,
        PREFIX_MANIFEST,
    )

    src = sorted(glob.glob(_GLOB))[:2]
    urls = [Path(f).resolve().as_uri() for f in src]
    save = tmp_path / "saved"

    idx, failures = build_index_from_urls(
        spark, urls, retries=1, save_dir=str(save)
    )
    assert failures.count() == 0
    n_idx = idx.count()
    assert n_idx > 0

    # the fetched files landed under their URL basenames, bytes intact
    for f in src:
        assert (save / Path(f).name).read_text() == Path(f).read_text()
    man = json.loads((save / PREFIX_MANIFEST).read_text())
    assert man["_format"] == 2
    assert set(man["files"]) == {Path(f).name for f in src}

    # and a pushdown read over the saved dir prunes from it, no manual
    # step: corrupt the non-matching file in a stat-preserving way —
    # the pruned read never opens it
    try:
        spark.dataSource.register(Irs990IndexDataSource)
    except Exception:
        pass
    old = spark.conf.get("spark.sql.python.filterPushdown.enabled", None)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        names = sorted(p.name for p in save.glob("index_*.json"))
        target_prefix = None
        corrupt_name = None
        for name in names:
            pre = man["files"][name]["prefixes"]
            if pre and len(pre) == 1:
                if target_prefix is None:
                    target_prefix = pre[0]
                elif corrupt_name is None and pre[0] != target_prefix:
                    corrupt_name = name
        assert target_prefix and corrupt_name
        _corrupt_keeping_stat(save / corrupt_name)
        got = (
            spark.read.format("irs990index")
            .option("pushdown", "true")
            .load(str(save / "index_*.json"))
            .filter(F.col("ObjectId").startswith(target_prefix))
            .collect()
        )
        assert len(got) > 0
        assert all(r["ObjectId"].startswith(target_prefix) for r in got)
    finally:
        if old is None:
            spark.conf.unset("spark.sql.python.filterPushdown.enabled")
        else:
            spark.conf.set("spark.sql.python.filterPushdown.enabled", old)


def test_manifest_rebuild_skips_its_own_sidecar(tmp_path):
    """ADVICE r13 (high): a dir/*.json glob RE-RUN over a directory
    that already holds a ``_objectid_prefixes.json`` sidecar (the
    monthly-refresh case format 2 was built for) must not feed the
    scanner its own manifest — previously a TypeError escaped from
    _index_rows iterating the {"_format": 2} wrapper."""
    import glob
    import json
    import shutil

    from irs_990_efiler_database_spark.sources.pydatasource import (
        PREFIX_MANIFEST,
        write_objectid_prefix_manifest,
    )

    land = tmp_path / "idx"
    land.mkdir()
    for f in sorted(glob.glob(_GLOB)):
        shutil.copy(f, land)
    pat = str(land / "*.json")  # deliberately matches the sidecar too

    first = write_objectid_prefix_manifest(pat)
    # the re-run (second fetch over the same save_dir) must succeed and
    # record only real index files — never the sidecar itself
    second = write_objectid_prefix_manifest(pat)
    assert first == second
    man = json.loads((land / PREFIX_MANIFEST).read_text())
    assert PREFIX_MANIFEST not in man["files"]
    assert set(man["files"]) == {
        p.name for p in land.glob("*.json") if not p.name.startswith("_")
    }


def test_build_index_from_urls_all_failures_returns_data_not_abort(
    spark, tmp_path
):
    """ADVICE r13 (medium): with EVERY fetch failing and save_dir set,
    the build must honor the dead-letter contract — failures come back
    as rows in ``failures``, never as a FileNotFoundError abort from
    the (empty-glob) manifest writer."""
    from irs_990_efiler_database_spark.sources.index import (
        build_index_from_urls,
    )

    save = tmp_path / "saved"
    idx, failures = build_index_from_urls(
        spark,
        [(tmp_path / "nope_2015.json").as_uri()],
        retries=1,
        save_dir=str(save),
    )
    assert idx.count() == 0
    rows = failures.collect()
    assert len(rows) == 1 and rows[0]["error"]
    # no sidecar was emitted for a directory with no saved files
    assert not list(save.glob("_*.json"))


def test_ensure_manifest_per_directory_staleness(tmp_path):
    """ADVICE r13 (low): with a multi-directory glob, only the STALE
    directory's manifest is re-derived; the fresh directory's manifest
    is untouched and its path still appears in the return value."""
    import glob
    import os
    import shutil

    from irs_990_efiler_database_spark.sources.pydatasource import (
        PREFIX_MANIFEST,
        ensure_objectid_prefix_manifest,
    )

    src = sorted(glob.glob(_GLOB))[:2]
    d1, d2 = tmp_path / "a", tmp_path / "b"
    d1.mkdir(), d2.mkdir()
    shutil.copy(src[0], d1)
    shutil.copy(src[1], d2)
    pat = [str(d1 / "index_*.json"), str(d2 / "index_*.json")]

    got = ensure_objectid_prefix_manifest(pat)
    m1, m2 = d1 / PREFIX_MANIFEST, d2 / PREFIX_MANIFEST
    assert sorted(got) == sorted([str(m1), str(m2)])
    t1, t2 = m1.stat().st_mtime_ns, m2.stat().st_mtime_ns

    # stale only d2; d1's manifest must NOT be rewritten, and both
    # paths must come back
    f2 = next(d2.glob("index_*.json"))
    os.utime(f2, ns=(1, 1))
    got = ensure_objectid_prefix_manifest(pat)
    assert sorted(got) == sorted([str(m1), str(m2)])
    assert m1.stat().st_mtime_ns == t1  # fresh dir untouched
    assert m2.stat().st_mtime_ns != t2  # stale dir re-derived

    # an unreadable manifest in one dir likewise re-derives only there
    m1.write_text("{ not json")
    got = ensure_objectid_prefix_manifest(pat)
    assert sorted(got) == sorted([str(m1), str(m2)])
    import json

    assert json.loads(m1.read_text())["_format"] == 2
