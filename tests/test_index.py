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


def test_build_index_from_urls_save_dir_persists_files(spark, tmp_path):
    """build_index_from_urls with save_dir persists each fetched yearly
    index file under its URL basename, bytes intact, and build_index
    over that directory reads back the same rows."""
    import glob
    from pathlib import Path

    from irs_990_efiler_database_spark.sources.index import (
        build_index_from_urls,
    )

    src = sorted(glob.glob(_GLOB))[:2]
    urls = [Path(f).resolve().as_uri() for f in src]
    save = tmp_path / "saved"

    idx, failures = build_index_from_urls(
        spark, urls, retries=1, save_dir=str(save)
    )
    assert failures.count() == 0
    assert idx.count() > 0

    # the fetched files landed under their URL basenames, bytes intact
    for f in src:
        assert (save / Path(f).name).read_text() == Path(f).read_text()
    key = lambda r: r["ObjectId"]  # noqa: E731
    reread = build_index(spark, str(save / "*.json"))
    assert sorted(reread.collect(), key=key) == sorted(idx.collect(), key=key)


def test_build_index_leaves_its_input_directory_unchanged(spark, tmp_path):
    """build_index is a pure read: the index directory holds the same
    names with the same sizes and mtimes after the build as before."""
    import glob
    import shutil

    land = tmp_path / "idx"
    land.mkdir()
    for f in sorted(glob.glob(_GLOB)):
        shutil.copy(f, land)

    def listing():
        return {
            p.name: (p.stat().st_size, p.stat().st_mtime_ns)
            for p in land.iterdir()
        }

    before = listing()
    assert build_index(spark, str(land / "index_*.json")).count() == 25
    assert listing() == before


def test_build_index_from_urls_all_failures_returns_data_not_abort(
    spark, tmp_path
):
    """ADVICE r13 (medium): with EVERY fetch failing and save_dir set,
    the build must honor the dead-letter contract — failures come back
    as rows in ``failures``, never as an abort."""
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
    # nothing was fetched, so nothing was saved
    assert not list(save.iterdir())
