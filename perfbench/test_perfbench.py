"""Tests of the benchmark's own generator, output checks and failure
accounting. Run from the checkout root:

    python3 -m pytest perfbench -q

The last test starts a local Spark session and builds a tiny database
(about a minute on 4 cores).
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def write_table(root: Path, parts: dict[str, int]) -> None:
    """A hive-partitioned parquet table: partition dir -> row count."""
    for part, n in parts.items():
        d = root / part
        d.mkdir(parents=True)
        pq.write_table(
            pa.table({"URL": [f"u{i}" for i in range(n)], "NAME": ["x"] * n}),
            d / "part-00000.parquet",
        )


# ------------------------------------------------------------ generator


def test_generator_is_seeded_and_names_files_by_object_id(tmp_path):
    texts = gen.templates()
    a = gen.make_docs(texts, gen.base_index(7), 200, False)
    b = gen.make_docs(texts, gen.base_index(7), 200, False)
    c = gen.make_docs(texts, gen.base_index(8), 200, False)
    assert [d.xml for d in a] == [d.xml for d in b]
    assert {d.object_id for d in a}.isdisjoint(d.object_id for d in c)
    assert sum(d.corrupt for d in a) == 2  # ~1% truncated
    urls = gen.write_raw_files(a, tmp_path / "raw")
    assert all(u.endswith(f"/{oid}_public.xml") for oid, u in urls.items())
    kept = gen.write_index(a, urls, tmp_path / "index", seed=7)
    assert kept == gen.write_index(a, urls, tmp_path / "index2", seed=7)
    filings = [
        f
        for p in sorted((tmp_path / "index").glob("index_*.json"))
        for f in next(iter(json.loads(p.read_text()).values()))
    ]
    assert {f["ObjectId"] for f in filings} == {d.object_id for d in a}
    listed = {d.object_id for d in a if d.formtype in gen.INDEX_FORMS}
    assert kept <= listed and len(kept) >= 0.9 * len(listed)


def test_expected_counts_skip_truncated_documents():
    texts = gen.templates()
    docs = gen.make_docs(texts, 0, 100, False)
    exp = gen.expected_for(docs, gen.synthetic_url, realistic=False)
    assert exp.dead == 1
    assert exp.rows["CORE"] == 99


def test_realistic_documents_change_with_the_seed():
    texts = gen.templates()
    a = gen.make_docs(texts, gen.base_index(1), 13, True)
    b = gen.make_docs(texts, gen.base_index(2), 13, True)
    assert [len(d.xml) for d in a] != [len(d.xml) for d in b]
    assert all(len(d.xml) > 40_000 for d in a if not d.corrupt)


# --------------------------------------------------------------- checks


def test_database_check_passes_on_the_expected_counts(tmp_path):
    write_table(tmp_path / "T", {"Y=1": 3, "Y=2": 4})
    write_table(tmp_path / "DEAD-LETTER", {"_batch=0": 1})
    assert check.check_database(tmp_path, ["T"], {"T": 7}, 1) == []


def test_a_wrong_expected_row_count_fails(tmp_path):
    write_table(tmp_path / "T", {"Y=1": 3, "Y=2": 4})
    write_table(tmp_path / "DEAD-LETTER", {"_batch=0": 1})
    assert check.check_database(tmp_path, ["T"], {"T": 8}, 1)
    assert check.check_database(tmp_path, ["T"], {"T": 7}, 2)
    assert check.check_counts("land", {"T": 7}, {"T": 7, "U": 1})


def test_a_corrupted_output_table_fails(tmp_path):
    write_table(tmp_path / "T", {"Y=1": 3, "Y=2": 4})
    write_table(tmp_path / "DEAD-LETTER", {"_batch=0": 1})
    f = tmp_path / "T" / "Y=2" / "part-00000.parquet"
    f.write_bytes(f.read_bytes()[: f.stat().st_size // 2])
    problems = check.check_database(tmp_path, ["T"], {"T": 7}, 1)
    assert problems and "on disk" in problems[0]


def test_a_lost_partition_fails(tmp_path):
    write_table(tmp_path / "T", {"Y=1": 3, "Y=2": 4})
    write_table(tmp_path / "DEAD-LETTER", {"_batch=0": 1})
    (tmp_path / "T" / "Y=2" / "part-00000.parquet").unlink()
    assert check.check_database(tmp_path, ["T"], {"T": 7}, 1)


def test_query_answer_checks():
    assert check.check_validate({"a": 0, "b": 0}) == []
    assert check.check_validate({"a": 0, "b": 1})
    assert check.check_validate({})
    assert check.check_comp_totals({"2014": 5, "2015": None}, {"2014": 5, "2015": 0}) == []
    assert check.check_comp_totals({"2014": 6}, {"2014": 5})
    want = {"1": "A", "2": "AMENDED 9"}
    assert check.check_lookups({"1": [{"NAME": "A"}], "2": [{"NAME": "AMENDED 9"}]}, want) == []
    assert check.check_lookups({"1": [{"NAME": "A"}], "2": [{"NAME": "B"}]}, want)
    assert check.check_lookups({"1": [{"NAME": "A"}] * 2, "2": [{"NAME": "AMENDED 9"}]}, want)


def test_golden_spot_checks():
    texts = gen.templates()
    doc = next(d for d in gen.make_docs(texts, 0, 13, False) if d.formtype == "990")
    url = gen.synthetic_url(doc)
    core, dtk = gen.golden_rows(doc, url)
    assert check.check_core_row(doc.object_id, dict(core), core) == []
    assert check.check_core_row(doc.object_id, {**core, "NAME": "WRONG"}, core)
    assert dtk
    assert check.check_dtk_rows(doc.object_id, [dict(r) for r in dtk], dtk) == []
    assert check.check_dtk_rows(doc.object_id, dtk[1:], dtk)


def test_read_rows_reads_underscore_partitions(tmp_path):
    write_table(tmp_path / "T" / "_batch=0", {"Y=1": 2})
    rows = check.read_rows(tmp_path / "T", "URL", "u1")
    assert [(r["URL"], str(r["Y"]), str(r["_batch"])) for r in rows] == [("u1", "1", "0")]


# ---------------------------------------------------- failure accounting


def test_a_failed_check_counts_against_the_run():
    outcomes = iter([[]])

    def iterate(traced):
        return {"traced": traced, "problems": next(outcomes)}

    iters, attempted, failed = run.timed_loop(iterate, 0, False, float("inf"))
    assert (len(iters), attempted, failed) == (1, 1, 0)
    outcomes = iter([[], ["CORE has 1 rows, expected 2"], []])
    iters, attempted, failed = run.timed_loop(iterate, 0, True, float("inf"))
    assert (attempted, failed) == (3, 1)
    assert [it["traced"] for it in iters] == [True, False, True]


def test_a_raising_iteration_counts_against_the_run():
    def iterate(traced):
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError, match="no iteration completed"):
        run.timed_loop(iterate, 0, False, float("inf"))


def test_every_workload_is_declared_with_its_reason():
    from workloads import WORKLOADS

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = {w["name"]: w["why"] for w in bench["workloads"]}
    assert set(declared) == set(WORKLOADS)
    assert all(why.strip() for why in declared.values())
    assert "setup_s" in {m["name"] for m in bench["end_to_end"]}


# ------------------------------------------------------------- clean-up


def test_stop_processes_ends_and_reaps_a_child_that_ignores_sigterm():
    import subprocess

    child = subprocess.Popen(
        [sys.executable, "-c",
         "import signal, time; signal.signal(signal.SIGTERM, signal.SIG_IGN); "
         "time.sleep(60)"]
    )
    run.stop_processes(grace_s=0.2)
    assert child.pid not in run.descendants()
    assert not os.path.exists(f"/proc/{child.pid}")  # reaped, not a zombie


# ------------------------------------------------------------- end to end


@pytest.fixture(scope="module")
def tiny_build(tmp_path_factory):
    """A 26-filing year through index, fetch and the batch build."""
    from workloads import BuildFixture

    work = tmp_path_factory.mktemp("perfbench")
    run.prepare_env(work)
    host = run.host_fit()
    spark = run.start_session(work, host, trace=False)
    from tracing import Tracer

    wl = BuildFixture(work, seed=3)
    wl.n_docs = 26
    wl.generate()
    wl.attach(spark, Tracer(spark), host["cpus"])
    it = run.run_iteration(wl, wl.tracer, traced=False)
    yield wl, it
    run.stop_spark(spark)


def test_tiny_build_is_correct(tiny_build):
    wl, it = tiny_build
    assert it["problems"] == []
    assert it["docs"] == wl.expected.rows["CORE"]


def test_tiny_build_fails_on_a_wrong_expected_count(tiny_build):
    wl, _ = tiny_build
    wl.expected.rows["CORE"] += 1
    try:
        it = run.run_iteration(wl, wl.tracer, traced=False)
    finally:
        wl.expected.rows["CORE"] -= 1
    assert any("CORE" in p for p in it["problems"])


def test_tiny_build_fails_on_a_corrupted_table(tiny_build):
    wl, _ = tiny_build
    f = check.parquet_files(wl.db / gen.DTK)[0]
    f.write_bytes(b"not parquet")
    problems = wl.check_tail(
        {"validate": {"ok": 0}, "comp": dict(wl.expected.dtk_comp_by_year),
         "lookups": {e: [{"NAME": n}] for e, n in wl.lookup.items()}}
    )
    assert any("on disk" in p for p in problems)
    assert os.path.exists(f)
