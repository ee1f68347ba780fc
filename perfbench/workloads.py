"""The benchmark's workloads. Each is one closed-loop client whose
iterations run back to back through two timed phases:

1. land: new filings reach the database through the pipeline;
2. query: ``jobs.validate_database`` plus analyst reads through
   ``sinks.read_table``: DTK compensation totals by tax year and EIN
   point lookups on CORE.

The workloads differ in how filings land. Every pipeline call goes
through a module attribute (``jobs.build_database``, ...), so a traced
run sees it.
"""

from __future__ import annotations

import random
import shutil
from pathlib import Path

import check
import gen
from irs_990_efiler_database_spark import jobs, sinks
from irs_990_efiler_database_spark.sources import fetch, index
from pyspark.sql import functions as F

N_AMEND = 5  # amended CORE rows in each monthly update
N_LOOKUP = 2  # untouched Form 990 filings looked up and spot-checked


class Workload:
    name = ""

    def __init__(self, work: Path, seed: int):
        self.work, self.seed = work, seed
        self.rng = random.Random(seed)
        self.texts = gen.templates()
        self.tables = gen.table_list()
        self.spark = self.tracer = None
        self.cores = 1
        self.k_next = 0  # iteration number of the next reset
        self.lookup: dict[str, str] = {}  # EIN -> expected NAME

    def attach(self, spark, tracer, cores: int) -> None:
        self.spark, self.tracer, self.cores = spark, tracer, cores

    def choose_lookups(self, docs: list[gen.Doc], url_of, skip: set[str]) -> None:
        """Untouched Form 990 filings to look up by EIN and spot-check
        against their golden CORE and DTK rows."""
        pool = [
            d for d in docs
            if not d.corrupt and d.formtype == "990" and d.object_id not in skip
        ]
        self.spot = [(d, url_of(d)) for d in self.rng.sample(pool, N_LOOKUP)]
        for d, url in self.spot:
            core = gen.golden_rows(d, url)[0]
            self.lookup[core["EIN"]] = core["NAME"]

    # ------------------------------------------------- timed phases

    def query(self) -> dict:
        db = self.db
        checks = jobs.validate_database(self.spark, str(db))
        comp = (
            sinks.read_table(self.spark, str(db / gen.DTK))
            .groupBy("TAXYR")
            .agg(F.sum(F.col(gen.DTK_COMP).cast("long")).alias("comp"))
            .collect()
        )
        core = sinks.read_table(self.spark, str(db / "CORE"))
        looks = {
            ein: [r.asDict() for r in core.filter(F.col("EIN") == ein).select("NAME").collect()]
            for ein in self.lookup
        }
        return {
            "validate": checks,
            "comp": {r["TAXYR"]: r["comp"] for r in comp},
            "lookups": looks,
        }

    # ------------------------------------------------ untimed checks

    def check_land(self, land: dict, exp: gen.Expected) -> list[str]:
        """The build's own row counts against the expected ones."""
        r = land["result"]
        problems = check.check_counts("land", r.rows, exp.rows)
        if r.dead_rows != exp.dead:
            problems.append(f"land: {r.dead_rows} dead letters, expected {exp.dead}")
        return problems

    def check_tail(self, q: dict) -> list[str]:
        """Final on-disk state, the query answers and a golden spot
        check of untouched CORE and DTK rows (read with pyarrow)."""
        exp = self.expected
        problems = check.check_database(self.db, self.tables, exp.rows, exp.dead)
        problems += check.check_validate(q["validate"])
        problems += check.check_comp_totals(q["comp"], exp.dtk_comp_by_year)
        problems += check.check_lookups(q["lookups"], self.lookup)
        try:
            for d, url in self.spot:
                want_core, want_dtk = gen.golden_rows(d, url)
                got = check.read_rows(self.db / "CORE", "URL", url)
                if len(got) != 1:
                    problems.append(f"CORE {d.object_id}: {len(got)} rows")
                else:
                    problems += check.check_core_row(d.object_id, got[0], want_core)
                got = check.read_rows(self.db / gen.DTK, "OBJECT_ID", d.object_id)
                problems += check.check_dtk_rows(d.object_id, got, want_dtk)
        except Exception as exc:  # noqa: BLE001 - an unreadable table is a finding
            problems.append(f"spot check: {type(exc).__name__}: {exc}")
        return problems


class BuildFixture(Workload):
    """A filing year of fixture-size documents through the whole first
    mile: index, filter, fetch (file:// URLs) and the batch build."""

    name = "build_fixture"
    n_docs = 260  # a multiple of the 13 fixture templates: the same form mix for every seed

    def generate(self) -> None:
        docs = gen.make_docs(self.texts, gen.base_index(self.seed), self.n_docs, False)
        urls = gen.write_raw_files(docs, self.work / "raw")
        kept = gen.write_index(docs, urls, self.work / "index", self.seed)
        docs = [d for d in docs if d.object_id in kept]
        url_of = lambda d: urls[d.object_id]  # noqa: E731
        self.expected = gen.expected_for(docs, url_of, realistic=False)
        self.docs = len(docs)
        self.choose_lookups(docs, url_of, skip=set())

    def setup(self) -> None:
        pass

    def reset(self, k: int) -> None:
        shutil.rmtree(self.work / "out", ignore_errors=True)
        self.out = self.work / "out" / str(k)
        self.bundle, self.db = self.out / "bundle", self.out / "db"

    def land(self) -> dict:
        with self.tracer.span("bench.index"):
            idx = index.filter_index(
                index.build_index(self.spark, str(self.work / "index" / "index_*.json"))
            )
            kept = idx.count()
        fetched, failures = fetch.fetch_to_bundle(
            self.spark,
            idx.select(F.col("URL").alias("url")),
            str(self.bundle),
            partitions=self.cores,
        )
        result = jobs.build_database(
            self.spark, str(self.db), bundle_path=str(self.bundle), index=idx
        )
        return {"kept": kept, "fetched": fetched, "failures": failures, "result": result}

    def written(self) -> list[Path]:
        return check.parquet_files(self.out)

    def rewritten(self, written: list[Path]) -> int:
        return 0

    def parse_input(self) -> list[str]:
        return [str(p) for p in check.parquet_files(self.bundle)]

    def check(self, land: dict, q: dict) -> list[str]:
        problems = []
        if land["kept"] != self.docs or land["fetched"] != self.docs:
            problems.append(
                f"index kept {land['kept']} and fetched {land['fetched']}, "
                f"expected {self.docs}"
            )
        land["fetch_failed"] = land["failures"].count()
        land["bundle_mb"] = check.parquet_bytes(self.bundle) / 1e6
        if land["fetch_failed"]:
            problems.append(f"fetch: {land['fetch_failed']} failures")
        return problems + self.check_land(land, self.expected) + self.check_tail(q)


class MonthlyUpdate(Workload):
    """A monthly update of a database that already exists: a drop of
    realistic-size filings lands in the streaming landing directory and
    ``build_database_incremental`` (availableNow) commits it, then the
    month's amended CORE rows are merged with
    ``sinks.upsert_partitions``. Every iteration starts from the same
    restored base state."""

    name = "monthly_update"
    n_base = 13  # base and drop are whole multiples of the 13 templates
    n_drop = 26

    def generate(self) -> None:
        start = gen.base_index(self.seed)
        base = gen.make_docs(self.texts, start, self.n_base, True)
        # the drop spans index start + 99, so one of its filings is truncated
        drop = gen.make_docs(self.texts, start + 80, self.n_drop, True)
        self.landing, self.ckpt, self.db = (
            self.work / "landing",
            self.work / "ckpt",
            self.work / "db",
        )
        url = gen.synthetic_url
        gen.write_bundle(base, self.landing, 2, url, prefix="base")
        gen.write_bundle(drop, self.work / "drop", 2, url, prefix="drop")
        self.docs = len(drop)
        self.expected_base = gen.expected_for(base, url, realistic=True)
        self.expected_drop = gen.expected_for(drop, url, realistic=True)
        self.expected = gen.Expected()
        self.expected += self.expected_base
        self.expected += self.expected_drop
        good = [d for d in base if not d.corrupt]
        amended = self.rng.sample(good, N_AMEND)
        self.amend_rows = []
        for d in amended:
            row = gen.golden_rows(d, url(d))[0]
            row["NAME"] = f"AMENDED {d.object_id}"
            row["_batch"] = "0"  # the base month's micro-batch
            self.amend_rows.append(row)
        self.lookup = {r["EIN"]: r["NAME"] for r in self.amend_rows[:1]}
        self.choose_lookups(base, url, skip={d.object_id for d in amended})

    def setup(self) -> None:
        """Build the base month, check it and keep a copy of its state."""
        result = jobs.build_database_incremental(
            self.spark, str(self.db), str(self.landing), str(self.ckpt)
        )
        exp = self.expected_base
        problems = self.check_land({"result": result}, exp)
        problems += check.check_database(self.db, self.tables, exp.rows, exp.dead)
        if problems:
            raise RuntimeError(f"base month failed: {problems}")
        for d in (self.db, self.landing, self.ckpt):
            shutil.copytree(d, self.work / "snapshot" / d.name)
        self.base_files = set(check.parquet_files(self.db))

    def reset(self, k: int) -> None:
        """Restore the base state at the same paths (the checkpoint
        records absolute landing paths); the drop lands beside it."""
        for d in (self.db, self.landing, self.ckpt):
            shutil.rmtree(d, ignore_errors=True)
            shutil.copytree(self.work / "snapshot" / d.name, d)
        for p in (self.work / "drop").glob("*.parquet"):
            shutil.copy(p, self.landing / f"{k}-{p.name}")

    def amend(self) -> None:
        path = str(self.db / "CORE")
        schema = sinks.read_table(self.spark, path).schema
        updates = self.spark.createDataFrame(
            [tuple(r.get(f.name) for f in schema) for r in self.amend_rows], schema
        )
        sinks.upsert_partitions(
            self.spark,
            path,
            updates,
            key_cols=("URL",),
            partition_by=("FISYR", "FORMTYPE", "_batch"),
        )

    def land(self) -> dict:
        result = jobs.build_database_incremental(
            self.spark, str(self.db), str(self.landing), str(self.ckpt)
        )
        with self.tracer.span("bench.amend"):
            self.amend()
        return {"result": result}

    def written(self) -> list[Path]:
        return [p for p in check.parquet_files(self.db) if p not in self.base_files]

    def rewritten(self, written: list[Path]) -> int:
        """Base CORE partitions the amendments rewrote."""
        return len({p.parent for p in written if p.parent.name == "_batch=0"})

    def parse_input(self) -> list[str]:
        return [str(p) for p in sorted(self.landing.glob("*-drop-*.parquet"))]

    def check(self, land: dict, q: dict) -> list[str]:
        return self.check_land(land, self.expected_drop) + self.check_tail(q)


WORKLOADS = {w.name: w for w in (BuildFixture, MonthlyUpdate)}
