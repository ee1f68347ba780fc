"""Custom Python DataSource (Spark 4 ``pyspark.sql.datasource`` API)
for the yearly filing-index files — the connector-surface counterpart
of ``sources.index.read_index_files``.

Why both exist: the wholetext+``from_json`` path is the plan-native
route (JVM parsing, Catalyst all the way down) and stays the default;
this DataSource demonstrates the engine's *extension* surface — the
same one a user would implement for a REST catalog, a proprietary
archive format, or a paginated API the built-in readers can't express.
The scale contract is the partition list: ONE InputPartition per index
file, so a 30-file index fans out to 30 executor-side tasks, each
parsing its own file with the stdlib ``json`` module and yielding
tuples; no driver-side row materialization.

Registration:
    spark.dataSource.register(Irs990IndexDataSource)
    spark.read.format("irs990index").load("/path/index_*.json")
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from .index import INDEX_ENTRY


class _IndexFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


def _index_rows(path: str):
    """Parse one yearly index file into schema-ordered tuples — the
    shared kernel of all three read paths (batch partitions, stream
    partitions, simple driver-side stream)."""
    import json

    with open(path, encoding="utf-8") as fh:
        wrapped = json.load(fh)
    fields = [f.name for f in INDEX_ENTRY.fields]
    # the wrapping key varies per year ({"Filings2015": [...]})
    for entries in wrapped.values():
        for e in entries:
            yield tuple(e.get(name) for name in fields)


PREFIX_MANIFEST = "_objectid_prefixes.json"


def write_objectid_prefix_manifest(
    path_glob: str | list[str],
) -> list[str]:
    """Scan every index file matching ``path_glob`` and record the set
    of 4-char ObjectId prefixes each file actually CONTAINS into a
    ``_objectid_prefixes.json`` sidecar in the same directory.

    This is the one-time verification step that makes pushdown
    file-level pruning safe on real IRS data: the reference documents
    ObjectId only as "Tax Period + DLN (sortof)"
    (Build-Efiler-Index.md:16), so a yearly file may legally hold a
    cross-year ObjectId prefix — pruning by FILENAME would then drop
    matching rows silently. Run this when the index is built/fetched
    (it is one sequential pass over data the build already reads);
    ``Irs990IndexPushdownReader`` prunes from the manifest whenever it
    exists and otherwise keeps every file.

    Returns the list of manifest paths written — ONE PER DIRECTORY
    (each manifest describes only its own directory's files, so a
    multi-directory glob with colliding basenames can never record one
    file's evidence under another's name). A file containing any row
    whose ObjectId is missing, non-string or shorter than 4 chars is
    recorded as ``null`` = "no pruning evidence, always keep".

    Format 2 (r13): each entry carries the file's (size, mtime_ns) at
    scan time. Now that the engine emits manifests AUTOMATICALLY at
    index build/fetch time (``ensure_objectid_prefix_manifest``), a
    sidecar can outlive its files — an index file re-fetched after the
    IRS monthly refresh could legally gain new prefixes and would be
    silently pruned on stale evidence. The reader treats any entry
    whose recorded stat no longer matches the file as "no evidence,
    keep" — stale evidence is no evidence. Legacy format-1 manifests
    (flat basename → prefixes) are still honored, without the
    staleness guard."""
    import glob as _glob
    import json
    import os
    from collections import defaultdict

    globs = [path_glob] if isinstance(path_glob, str) else list(path_glob)
    # _-prefixed basenames are metadata sidecars (the same hidden-file
    # convention Irs990IndexReader.partitions applies) — without this
    # exclusion a dir/*.json glob re-run after a prior build would feed
    # this scanner its OWN _objectid_prefixes.json and crash in
    # _index_rows on the {"_format": 2} wrapper.
    paths = sorted(
        {
            p
            for g in globs
            for p in _glob.glob(g)
            if not os.path.basename(p).startswith("_")
        }
    )
    if not paths:
        raise FileNotFoundError(str(path_glob))
    oid_i = next(
        i for i, f in enumerate(INDEX_ENTRY.fields) if f.name == "ObjectId"
    )
    by_dir: dict[str, dict[str, dict]] = defaultdict(dict)
    for p in paths:
        st = os.stat(p)
        prefixes: set[str] | None = set()
        for row in _index_rows(p):
            v = row[oid_i]
            if isinstance(v, str) and len(v) >= 4:
                prefixes.add(v[:4])
            else:
                prefixes = None  # un-prefixed row: file is unprunable
                break
        by_dir[os.path.dirname(p)][os.path.basename(p)] = {
            "prefixes": sorted(prefixes) if prefixes is not None else None,
            "size": st.st_size,
            "mtime_ns": st.st_mtime_ns,
        }
    written = []
    for d, files in by_dir.items():
        out = os.path.join(d, PREFIX_MANIFEST)
        tmp = out + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(
                {"_format": 2, "files": files}, fh, indent=1, sort_keys=True
            )
        os.replace(tmp, out)
        written.append(out)
    return written


def _manifest_prefixes(man: dict | None, path: str) -> list[str] | None:
    """Pruning evidence for ``path`` from a loaded manifest, or None =
    "keep". Handles both formats; format-2 entries are validated
    against the file's CURRENT stat — a changed file invalidates its
    evidence."""
    import os

    if man is None:
        return None
    base = os.path.basename(path)
    if man.get("_format") == 2:
        entry = (man.get("files") or {}).get(base)
        if not isinstance(entry, dict):
            return None
        try:
            st = os.stat(path)
        except OSError:
            return None
        if (
            st.st_size != entry.get("size")
            or st.st_mtime_ns != entry.get("mtime_ns")
        ):
            return None  # stale evidence is no evidence
        return entry.get("prefixes")
    return man.get(base)  # legacy format 1


def ensure_objectid_prefix_manifest(
    path_glob: str | list[str],
) -> list[str]:
    """Best-effort, idempotent manifest emission for the index
    build/fetch paths (VERDICT r12 next-round #3): when every matched
    file already has FRESH format-2 evidence, this is a stat + one
    small JSON read per directory; otherwise the manifests are
    (re)written. Returns the manifest paths now valid, or [] when the
    glob matches nothing local or the directory is unwritable (a
    read-only or remote index is a legitimate deployment — pruning
    then simply has no evidence and keeps every file)."""
    import glob as _glob
    import json
    import os
    from collections import defaultdict

    globs = [path_glob] if isinstance(path_glob, str) else list(path_glob)
    paths = sorted(
        {
            p
            for g in globs
            for p in _glob.glob(g)
            if not os.path.basename(p).startswith("_")
        }
    )
    if not paths:
        return []
    by_dir: dict[str, list[str]] = defaultdict(list)
    for p in paths:
        by_dir[os.path.dirname(p)].append(p)

    def entry_fresh(man: dict, path: str) -> bool:
        entry = (man.get("files") or {}).get(os.path.basename(path))
        if not isinstance(entry, dict):
            return False
        try:
            st = os.stat(path)
        except OSError:
            return False
        return (
            st.st_size == entry.get("size")
            and st.st_mtime_ns == entry.get("mtime_ns")
        )

    # staleness is tracked PER DIRECTORY: one stale/unreadable
    # directory re-derives only its own manifest — fresh directories
    # keep their evidence untouched and their paths stay in the return
    # value (ADVICE r13: the old for/break/else rewrote everything and
    # dropped the fresh paths accumulated before the break).
    valid: list[str] = []
    for d, files in sorted(by_dir.items()):
        mpath = os.path.join(d, PREFIX_MANIFEST)
        try:
            with open(mpath, encoding="utf-8") as fh:
                man = json.load(fh)
        except (OSError, ValueError):
            man = None
        if (
            man is not None
            and man.get("_format") == 2
            and all(entry_fresh(man, p) for p in files)
        ):
            valid.append(mpath)
            continue
        try:
            valid.extend(
                write_objectid_prefix_manifest(
                    [_glob.escape(p) for p in files]
                )
            )
        except OSError:
            pass  # read-only index dir: no evidence, never an abort
    return valid


class Irs990IndexReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("irs990index requires a path (load(<glob>))")

    def partitions(self) -> list[InputPartition]:
        # driver-side listing only — file CONTENTS are read on
        # executors. glob covers local/NFS test paths; a cloud
        # deployment would list via its object-store SDK here.
        import glob as _glob
        import os

        # _-prefixed basenames are metadata sidecars (the Spark/Hadoop
        # hidden-file convention), e.g. _objectid_prefixes.json
        paths = sorted(
            p
            for p in _glob.glob(self.path)
            if not os.path.basename(p).startswith("_")
        )
        if not paths:
            raise FileNotFoundError(self.path)
        return [_IndexFilePartition(p) for p in paths]

    def read(self, partition: _IndexFilePartition):
        yield from _index_rows(partition.path)


class Irs990IndexPushdownReader(Irs990IndexReader):
    """FILTER-PUSHDOWN variant of the batch reader (Spark 4.1
    ``DataSourceReader.pushFilters``), opted into with
    ``.option("pushdown", "true")`` — implementing ``pushFilters`` on
    the default reader would make every existing read raise
    DATA_SOURCE_PUSHDOWN_DISABLED unless the session sets
    ``spark.sql.python.filterPushdown.enabled``, so the plain reader
    stays pushdown-free and this one is explicit opt-in (enable the
    conf alongside the option).

    Accepted (everything else is returned to Spark, which keeps a
    Filter node for it): EqualTo / In / IsNotNull / StringStartsWith
    on top-level columns. Accepted filters are REMOVED from Spark's
    plan, so ``read()`` applies them exactly, row-by-row during the
    executor-side parse — rows drop before Arrow serialization to the
    JVM instead of after.

    File-level pruning (the connector analog of parquet partition
    pruning): an accepted ObjectId prefix constraint
    (StringStartsWith with >=4 chars, or EqualTo) can skip whole files
    in ``partitions()``. Because the reference documents ObjectId only
    as "Tax Period + DLN (sortof)" (Build-Efiler-Index.md:16) — i.e. a
    yearly ``index_<year>.json`` file is NOT guaranteed to hold only
    <year>-prefixed ObjectIds on real data — pruning is evidence-based
    by default: it uses the VERIFIED per-file prefix sets from the
    ``_objectid_prefixes.json`` sidecar (written once at index
    build/fetch time by :func:`write_objectid_prefix_manifest`); with
    no manifest present, no file is skipped (row-level pushdown stays
    exact either way). ``.option("prune_files", "filename")`` opts
    into the filename-implies-prefix heuristic for corpora known to
    satisfy it; ``"off"`` disables pruning entirely."""

    def __init__(self, options: dict):
        super().__init__(options)
        self._pushed: list = []
        self._prune_mode = options.get("prune_files", "manifest").lower()
        if self._prune_mode not in ("manifest", "filename", "off"):
            raise ValueError(
                "prune_files must be one of manifest|filename|off, got "
                f"{self._prune_mode!r}"
            )

    def pushFilters(self, filters):
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            IsNotNull,
            IsNull,
            LessThan,
            LessThanOrEqual,
            StringContains,
            StringEndsWith,
            StringStartsWith,
        )

        supported = (
            EqualTo,
            In,
            IsNotNull,
            IsNull,
            StringStartsWith,
            StringEndsWith,
            StringContains,
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
        )
        for f in filters:
            if isinstance(f, supported) and len(f.attribute) == 1:
                self._pushed.append(f)
            else:
                yield f  # unsupported: Spark keeps its Filter node

    def _object_id_years(self) -> set[str] | None:
        """Filing years constrained by an accepted ObjectId prefix
        filter (None = unconstrained)."""
        from pyspark.sql.datasource import EqualTo, StringStartsWith

        years: set[str] | None = None
        for f in self._pushed:
            if f.attribute != ("ObjectId",):
                continue
            # a constraint shorter than 4 chars pins no full year —
            # e.g. EqualTo('20') can only match a SHORT ObjectId, and
            # files holding those are marked unprunable in the
            # manifest, so deriving {'20'} here would wrongly prune
            # every normally-prefixed file
            if (
                isinstance(f, (StringStartsWith, EqualTo))
                and isinstance(f.value, str)
                and len(f.value) >= 4
            ):
                ys = {f.value[:4]}
            else:
                continue
            years = ys if years is None else (years & ys)
        return years

    def _object_id_prefix_bounds(self) -> tuple[str | None, str | None]:
        """(lo, hi) INCLUSIVE bounds on a row's 4-char ObjectId prefix
        implied by accepted range filters. Sound because string order
        is lexicographic: ``oid >= V`` (or ``>``) forces
        ``oid[:4] >= V[:4]`` and ``oid <= V`` (or ``<``) forces
        ``oid[:4] <= V[:4]`` — a prefix strictly outside the bound
        decides the whole comparison at its first differing char."""
        from pyspark.sql.datasource import (
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
        )

        lo: str | None = None
        hi: str | None = None
        ranges = (GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)
        for f in self._pushed:
            if (
                f.attribute != ("ObjectId",)
                or not isinstance(f, ranges)
                or not isinstance(f.value, str)
            ):
                continue
            p = f.value[:4]
            if len(p) < 4:
                continue
            if isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                lo = p if lo is None or p > lo else lo
            else:
                hi = p if hi is None or p < hi else hi
        return lo, hi

    def partitions(self) -> list[InputPartition]:
        import json
        import os
        import re

        parts = super().partitions()
        years = self._object_id_years()
        lo, hi = self._object_id_prefix_bounds()
        if (
            years is None and lo is None and hi is None
        ) or self._prune_mode == "off":
            return parts

        def prefix_may_match(pre: str) -> bool:
            if years is not None and pre not in years:
                return False
            if lo is not None and pre < lo:
                return False
            if hi is not None and pre > hi:
                return False
            return True

        if self._prune_mode == "filename":
            kept = []
            for p in parts:
                m = re.fullmatch(
                    r"index_(\d{4})\.json", os.path.basename(p.path)
                )
                # prune only files whose name claims a year; keep the
                # rest (row-level filters stay correct regardless)
                if m is None or prefix_may_match(m.group(1)):
                    kept.append(p)
            return kept
        # manifest mode: prune only with per-file EVIDENCE — the
        # verified prefix sets recorded at index build/fetch time.
        # Missing manifest, a file absent from it, or a format-2 entry
        # whose recorded stat no longer matches the file => keep.
        manifests: dict[str, dict | None] = {}
        kept = []
        for p in parts:
            d = os.path.dirname(p.path)
            if d not in manifests:
                mpath = os.path.join(d, PREFIX_MANIFEST)
                try:
                    with open(mpath, encoding="utf-8") as fh:
                        manifests[d] = json.load(fh)
                except (OSError, ValueError):
                    manifests[d] = None
            prefixes = _manifest_prefixes(manifests[d], p.path)
            if prefixes is None or any(prefix_may_match(x) for x in prefixes):
                kept.append(p)
        return kept

    def read(self, partition: _IndexFilePartition):
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            IsNull,
            LessThan,
            LessThanOrEqual,
            StringContains,
            StringEndsWith,
            StringStartsWith,
        )

        # (IsNotNull needs no branch below: any non-IsNull predicate
        # already rejects v is None, and a non-null value passes it)
        # pruned-to-empty partitions(): Spark still schedules one task
        # and passes partition=None — an empty result, not an error
        if partition is None:
            return

        idx = {f.name: i for i, f in enumerate(INDEX_ENTRY.fields)}

        def keep(row) -> bool:
            # SQL comparison semantics: NULL fails every predicate
            # except IsNull; string order is lexicographic in both
            # Spark (UTF8_BINARY) and Python.
            for f in self._pushed:
                v = row[idx[f.attribute[0]]]
                if isinstance(f, IsNull):
                    if v is not None:
                        return False
                elif v is None:
                    return False
                elif isinstance(f, EqualTo):
                    if v != f.value:
                        return False
                elif isinstance(f, In):
                    if v not in f.value:
                        return False
                elif isinstance(f, StringStartsWith):
                    if not (isinstance(v, str) and v.startswith(f.value)):
                        return False
                elif isinstance(f, StringEndsWith):
                    if not (isinstance(v, str) and v.endswith(f.value)):
                        return False
                elif isinstance(f, StringContains):
                    if not (isinstance(v, str) and f.value in v):
                        return False
                elif isinstance(f, GreaterThan):
                    if not v > f.value:
                        return False
                elif isinstance(f, GreaterThanOrEqual):
                    if not v >= f.value:
                        return False
                elif isinstance(f, LessThan):
                    if not v < f.value:
                        return False
                elif isinstance(f, LessThanOrEqual):
                    if not v <= f.value:
                        return False
            return True

        for row in _index_rows(partition.path):
            if keep(row):
                yield row


class Irs990IndexDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "irs990index"

    def schema(self):
        return INDEX_ENTRY

    def reader(self, schema) -> Irs990IndexReader:
        if self.options.get("pushdown", "").lower() == "true":
            return Irs990IndexPushdownReader(self.options)
        return Irs990IndexReader(self.options)

    def streamReader(self, schema) -> "Irs990IndexStreamReader":
        if self.options.get("simple", "").lower() == "true":
            # opt into the SimpleDataSourceStreamReader path: pyspark
            # falls back to simpleStreamReader() exactly when
            # streamReader() raises PySparkNotImplementedError
            from pyspark.errors import PySparkNotImplementedError

            raise PySparkNotImplementedError(
                errorClass="NOT_IMPLEMENTED",
                messageParameters={"feature": "streamReader (simple mode)"},
            )
        return Irs990IndexStreamReader(self.options)

    def simpleStreamReader(self, schema) -> "Irs990IndexSimpleStreamReader":
        return Irs990IndexSimpleStreamReader(self.options)


class _IndexStreamBase:
    """Shared members of the two index stream readers: the path-option
    contract, the sorted listing (ONE place to swap glob for an
    object-store SDK), the empty high-water-mark origin, and the
    in-run out-of-order tripwire (ONE place for the monotonic-arrival
    guard — the two readers must never diverge on it)."""

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("irs990index requires a path (load(<glob>))")
        self._hwm_listed = ""  # largest name this run has offered
        self._names_listed: set[str] = set()

    def _files(self) -> list[str]:
        import glob as _glob

        return sorted(_glob.glob(self.path))

    def _guard_monotonic(self, files: list[str]) -> None:
        """Raise on a name backfilled at or below the in-run high-water
        mark (it falls inside an already-committed offset interval and
        would otherwise be silently and permanently skipped), then fold
        the listing into the run ledger. Across a driver restart the
        ledger is gone; a file backfilled while the stream was down is
        not detectable — re-land it under a name above the mark."""
        late = [
            f
            for f in files
            if f <= self._hwm_listed and f not in self._names_listed
        ]
        if late:
            raise RuntimeError(
                "irs990index stream: out-of-order arrival — "
                f"{late} sort at or below the high-water mark "
                f"{self._hwm_listed!r} and would be silently skipped. "
                "Names must arrive in ascending sort order; re-land the "
                "file under a name above the mark."
            )
        self._names_listed.update(files)
        if files:
            self._hwm_listed = max(self._hwm_listed, files[-1])

    def initialOffset(self) -> dict:
        return {"hwm": ""}


class Irs990IndexStreamReader(_IndexStreamBase, DataSourceStreamReader):
    """Streaming variant of the index connector: the landing prefix is
    watched and each micro-batch reads exactly the files that arrived
    since the last committed offset — the connector-surface analog of
    jobs.build_database_incremental's file-source watcher, for sources
    the built-in file stream can't express (REST catalogs, paginated
    APIs).

    Offset = a lexicographic HIGH-WATER MARK (the largest filename
    included so far), not a positional count: partitions(start, end)
    selects names strictly in ``(start.hwm, end.hwm]``, so a file that
    lands between latestOffset() and partitions() can never shift the
    selection (a count-into-a-re-evaluated-sorted-list slice could
    silently skip one already-present file and re-read another). Every
    name belongs to exactly one non-overlapping interval → exactly-once
    via Spark's offset log, with replay re-selecting the identical set
    (files are immutable once landed).

    The remaining assumption is MONOTONIC ARRIVAL: names must land in
    ascending sort order (yearly index files do). A backfilled file
    sorting at or below the committed mark would fall in an
    already-committed interval and be lost — so latestOffset() tracks
    every name listed this run and raises a hard error when a
    never-seen name appears at or below the high-water mark, instead of
    dropping it silently. (Across a driver restart the in-run ledger is
    gone; a file backfilled while the stream was down is not
    detectable — re-land it under a name above the mark.)"""

    def __init__(self, options: dict):
        super().__init__(options)
        # snapshot of the listing behind the most recent latestOffset(),
        # so partitions() never re-globs a moving directory mid-batch
        self._snapshot: tuple[str, list[str]] | None = None

    def latestOffset(self) -> dict:
        files = self._files()
        self._guard_monotonic(files)
        self._snapshot = (self._hwm_listed, files)
        return {"hwm": self._hwm_listed}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        s, e = start.get("hwm", ""), end.get("hwm", "")
        if self._snapshot is not None and self._snapshot[0] == e:
            # same-run path: the exact list latestOffset() saw — a file
            # landing in the latestOffset→partitions window cannot
            # change this batch's selection
            listing = self._snapshot[1]
        else:
            # replay after restart: files are immutable and (by the
            # validated contract) monotonic, so a fresh listing
            # filtered to the committed name range reproduces the batch
            listing = self._files()
        files = [f for f in listing if s < f <= e]
        return [_IndexFilePartition(p) for p in files]

    def read(self, partition: _IndexFilePartition):
        yield from _index_rows(partition.path)

    def commit(self, end: dict) -> None:
        # offsets live in Spark's checkpoint offset log; nothing to
        # acknowledge source-side (files are immutable once landed)
        return None


class Irs990IndexSimpleStreamReader(_IndexStreamBase, SimpleDataSourceStreamReader):
    """The third streaming-read shape of the Spark-4 Python DataSource
    API (``.option("simple", "true")``): no partition planning — the
    DRIVER reads each micro-batch's rows itself and pyspark's wrapper
    prefetches/caches them against the offset log. Right for
    low-volume control feeds (a REST catalog page, a config poll)
    where a per-file executor task costs more than the read; the
    partition-planned ``Irs990IndexStreamReader`` remains the
    data-volume path. Offsets are the same lexicographic filename
    high-water marks, so the exactly-once story is unchanged —
    including the full reader's in-run out-of-order tripwire
    (``_guard_monotonic``, shared on the base class so the two readers
    can never diverge on it): a name backfilled at or below the mark
    mid-run raises instead of being silently and permanently skipped;
    across a restart the ledger is gone and the full reader's caveat
    applies — re-land under a higher name."""

    def read(self, start: dict):
        hwm = start.get("hwm", "")
        files = self._files()
        self._guard_monotonic(files)
        new = [f for f in files if f > hwm]
        end = {"hwm": new[-1] if new else hwm}
        # materialized list, not a generator: pyspark's prefetch wrapper
        # PICKLES the returned iterator to ship the cached batch to
        # executors — driver-side materialization is this API's whole
        # trade (hence "low-volume control feeds" above)
        return iter([r for f in new for r in _index_rows(f)]), end

    def readBetweenOffsets(self, start: dict, end: dict):
        s, e = start.get("hwm", ""), end.get("hwm", "")
        # replay: files are immutable and monotonic, so the name-range
        # filter reproduces the committed batch exactly
        return iter(
            [r for f in self._files() if s < f <= e for r in _index_rows(f)]
        )
