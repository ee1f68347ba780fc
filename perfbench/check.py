"""Output checks for one benchmark iteration.

Each check returns a list of problems; an empty list means the output
is correct. Row counts are read from the written parquet footers with
pyarrow, independently of the Spark session that wrote them, and are
compared with counts the generator and ``extract.golden`` produced.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Mapping
from pathlib import Path

DEAD_LETTER = "DEAD-LETTER"


def parquet_files(root: Path) -> list[Path]:
    return sorted(
        Path(d) / f
        for d, _, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    )


def parquet_bytes(root: Path) -> int:
    return sum(p.stat().st_size for p in parquet_files(root))


def table_rows_on_disk(table_dir: Path) -> int:
    """Rows in a parquet table directory, from its file footers. A
    missing directory counts as 0 rows; an unreadable file raises."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in parquet_files(table_dir))


def read_rows(table_dir: Path, column: str, value: str) -> list[dict]:
    """Rows of a hive-partitioned parquet table where ``column`` equals
    ``value``, partition values included."""
    import pyarrow.dataset as ds

    table = ds.dataset(
        [str(p) for p in parquet_files(table_dir)],
        format="parquet",
        partitioning=ds.HivePartitioning.discover(infer_dictionary=True),
        partition_base_dir=str(table_dir),
    )
    return table.to_table(filter=ds.field(column) == value).to_pylist()


def check_counts(
    what: str, got: Mapping[str, int], want: Mapping[str, int]
) -> list[str]:
    return [
        f"{what}: {t} has {got.get(t, 0)} rows, expected {want.get(t, 0)}"
        for t in sorted(set(got) | set(want))
        if got.get(t, 0) != want.get(t, 0)
    ]


def check_database(
    db: Path, tables: Iterable[str], want: Mapping[str, int], want_dead: int
) -> list[str]:
    """Every table's on-disk row count, and the DEAD-LETTER count."""
    got = {}
    try:
        for t in [*tables, DEAD_LETTER]:
            got[t] = table_rows_on_disk(db / t)
    except Exception as exc:  # noqa: BLE001 - an unreadable table is a finding
        return [f"on disk: {type(exc).__name__}: {exc}"]
    return check_counts("on disk", got, {**want, DEAD_LETTER: want_dead})


def check_validate(checks: Mapping[str, int]) -> list[str]:
    if not checks:
        return ["validate_database returned no checks"]
    return [f"validate_database: {k} = {v}" for k, v in checks.items() if v != 0]


def check_comp_totals(
    got: Mapping[str, int | None], want: Mapping[str, int]
) -> list[str]:
    """DTK compensation totals by tax year (a NULL sum is 0)."""
    got = {k: v or 0 for k, v in got.items()}
    return [] if got == dict(want) else [f"DTK totals {got} != {dict(want)}"]


def check_lookups(
    got: Mapping[str, list[dict]], want_name: Mapping[str, str]
) -> list[str]:
    """Each EIN point lookup returns exactly one CORE row, with the
    expected (possibly amended) NAME."""
    out = []
    for ein, name in want_name.items():
        rows = got.get(ein, [])
        if len(rows) != 1:
            out.append(f"EIN {ein}: {len(rows)} rows, expected 1")
        elif rows[0]["NAME"] != name:
            out.append(f"EIN {ein}: NAME {rows[0]['NAME']!r}, expected {name!r}")
    return out


def _norm(v) -> str | None:
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def check_core_row(oid: str, got: Mapping, want: Mapping) -> list[str]:
    """One written CORE row against its golden row, column by column."""
    bad = [c for c in got if c in want and _norm(got[c]) != _norm(want[c])]
    return [
        f"CORE {oid}: {c} = {got[c]!r}, golden {want[c]!r}" for c in bad[:5]
    ]


def check_dtk_rows(oid: str, got: list[Mapping], want: list[Mapping]) -> list[str]:
    """A document's written DTK rows against its golden rows, as
    multisets over the golden columns."""
    if not want:
        return [] if not got else [f"DTK {oid}: {len(got)} rows, golden 0"]
    cols = sorted(want[0])

    def key(rows):
        return sorted(tuple(_norm(r.get(c)) or "" for c in cols) for r in rows)

    return [] if key(got) == key(want) else [f"DTK {oid}: rows differ from golden"]
