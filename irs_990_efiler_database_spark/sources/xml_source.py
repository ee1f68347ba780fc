"""Return-document XML source.

The reference fetches and DOM-parses one document at a time over HTTPS
(read_xml + xml_ns_strip, build_efile_database_functions.R:5012-5018) —
3M sequential GETs dominate its 1–2 day build. The Spark-native design:

1. **Bundle first.** At scale, raw XML files are consolidated once into
   parquet bundles of ``(url, xml string)`` — S3 listing/open overhead of
   3M small objects is the killer; after bundling, every downstream pass
   is a columnar scan. ``read_return_bundle`` consumes that layout.
2. **Parse with an explicit superset schema.** ``F.from_xml`` with the
   StructType generated from the concordance xpath set (plans.xml_schema)
   — no schema inference over 3M version-variant docs (SURVEY §4.2).
3. **Keep the raw string column.** Schedule-presence flags are substring
   predicates on the serialized doc, matching the reference's grepl
   semantics (:2522-2620) exactly; corrupt documents stay quarantineable.

``read_return_xml_files`` (wholetext file source) covers the small/local
case with the identical downstream plan.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.concordance import (
    concrete_groups,
    load_core_spec,
    load_rdb_spec,
    load_schedn_spec,
    master_table_names,
    table_rows,
)
from ..plans.xml_schema import XmlSchemaBuilder, _strip, resolve_child

# Leaves the reference space-collapses (multi-match paste(collapse=" "),
# :527-528, :1515) — these repeat within one document.
_REPEATED_LEAF_VARS = {"DOMICILE", "FILINGSTATES"}


def expand_glob(spark: SparkSession, path_glob: str | list[str]) -> list[str]:
    """Expand glob pattern(s) to concrete paths via Hadoop globStatus
    (driver-side, works on any Hadoop FS — local, S3A, HDFS).

    Feeding concrete paths to ``spark.read`` sidesteps
    ``FileStreamSink.hasMetadata``'s single-glob-path probe, which
    logs a WARN + full FileNotFoundException stack trace on every
    glob read — noise that reads like a real failure in job logs."""
    sc = spark.sparkContext
    jvm = sc._jvm
    hconf = sc._jsc.hadoopConfiguration()
    globs = [path_glob] if isinstance(path_glob, str) else list(path_glob)
    out: list[str] = []
    for g in globs:
        jpath = jvm.org.apache.hadoop.fs.Path(g)
        fs = jpath.getFileSystem(hconf)
        statuses = fs.globStatus(jpath)
        if statuses is not None:
            out.extend(s.getPath().toString() for s in statuses)
    return out


@lru_cache(maxsize=1)
def build_return_schema() -> tuple[T.StructType, XmlSchemaBuilder]:
    """Superset StructType over every xpath in the CORE spec and the
    per-table concordances, with MANY-table group roots as arrays.

    Cached: every builder and every query calls this, and the trie is
    pure metadata (callers treat the returned objects as read-only)."""
    b = XmlSchemaBuilder()
    core = load_core_spec()
    for var, spec in core["vars"].items():
        repeated = spec.get("collapse") == " " or var in _REPEATED_LEAF_VARS
        for xp in spec.get("xpaths", []) + spec.get("ez_xpaths", []):
            b.add_xpath(xp, repeated_leaf=repeated)

    rdb = load_rdb_spec()
    by_table: dict[str, list[dict]] = {}
    for r in rdb:
        by_table.setdefault(r["rdb_table"], []).append(r)
    for rows in by_table.values():
        many = [r for r in rows if r["cardinality"] == "MANY"]
        for r in rows:
            b.add_xpath(r["xpath"])
        if many:
            for gp, leaves in concrete_groups(many).items():
                if any(rel for rel in leaves):  # real repeating group
                    b.mark_repeated(gp)

    # registered master-concordance slices (create_code_chunks shape:
    # doc scalars, plus declared-root repeating groups for MANY
    # slices); register_master_table clears this cache so late
    # registrations re-enter the struct
    for name in master_table_names():
        rows = table_rows(name)
        many = [r for r in rows if r["cardinality"] == "MANY"]
        for r in rows:
            b.add_xpath(r["xpath"])
        if many:
            for gp, leaves in concrete_groups(many).items():
                if any(rel for rel in leaves):
                    b.mark_repeated(gp)

    # Schedule N (explicit groups; reference :2875-4140). Every (group,
    # version-rel) combination is declared — absent combos parse to
    # NULL, matching the reference's search-all-alternatives-per-node.
    schedn = load_schedn_spec()
    for spec in schedn["tables"].values():
        if spec["cardinality"] == "ONE":
            for v in spec["vars"].values():
                for xp in v["xpaths"]:
                    b.add_xpath(xp)
        else:
            for gp in spec["groups"]:
                b.mark_repeated(gp)
                for v in spec["vars"].values():
                    for rel in v["rels"]:
                        b.add_xpath(f"{gp}/{rel}")
    return b.build(), b


CORRUPT_COL = "_corrupt_record"

# scoped-schema cache: (tables tuple) -> (full builder, result). An
# entry is valid only while its builder IS the current superset builder,
# so register_master_table's build_return_schema.cache_clear()
# invalidates the scoped derivations too. The entry holds the builder
# itself: an id() could be reused by a fresh builder once the old one
# is freed, which would serve a stale pruned trie.
_SCOPED_CACHE: dict[tuple[str, ...], tuple[XmlSchemaBuilder, tuple]] = {}


def scoped_return_schema(
    tables: tuple[str, ...]
) -> tuple[T.StructType, XmlSchemaBuilder]:
    """PRUNED parse schema for queries that build a known table subset
    (optimization guide §1.2/§7.3 — Catalyst analysis of the full
    ~1,900-leaf superset struct dominates single-table extraction
    queries over small corpora; VERDICT r14 next-round #5).

    The pruned trie is COPIED from the superset builder, keeping only
    the nodes on paths to (a) the named tables' xpaths and (b) the
    CORE key variables every rdb table emits (EIN/NAME/FISYR/FORMTYPE).
    Every kept node carries the superset node's exact flags —
    ``repeated`` (so a group root another table declared, e.g. Schedule
    N's inner LiquidationDetail, still parses as an array), ``is_leaf``
    and attributes — so the ExprCompiler resolves every shared xpath to
    the identical kind/field path and the extracted VALUES are
    bit-identical to the superset parse (asserted row-for-row in
    tests/test_extract_990.py, and checked here per kept xpath: the
    compiler walk must give the same SQL and kind over both tries, or
    this raises). This is schema/metadata work only: the
    same documents are parsed, just into the fields the table actually
    reads — the same contract as column pruning on a parquet scan."""
    from ..plans.concordance import load_core_spec, table_rows

    full_schema, full = build_return_schema()
    hit = _SCOPED_CACHE.get(tables)
    if hit is not None and hit[0] is full:
        return hit[1]

    xpaths: list[str] = []
    core = load_core_spec()["vars"]
    for var in ("EIN", "NAME", "FISYR", "FORMTYPE"):
        spec = core[var]
        xpaths += spec.get("xpaths", []) + spec.get("ez_xpaths", [])
    for t in tables:
        rows = table_rows(t)
        if not rows:
            raise KeyError(f"unknown rdb table {t!r}")
        xpaths += [r["xpath"] for r in rows]

    b = XmlSchemaBuilder()
    for xp in xpaths:
        parts = _strip(xp)
        if parts and parts[-1].startswith("@"):
            parts = parts[:-1]
        src = full.root
        dst = b.root
        for seg in parts:
            nxt = resolve_child(src, seg)
            if nxt is None:  # not in the superset: nothing to copy
                break
            name, src = nxt
            child = dst.children.get(name)
            if child is None:
                child = type(src)()
                dst.children[name] = child
            # exact flag copy: identical kind resolution + array shape
            child.is_leaf = src.is_leaf
            child.repeated = src.repeated
            child.attrs |= src.attrs
            dst = child
    from ..extract.compiler import ExprCompiler

    scoped, superset = ExprCompiler(b), ExprCompiler(full)
    for xp in xpaths:
        got, want = _walk_or_none(scoped, xp), _walk_or_none(superset, xp)
        if got != want:
            raise RuntimeError(
                f"scoped schema for {tables} resolves {xp!r} to {got}, "
                f"the superset to {want}"
            )
    result = (
        T.StructType(
            list(b.build().fields)
            + [T.StructField(CORRUPT_COL, T.StringType())]
        ),
        b,
    )
    _SCOPED_CACHE[tables] = (full, result)
    return result


def _walk_or_none(c, xpath: str) -> tuple[str, int, str] | None:
    """The compiler walk of *xpath*, None when it is not in the trie."""
    try:
        return c.walk(xpath)
    except KeyError:
        return None


def with_parsed_return(
    df: DataFrame,
    xml_col: str = "xml",
    scope_tables: tuple[str, ...] | None = None,
) -> DataFrame:
    """Add ``doc`` (parsed struct) + ``object_id`` to a (url, xml) frame.

    Parsing is PERMISSIVE: malformed documents keep their raw text in
    ``doc._corrupt_record`` instead of failing the job — the Spark
    analog of the reference's per-URL try() + FAIL_LIST capture
    (:5012-5017, :5047-5101); ``split_corrupt`` separates them.

    ``scope_tables``: parse with the PRUNED schema covering just those
    tables (see :func:`scoped_return_schema`) — pair with
    ``build_rdb_table(..., scoped=True)`` so compile and parse share one
    trie."""
    if scope_tables is not None:
        parse_schema, _ = scoped_return_schema(tuple(scope_tables))
        return _with_doc(df, xml_col, parse_schema)
    schema, _ = build_return_schema()
    parse_schema = T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
    )
    return _with_doc(df, xml_col, parse_schema)


def _with_doc(
    df: DataFrame, xml_col: str, parse_schema: T.StructType
) -> DataFrame:
    return df.withColumn(
        "doc",
        F.from_xml(
            F.col(xml_col),
            parse_schema,
            {
                "mode": "PERMISSIVE",
                "columnNameOfCorruptRecord": CORRUPT_COL,
                # reference parity: the R pipeline's xml_text() never
                # trims, so "  x  " must extract verbatim — Spark's XML
                # reader strips surrounding whitespace by default
                # (found by the edge-value differential fuzz)
                "ignoreSurroundingSpaces": "false",
            },
        ),
    ).withColumn(
        # get_object_id (:39-44): strip bucket prefix and _public.xml suffix
        "object_id",
        F.regexp_extract(F.col("url"), r"([0-9A-Za-z]+)_public\.xml", 1),
    )


def split_corrupt(returns: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(parsed, dead_letter): dead-letter rows are documents the XML
    parser rejected — (url, xml) preserved for replay, like the
    reference's FAIL_LIST.csv of unfetchable URLs (:5096-5101)."""
    bad = F.col(f"doc.{CORRUPT_COL}").isNotNull()
    return (
        returns.filter(~bad),
        returns.filter(bad).select(
            "url", "xml", F.lit("xml_parse_error").alias("reason")
        ),
    )


def read_return_xml_files(
    spark: SparkSession,
    path_glob: str | list[str],
    scope_tables: tuple[str, ...] | None = None,
) -> DataFrame:
    """Local/dev source: one row per XML file (wholetext).

    NB: must be the ``wholetext=`` kwarg — the builder-style
    ``.option("wholetext", True)`` does not bind on this reader and
    silently falls back to one row per *line*.
    """
    raw = spark.read.text(expand_glob(spark, path_glob), wholetext=True).select(
        F.input_file_name().alias("url"),
        F.col("value").alias("xml"),
    )
    return with_parsed_return(raw, scope_tables=scope_tables)


def _bundle_columnar_batch_size(bundle_path: str) -> int | None:
    """Adaptive vectorized-reader batch size for LARGE-cell bundles.

    Spark's parquet reader materializes ``columnarReaderBatchSize``
    (default 4096) rows per column batch in one contiguous buffer; at
    realistic filing sizes (50-250 KB of XML per row) that is ~600 MB
    per task — 32 concurrent scan tasks OOM a 128 GB heap before the
    parse even starts (measured r12: "Cannot reserve additional
    contiguous bytes (requested 441126829)"). Target ~32 MB of cell
    bytes per batch from the first LOCAL part-file's footer
    (uncompressed size / rows); None = no readable local footer
    (object store / layout change) = leave Spark's default alone.

    The glob cascade prefers ``part-*.parquet`` at the top level, then
    any top-level parquet file, then nested layouts: a landing dir of
    bundle SUBDIRECTORIES (drop-N/part-*.parquet) or a partitioned
    bundle (year=*/part-*.parquet) — the measurement is
    layout-independent, so the sample must be too."""
    import glob as _glob

    import pyarrow.parquet as pq

    base = bundle_path.rstrip("/")
    try:
        for pattern in (
            "part-*.parquet", "*.parquet", "**/part-*.parquet", "**/*.parquet"
        ):
            parts = sorted(_glob.glob(f"{base}/{pattern}", recursive=True))
            if parts:
                break
        else:
            return None
        meta = pq.ParquetFile(parts[0]).metadata
        rows = meta.num_rows
        raw = sum(
            meta.row_group(g).total_byte_size
            for g in range(meta.num_row_groups)
        )
        if rows <= 0 or raw <= 0:
            return None
        per_row = raw / rows
        return max(64, min(4096, int(32 * 1024 * 1024 / per_row)))
    except Exception:
        return None


def set_reader_batch_size(spark: SparkSession, bundle_path: str) -> None:
    """Set the session's vectorized-reader batch size from the bundle's
    measured row width (see :func:`_bundle_columnar_batch_size`); an
    unmeasurable bundle leaves the conf alone. Always set when measured
    (4096 restores the default after a large-cell bundle shrank it
    earlier in the session). The conf is consulted at scan execution,
    so it governs the scans the caller runs next."""
    batch = _bundle_columnar_batch_size(bundle_path)
    if batch is not None:
        spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", batch)


def read_return_bundle(spark: SparkSession, bundle_path: str) -> DataFrame:
    """Scale source: parquet bundles of (url, xml), read with the
    bundle's adaptive reader batch size (:func:`set_reader_batch_size`)
    — the build jobs execute their reads promptly, so the adaptive
    value governs this bundle's scan."""
    set_reader_batch_size(spark, bundle_path)
    return with_parsed_return(spark.read.parquet(bundle_path))


def write_return_bundle(
    spark: SparkSession,
    path_glob: str | list[str],
    bundle_path: str,
    target_partitions: int | None = None,
) -> None:
    """One-time consolidation: millions of small XML objects → large
    parquet bundles of (url, xml) — the first move of the scale design
    (SURVEY §7: 3M-object S3 listing/open overhead is the killer; after
    bundling every downstream pass is a columnar scan). Snappy-page
    text compresses well and the bundle is immutable."""
    raw = spark.read.text(expand_glob(spark, path_glob), wholetext=True).select(
        F.input_file_name().alias("url"),
        F.col("value").alias("xml"),
    )
    if target_partitions:
        raw = raw.repartition(target_partitions)
    raw.write.mode("overwrite").parquet(bundle_path)
