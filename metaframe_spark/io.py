"""Sources/sinks: MetaFrame-aware readers that restore sidecar metadata.

The reference has no reader of its own — a MetaFrame is always constructed
from an existing DataFrame (``/root/reference/metaframe/metaframe.py:63-68``,
SURVEY.md §2.3 row 1). We provide thin readers over ``spark.read.*`` that
wrap the result and, for path-based formats, restore the metadata sidecar
written by :class:`metaframe_spark.core.MetaWriter`. A path read infers its
schema once per unchanged local file listing (:func:`_load`).
"""

from __future__ import annotations

import json
import os
import stat
from typing import Any, Dict, NamedTuple, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .core import MetaFrame, MetaWriter


def _local_path(path: str) -> Optional[str]:
    """``path`` as a local filesystem path (plain or ``file:`` URI), or None
    for a remote URI."""
    if "://" in path and not path.startswith("file:"):
        return None
    return path[len("file:"):] if path.startswith("file:") else path


def _read_sidecar(path: str) -> Dict[str, Any]:
    try:
        # mirror MetaWriter._write_sidecar: local paths and file: URIs only
        local = _local_path(path)
        if local is None:
            return {}
        sidecar = os.path.join(local, MetaWriter.SIDECAR)
        if os.path.isfile(sidecar):
            with open(sidecar) as fh:
                return json.load(fh)
    except Exception:
        pass
    return {}


def wrap(df: DataFrame, metadata: Optional[Dict[str, Any]] = None) -> MetaFrame:
    """Wrap any DataFrame (the reference's only construction path)."""
    return MetaFrame(df, metadata)


def _ns_timestamp_columns(path: str) -> tuple:
    """Names of parquet columns typed timestamp[ns] (footer inspection only).

    Spark 4 rejects TIMESTAMP(NANOS) parquet outright (PARQUET_TYPE_ILLEGAL);
    DuckDB silently truncates to microseconds. We read the footer with
    pyarrow (no data scan) so :func:`_load` can apply the
    nanosAsLong + truncate-to-micros workaround and stay engine-compatible.
    """
    try:
        import pyarrow as pa
        import pyarrow.dataset as ds

        local = _local_path(path)
        if local is None:
            return ()
        schema = ds.dataset(local, format="parquet").schema
        return tuple(
            f.name
            for f in schema
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        )
    except Exception:
        return ()


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

#: Session confs that change the schema a reader infers from the same files;
#: their values are part of every cached schema's key.
_INFERENCE_CONFS = (
    _NANOS_AS_LONG,
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.orc.mergeSchema",
    "spark.sql.caseSensitive",
    "spark.sql.timestampType",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)


class _Schema(NamedTuple):
    listing: tuple  # (relative name, size, mtime_ns) of every file read
    schema: StructType  # what Spark inferred (or wrote) for that listing
    ns_cols: tuple  # parquet timestamp[ns] columns, see read_parquet


#: The schema cache: one entry per (format, local path, options, inference
#: confs), replaced whenever the files under the path change, so it grows
#: with the distinct paths read, not with rewrites.
_SCHEMAS: Dict[tuple, _Schema] = {}


def _listing(local: str) -> Optional[tuple]:
    """(relative name, size, mtime_ns) of every file at or under ``local``,
    ``k=v`` partition directories included; None when there is no file."""
    try:
        st = os.stat(local)
        if not stat.S_ISDIR(st.st_mode):
            return (("", st.st_size, st.st_mtime_ns),)
        files = []
        for root, _, names in os.walk(local):
            for name in names:
                full = os.path.join(root, name)
                st = os.stat(full)
                files.append((os.path.relpath(full, local), st.st_size, st.st_mtime_ns))
    except OSError:  # missing, or changing under us: let Spark read it
        return None
    return tuple(sorted(files)) or None


def _schema_key(spark: SparkSession, fmt: str, local: str, options: Dict) -> tuple:
    return (
        fmt,
        local,
        tuple(sorted((k, str(v)) for k, v in options.items())),
        tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS),
    )


def _remember_schema(spark: SparkSession, fmt: str, path: str, schema: StructType) -> None:
    """Record ``schema`` as what ``spark.read.<fmt>(path)`` infers from the
    files now at ``path`` — for a writer that knows what it just wrote."""
    local = _local_path(path)
    listing = _listing(local) if local is not None else None
    if listing:
        _SCHEMAS[_schema_key(spark, fmt, local, {})] = _Schema(listing, schema, ())


def _load(spark: SparkSession, fmt: str, path: str, options: Dict[str, Any]) -> DataFrame:
    """``spark.read.<fmt>(path, **options)`` without a schema-inference job
    when the same local files were read before.

    Spark infers a schema with a job on every read that is given none
    (a warm sf0.001 ``load_table`` on 4 cores: about 120 ms, against about
    20 ms with a schema). Here the schema Spark inferred is kept, with the
    file listing it came from, and passed back through ``.schema()`` while
    the listing is unchanged.
    Because it is Spark's own schema the types match inference exactly.
    Remote URIs, globs, empty directories, an explicit ``schema`` and any
    ``mergeSchema`` option read with inference every time.
    """
    local = _local_path(path)
    listing = None
    if (
        local is not None
        and "schema" not in options
        and not any(k.lower() == "mergeschema" for k in options)
    ):
        listing = _listing(local)
    hit = _SCHEMAS.get(_schema_key(spark, fmt, local, options)) if listing else None
    if hit is not None and hit.listing == listing:
        df = getattr(spark.read.schema(hit.schema), fmt)(path, **options)
        ns_cols = hit.ns_cols
    else:
        ns_cols = _ns_timestamp_columns(path) if fmt == "parquet" else ()
        if ns_cols:
            # Spark 4 cannot read TIMESTAMP(NANOS): read them as raw
            # nanosecond longs. The conf stays set on the session because
            # the returned frame's plan consults it at execution time; a
            # later RAW spark.read.parquet of an ns file then returns long
            # columns instead of raising. The conf is part of the cache key,
            # so the entry stored below is keyed with it set.
            spark.conf.set(_NANOS_AS_LONG, "true")
        df = getattr(spark.read, fmt)(path, **options)
        if listing:
            _SCHEMAS[_schema_key(spark, fmt, local, options)] = _Schema(
                listing, df.schema, ns_cols
            )
    if ns_cols:
        from pyspark.sql import functions as F  # local import: io stays light

        # truncate to microseconds with exact integer division (`div`, never
        # float `/` — ns epochs exceed 2^53). Matches DuckDB's silent ns→µs
        # truncation, so oracle comparisons stay value-identical.
        for c in ns_cols:
            df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    return df


def _read_path(
    spark: SparkSession,
    fmt: str,
    path: str,
    metadata: Optional[Dict[str, Any]],
    restore_metadata: bool,
    **options: Any,
) -> MetaFrame:
    md = dict(_read_sidecar(path)) if restore_metadata else {}
    if metadata:
        md.update(metadata)
    return MetaFrame(_load(spark, fmt, path, options), md)


def read_parquet(
    spark: SparkSession,
    path: str,
    metadata: Optional[Dict[str, Any]] = None,
    restore_metadata: bool = True,
    **options: Any,
) -> MetaFrame:
    """Parquet reader. timestamp[ns] columns (which Spark 4 rejects) load as
    microsecond timestamps, truncated as DuckDB does: the read sets
    ``spark.sql.legacy.parquet.nanosAsLong`` on the session, and that conf
    is part of the schema cache's key (see :func:`_load`)."""
    return _read_path(spark, "parquet", path, metadata, restore_metadata, **options)


def read_csv(
    spark: SparkSession,
    path: str,
    metadata: Optional[Dict[str, Any]] = None,
    restore_metadata: bool = True,
    **options: Any,
) -> MetaFrame:
    return _read_path(spark, "csv", path, metadata, restore_metadata, **options)


def read_json(
    spark: SparkSession,
    path: str,
    metadata: Optional[Dict[str, Any]] = None,
    restore_metadata: bool = True,
    **options: Any,
) -> MetaFrame:
    return _read_path(spark, "json", path, metadata, restore_metadata, **options)


def read_orc(
    spark: SparkSession,
    path: str,
    metadata: Optional[Dict[str, Any]] = None,
    restore_metadata: bool = True,
    **options: Any,
) -> MetaFrame:
    return _read_path(spark, "orc", path, metadata, restore_metadata, **options)


def read_text(
    spark: SparkSession,
    path: str,
    metadata: Optional[Dict[str, Any]] = None,
    restore_metadata: bool = True,
    whole_text: bool = False,
    **options: Any,
) -> MetaFrame:
    """Raw text ingestion — the front door of an LLM document pipeline.

    Line mode (default) yields one row per line (``value`` string);
    ``whole_text=True`` yields one row per FILE — the shape for
    document-per-file corpora. Either way the scan is an ordinary
    distributed file scan (a 100-TB corpus splits by file/line blocks);
    pair with ``input_file_name()`` for provenance.
    """
    if whole_text:
        options = {**options, "wholetext": "true"}
    return _read_path(spark, "text", path, metadata, restore_metadata, **options)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str = "row",
    metadata: Optional[Dict[str, Any]] = None,
    restore_metadata: bool = True,
    **options: Any,
) -> MetaFrame:
    """XML ingestion via Spark 4's BUILT-IN xml source (spark-xml was
    merged into core in 4.0 — no external jar). One row per ``row_tag``
    element; schema inferred unless passed via ``options``. Same
    distributed-scan shape as json: files split across tasks, each task
    parses its elements. Sidecar metadata restored as for every other
    path-based reader."""
    md = dict(_read_sidecar(path)) if restore_metadata else {}
    if metadata:
        md.update(metadata)
    reader = spark.read.format("xml").option("rowTag", row_tag)
    for k, v in options.items():
        reader = reader.option(k, v)
    return MetaFrame(reader.load(path), md)


def read_binary_files(
    spark: SparkSession,
    path: str,
    path_glob: Optional[str] = None,
    metadata: Optional[Dict[str, Any]] = None,
    restore_metadata: bool = True,
) -> MetaFrame:
    """Binary-file ingestion (``binaryFile`` source) — the multimodal front
    door: images/audio/video land as (path, modificationTime, length,
    content binary) rows that feed straight into
    :mod:`metaframe_spark.multimodal` (``content`` is the ``payload``
    contract there). Files are NOT split (a payload is atomic); partition
    parallelism comes from file count, which is what a 100-TB object-store
    layout provides. Use ``path_glob`` (e.g. ``"*.png"``) to prune at the
    listing, not after the read.
    """
    reader = spark.read.format("binaryFile")
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    md = _read_sidecar(path) if restore_metadata else {}
    if metadata:
        md.update(metadata)
    return MetaFrame(reader.load(path), md)


def _read_table_properties(spark: SparkSession, name: str) -> Dict[str, Any]:
    """Metadata persisted by MetaWriter on ``saveAsTable``/``insertInto``
    (``TBLPROPERTIES['metaframe.metadata']``); {} for views/missing."""
    try:
        rows = spark.sql(f"SHOW TBLPROPERTIES {name}").collect()
        for r in rows:
            if r["key"] == MetaWriter.TABLE_PROPERTY:
                return json.loads(r["value"])
    except Exception:
        pass
    return {}


def read_table(
    spark: SparkSession,
    name: str,
    metadata: Optional[Dict] = None,
    restore_metadata: bool = True,
) -> MetaFrame:
    md = _read_table_properties(spark, name) if restore_metadata else {}
    if metadata:
        md.update(metadata)
    return MetaFrame(spark.read.table(name), md)


#: declared primary keys of the driver test tables (FIXTURES.md §2) — used to
#: seed PK metadata so the dropDuplicates-on-PK short-circuit (SURVEY.md §4.3a)
#: can kick in from the first operator.
#:
#: ``lineitem`` is deliberately ABSENT: FIXTURES.md declares
#: ``(l_orderkey, l_linenumber)`` but the driver-generated parquet violates it
#: (1161 duplicated PK groups at sf0.001, 11785 at sf0.01 — verified
#: 2026-08-13), and seeding a false PK would arm the dedup short-circuit into
#: silently returning duplicate rows. A key listed here must hold in the data.
TPCH_PRIMARY_KEYS: Dict[str, list] = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def verify_primary_key(df: DataFrame, pk: list) -> bool:
    """Cheap uniqueness check: count == countDistinct over the PK columns.

    One aggregation job; at cluster scale it's a partial-agg + single-row
    exchange, so safe to run even on very large tables when seeding PKs from
    untrusted catalogs.
    """
    from pyspark.sql import functions as F

    raw = df.df if isinstance(df, MetaFrame) else df
    row = raw.select(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(*[F.col(c) for c in pk]).alias("d"),
    ).first()
    return row["n"] == row["d"]


def load_table(
    spark: SparkSession, sf_dir: str, name: str, verify_pk: bool = False
) -> MetaFrame:
    """Load one driver test table as a MetaFrame with PK metadata seeded.

    ``verify_pk=True`` validates the declared key against the data before
    seeding (skips seeding when violated) at the cost of one count job.

    The caller's session settings are left alone. Timestamp outputs are
    oracle-compared against DuckDB's naive (UTC) values, so those
    comparisons rely on the UTC session time zone that
    :func:`metaframe_spark.session.get_session` pins.
    """
    mf = read_parquet(spark, f"{sf_dir}/{name}.parquet", metadata={"table": name})
    pk = TPCH_PRIMARY_KEYS.get(name)
    if not pk:
        return mf
    if verify_pk and not verify_primary_key(mf, pk):
        return mf
    return mf.with_primary_key(*pk)
