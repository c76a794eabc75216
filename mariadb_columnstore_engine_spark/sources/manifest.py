"""Table manifest: what each attached table directory holds, kept apart
from the data it describes.

Reference analogue: the extent map (``EMEntry`` HWM and casual-partition
min/max, versioning/BRM/extentmap.h). ColumnStore records a table's
state when data is written and never scans the data to rediscover it.
Here the state of a Parquet table directory is:

- the live data files, keyed by (relative path, size, mtime_ns), each
  with its footer row count;
- the merged physical Spark schema of the enabled files (every field
  nullable, as Spark reads Parquet back) — a pure function of that file
  set and the disabled-partition set.

Invariant: every use lists the directory (``os.walk`` + ``stat``) and
compares. A mismatch — another process wrote the directory, a
compaction or ROLLBACK swapped it, or the table was just attached —
rebuilds the state with one ``mergeSchema`` read plus local footer
reads, so no writer has to know about the manifest for reads to stay
correct. Writers that do (INSERT / LOAD DATA appends, copy-on-write
rewrites) ``record`` the files they just wrote from those files'
footers, which keeps the next statement from launching a schema-merge
job or a ``count()``. ``read`` turns the state into the table's
physical relation (``spark.read.schema(...)`` over the enabled files).

Only the current files of each path are held (a rewrite replaces the
entry; nothing is cached per file across versions). The state lives in
this process and is not persisted. Paths that list no local files
(``s3a://`` URIs) are never cached: every use pays the Spark read.
"""

from __future__ import annotations

import json
import os
import threading
from dataclasses import dataclass
from types import MappingProxyType
from typing import Mapping

from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DataType,
    IntegerType,
    LongType,
    MapType,
    StructField,
    StructType,
)

#: footer key under which Spark stores the schema it wrote
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


@dataclass(frozen=True)
class DataFile:
    size: int
    mtime_ns: int
    rows: int


@dataclass(frozen=True)
class TableState:
    #: relative path → file entry, in listing order
    files: Mapping[str, DataFile]
    #: bare file names excluded from reads (disabled partitions)
    disabled: frozenset
    #: merged physical schema of the enabled files
    schema: StructType

    @property
    def rows(self) -> int:
        """Rows in every data file, disabled partitions included."""
        return sum(f.rows for f in self.files.values())

    @property
    def live_rows(self) -> int:
        """Rows a read of the table sees."""
        return sum(
            f.rows for rel, f in self.files.items()
            if os.path.basename(rel) not in self.disabled
        )

    def live_files(self, path: str) -> list[str]:
        """Absolute paths of the enabled data files."""
        return [
            os.path.join(path, rel) for rel in self.files
            if os.path.basename(rel) not in self.disabled
        ]


_LOCK = threading.Lock()
_TABLES: dict[str, TableState] = {}


def _key(path: str) -> str:
    return os.path.abspath(path)


def _listing(path: str) -> dict[str, tuple[int, int]]:
    """relative path → (size, mtime_ns) of every data file Spark would
    read under ``path`` (hidden and ``_``-prefixed names skipped, as
    Spark's file index does; ``k=v`` partition directories kept)."""
    out: dict[str, tuple[int, int]] = {}
    for root, dirs, names in os.walk(path):
        dirs[:] = sorted(
            d for d in dirs
            if not d.startswith(".")
            and not (d.startswith("_") and "=" not in d)
        )
        for fn in sorted(names):
            if fn.endswith(".parquet") and not fn.startswith(("_", ".")):
                full = os.path.join(root, fn)
                st = os.stat(full)
                out[os.path.relpath(full, path)] = (
                    st.st_size, st.st_mtime_ns
                )
    return out


def _disabled(path: str) -> frozenset:
    from mariadb_columnstore_engine_spark.sources.ingest import _evolution

    return frozenset(_evolution(path).get("disabled_partitions", []))


def _nullable(dt: DataType) -> DataType:
    """Spark's ``asNullable``: what a Parquet read gives back."""
    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name, _nullable(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(
            _nullable(dt.keyType), _nullable(dt.valueType), True
        )
    return dt


def _footer(file: str) -> tuple[int, StructType | None]:
    """(row count, Spark schema as read back) from one Parquet footer;
    the schema is None for files Spark did not write."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(file)
    raw = (md.metadata or {}).get(_SPARK_SCHEMA_KEY)
    schema = None
    if raw is not None:
        try:
            schema = _nullable(StructType.fromJson(json.loads(raw)))
        except (ValueError, KeyError, TypeError):
            schema = None
    return md.num_rows, schema


def _widened(a: DataType, b: DataType) -> DataType | None:
    """The type Spark's Parquet reader reads files of types ``a`` and
    ``b`` as, when it widens one into the other on read (INT files next
    to BIGINT ones, as ALTER TABLE MODIFY a BIGINT leaves them); None
    for any other pair. ``mergeSchema`` itself refuses these pairs."""
    if {type(a), type(b)} == {IntegerType, LongType}:
        return LongType()
    return None


def _merge(left: StructType, right: StructType) -> StructType | None:
    """Spark's ``StructType.merge`` for an append: ``left``'s fields
    first (keeping their metadata), ``right``'s new fields after, and a
    type pair the reader widens (``_widened``) merged to the wider type.
    None wherever Spark would do more — a type difference it might merge
    recursively or reject, or names that differ only in case — so the
    caller falls back to Spark's own read, which merges or raises."""
    seen = {f.name.lower(): i for i, f in enumerate(left.fields)}
    fields = list(left.fields)
    for f in right.fields:
        i = seen.get(f.name.lower())
        if i is None:
            seen[f.name.lower()] = len(fields)
            fields.append(f)
            continue
        old = fields[i]
        if old.name != f.name:
            return None
        if old.dataType != f.dataType:
            wide = _widened(old.dataType, f.dataType)
            if wide is None:
                return None
            fields[i] = StructField(old.name, wide, True, old.metadata)
    return StructType(fields)


def _footers_merged(path: str, rels: list[str]) -> StructType | None:
    """``_merge`` over the footer schemas of the files ``rels``; None
    when a file is not Spark-written or sits in a partition directory
    (Spark infers partition columns), or the schemas do not merge."""
    schema = None
    for rel in rels:
        file_schema = _footer(os.path.join(path, rel))[1]
        if os.path.dirname(rel) or file_schema is None:
            return None
        schema = file_schema if schema is None else _merge(
            schema, file_schema
        )
        if schema is None:
            return None
    return schema


def _matches(st: TableState, listing: dict, disabled: frozenset) -> bool:
    return (
        st.disabled == disabled
        and len(st.files) == len(listing)
        and all(
            listing.get(rel) == (f.size, f.mtime_ns)
            for rel, f in st.files.items()
        )
    )


def _scan(reader: DataFrameReader, path: str, live: list[str],
          disabled: frozenset) -> DataFrame:
    """The table's enabled files through ``reader``. Disabled partitions
    are excluded at the FILE level — their extents are never opened;
    with every partition disabled the relation is empty but keeps the
    full schema."""
    if disabled and live:
        # basePath keeps hive partition-directory columns resolvable
        # when reading an explicit file list
        return reader.option("basePath", path).parquet(*live)
    df = reader.parquet(path)
    return df.limit(0) if disabled else df


def _rebuild(spark: SparkSession, path: str, listing: dict,
             disabled: frozenset) -> TableState:
    """The one ``mergeSchema`` read, plus local footer reads for the
    row counts. Where Spark refuses to merge types its reader widens on
    read, the footers' widened merge stands in."""
    live_rels = [
        rel for rel in listing if os.path.basename(rel) not in disabled
    ]
    live = [os.path.join(path, rel) for rel in live_rels]
    reader = spark.read.option("mergeSchema", "true")
    try:
        schema = _scan(reader, path, live, disabled).schema
    except (Py4JJavaError, PySparkException) as e:
        schema = "CANNOT_MERGE_SCHEMAS" in str(e) and _footers_merged(
            path, live_rels
        )
        if not schema:
            raise
    files = {
        rel: DataFile(size, mtime, _footer(os.path.join(path, rel))[0])
        for rel, (size, mtime) in listing.items()
    }
    return TableState(MappingProxyType(files), disabled, schema)


def state(spark: SparkSession, path: str) -> TableState:
    """The table's current state: the recorded one when the directory
    listing still matches it, else rebuilt from the files."""
    key = _key(path)
    listing = _listing(path)
    disabled = _disabled(path)
    with _LOCK:
        st = _TABLES.get(key)
    if st is not None and _matches(st, listing, disabled):
        return st
    st = _rebuild(spark, path, listing, disabled)
    with _LOCK:
        if listing:
            _TABLES[key] = st
        else:
            _TABLES.pop(key, None)
    return st


def read(spark: SparkSession, path: str) -> DataFrame:
    """The table's physical relation (enabled files, recorded schema):
    a directory listing and no Spark job while the state is current."""
    st = state(spark, path)
    return _scan(spark.read.schema(st.schema), path, st.live_files(path),
                 st.disabled)


def _after_write(path: str, before: TableState | None) -> TableState | None:
    """State after a write that added files to ``before``'s file set
    (an append) or, with ``before=None``, replaced the directory (a
    copy-on-write swap). None when it cannot be derived from the new
    footers alone: an old file changed, a new file is not Spark-written
    or sits in a partition directory (Spark infers partition columns),
    the schemas conflict, or no enabled file is left."""
    listing = _listing(path)
    disabled = _disabled(path)
    known = before.files if before is not None else {}
    if before is not None and before.disabled != disabled:
        return None
    if any(listing.get(rel) != (f.size, f.mtime_ns)
           for rel, f in known.items()):
        return None
    live = [rel for rel in listing if os.path.basename(rel) not in disabled]
    if not live or any(os.path.dirname(rel) for rel in live):
        return None
    files = dict(known)
    # before's schema covers its enabled files, or all of them when it
    # had none enabled — then only the new files decide
    schema = None
    if before is not None and before.live_files(path):
        schema = before.schema
    for rel, (size, mtime) in listing.items():
        if rel in known:
            continue
        rows, file_schema = _footer(os.path.join(path, rel))
        files[rel] = DataFile(size, mtime, rows)
        if os.path.basename(rel) in disabled:
            continue
        if file_schema is None:
            return None
        schema = file_schema if schema is None else _merge(
            schema, file_schema
        )
        if schema is None:
            return None
    return TableState(MappingProxyType(files), disabled, schema)


def record(spark: SparkSession, path: str,
           before: TableState | None = None) -> TableState:
    """Record a write to ``path`` (see ``_after_write``) and return the
    table's state; falls back to a rebuild when the write's footers do
    not determine it."""
    st = _after_write(path, before)
    if st is None:
        forget(path)
        return state(spark, path)
    with _LOCK:
        _TABLES[_key(path)] = st
    return st


def forget(path: str) -> None:
    """Drop the recorded state of ``path`` (the next use rebuilds it)."""
    with _LOCK:
        _TABLES.pop(_key(path), None)
