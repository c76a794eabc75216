"""Table manifest: what each attached table directory holds, kept apart
from the data it describes.

Reference analogue: the extent map (``EMEntry`` HWM and casual-partition
min/max, versioning/BRM/extentmap.h) and the system catalog
(``SYSCOLUMN``, calpontsystemcatalog.h). ColumnStore records a table's
state when data is written and never scans the data to rediscover it.
Here the state of a Parquet table directory is:

- the live data files, keyed by (relative path, size, mtime_ns), each
  with its footer row count. The relative path is also the file's
  partition key (``partitions``): disabled partitions are stored by it;
- the merged physical Spark schema of the enabled files (every field
  nullable, as Spark reads Parquet back) — a pure function of that file
  set and the disabled-partition set.

Schemas come from the files' footers, read in the driver JVM with
Spark's own footer reader and type mapping (``file_schemas``), so no
Spark job runs to learn one: not for a fixture table (``read_parquet``),
nor for a table directory.

Invariant: every use lists the directory (``os.walk`` + ``stat``) and
compares. A mismatch — another process wrote the directory, a
ROLLBACK swapped it, or the table was just attached — rebuilds the
state from the footers, so no writer has to know about the manifest for
reads to stay correct. Writers that do (INSERT / LOAD DATA appends,
copy-on-write rewrites and compactions) ``record`` the files they just
wrote from those files' footers alone. ``read`` turns the state into the
table's physical relation (``spark.read.schema(...)`` over the enabled
files).

Only the current files of each path are held (a rewrite replaces the
entry; nothing is cached per file across versions). Beside each state
sits the table's logical relation (``evolved``): one DataFrame per
(session, path), reused while neither the state nor the evolution
sidecar has changed, so a statement builds its table's relation once,
after its own write. The state lives in this process and is not
persisted. Paths that list no local files (``s3a://`` URIs) are never
cached: every use pays Spark's ``mergeSchema`` read.
"""

from __future__ import annotations

import json
import os
import threading
from dataclasses import dataclass
from types import MappingProxyType
from typing import Callable, Mapping

from py4j.protocol import Py4JJavaError
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
    #: partition keys excluded from reads (disabled partitions)
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
            if rel not in self.disabled
        )

    def live_files(self, path: str) -> list[str]:
        """Absolute paths of the enabled data files."""
        return [
            os.path.join(path, rel) for rel in self.files
            if rel not in self.disabled
        ]


_LOCK = threading.Lock()
_TABLES: dict[str, TableState] = {}
#: (id(session), path) → (session, state, sidecar, logical relation)
_RELATIONS: dict[tuple[int, str], tuple] = {}


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


def partitions(path: str) -> dict[str, str]:
    """Partition key → absolute path of every data file of the table.
    The partition unit is a data file (the extent analogue of
    ha_mcs_partition.cpp's partition ids), keyed by its path relative to
    the table root: the bare file name in a flat table, ``k=v/<name>``
    under a hive partition directory — Spark gives every such directory
    the same ``part-*`` names."""
    return {rel: os.path.join(path, rel) for rel in _listing(path)}


def disabled(path: str) -> frozenset:
    """Partition keys of the table's disabled partitions."""
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


def file_schemas(spark: SparkSession, files: list[str]) -> list:
    """Spark's schema of each Parquet file of ``files``, as JVM
    ``StructType`` objects: the footers are read in the driver JVM by
    Spark's own reader and type mapping, through py4j
    (``ParquetFileFormat.readParquetFootersInParallel``, then
    ``readSchemaFromFooter`` under the session's Parquet conf). That is
    what Spark's schema inference runs in a job; here no job runs."""
    jvm = spark._jvm
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    fmt = getattr(getattr(parquet, "ParquetFileFormat$"), "MODULE$")
    session = spark._jsparkSession.sessionState()
    conf = session.newHadoopConf()
    path = jvm.org.apache.hadoop.fs.Path
    fs = path(files[0]).getFileSystem(conf)
    footers = fmt.readParquetFootersInParallel(
        conf, jvm.PythonUtils.toSeq([fs.getFileStatus(path(f)) for f in files]),
        False,
    )
    converter = parquet.ParquetToSparkSchemaConverter(session.conf())
    return [
        fmt.readSchemaFromFooter(footers.apply(i), converter)
        for i in range(len(files))
    ]


def _python(schema) -> StructType:
    """A JVM ``StructType`` as read back (``asNullable``), in Python."""
    return StructType.fromJson(json.loads(schema.asNullable().json()))


def _first_file(path: str) -> str | None:
    """The data file Spark infers ``path``'s schema from without
    ``mergeSchema``: the path itself, or the first data file by path."""
    if os.path.isfile(path):
        return path
    files = sorted(partitions(path).values())
    return files[0] if files else None


def read_parquet(spark: SparkSession, paths: list[str]) -> list[DataFrame]:
    """``[spark.read.parquet(p) for p in paths]`` without a schema
    inference job per path: each relation is built with the schema that
    inference gives, that of the path's first data file (``k=v``
    partition columns are still inferred from the directory names), and
    the footers of all paths are read in one batch. A path with no local
    data file is left to Spark's read."""
    firsts = {p: _first_file(p) for p in paths}
    local = [f for f in firsts.values() if f is not None]
    schemas = dict(zip(local, file_schemas(spark, local))) if local else {}
    return [
        spark.read.schema(_python(schemas[firsts[p]])).parquet(p)
        if firsts[p] is not None else spark.read.parquet(p)
        for p in paths
    ]


def _merged(spark: SparkSession, files: list[str]) -> StructType | None:
    """The schema a ``mergeSchema`` read of ``files`` gives (partition
    columns aside): their footer schemas merged in path order with
    Spark's ``StructType.merge`` under the session's case sensitivity,
    as that read merges them. Where Spark refuses a pair its reader
    widens on read, ``_merge`` stands in; None when that fails too."""
    schemas = file_schemas(spark, sorted(files))
    case_sensitive = (
        spark._jsparkSession.sessionState().conf().caseSensitiveAnalysis()
    )
    merged = schemas[0]
    try:
        for schema in schemas[1:]:
            merged = merged.merge(schema, case_sensitive)
    except Py4JJavaError:
        merged = None
    if merged is not None:
        return _python(merged)
    out = None
    for schema in map(_python, schemas):
        out = schema if out is None else _merge(out, schema)
        if out is None:
            return None
    return out


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
    """The state from the files: the merged footer schema of the enabled
    files (of all files while none is enabled) and their row counts, no
    Spark job. ``k=v`` partition columns come from the relation built
    over that schema, as Spark infers them from the directory names.
    Spark's ``mergeSchema`` read stands in where no file is local, and
    where the schemas do not merge (it merges them or raises)."""
    live_rels = [rel for rel in listing if rel not in disabled]
    live = [os.path.join(path, rel) for rel in live_rels]
    rels = live_rels or list(listing)
    schema = _merged(spark, [os.path.join(path, r) for r in rels]) \
        if rels else None
    if schema is None:
        schema = _scan(spark.read.option("mergeSchema", "true"), path,
                       live, disabled).schema
    elif any(os.path.dirname(rel) for rel in rels):
        schema = _scan(spark.read.schema(schema), path, live,
                       disabled).schema
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
    off = disabled(path)
    with _LOCK:
        st = _TABLES.get(key)
    if st is not None and _matches(st, listing, off):
        return st
    st = _rebuild(spark, path, listing, off)
    with _LOCK:
        if listing:
            _TABLES[key] = st
        else:
            _TABLES.pop(key, None)
    return st


def read(spark: SparkSession, path: str,
         st: TableState | None = None) -> DataFrame:
    """The table's physical relation (enabled files, recorded schema):
    a directory listing and no Spark job while the state is current."""
    st = state(spark, path) if st is None else st
    return _scan(spark.read.schema(st.schema), path, st.live_files(path),
                 st.disabled)


def evolved(spark: SparkSession, path: str, evo: dict,
            build: Callable[[DataFrame], DataFrame]) -> DataFrame:
    """The table's logical relation, ``build`` applied to ``read``'s
    physical one for the sidecar ``evo``. The same DataFrame comes back
    while the recorded state object and the sidecar are unchanged: the
    file index inside it lists exactly the state's files, and every
    write records a new state."""
    st = state(spark, path)
    key = (id(spark), _key(path))
    with _LOCK:
        hit = _RELATIONS.get(key)
    if hit is not None and hit[0] is spark and hit[1] is st \
            and hit[2] == evo:
        return hit[3]
    df = build(read(spark, path, st))
    with _LOCK:
        # a stopped session's relations are dead, and would pin it
        for k in [k for k, e in _RELATIONS.items()
                  if e[0].sparkContext._jsc is None]:
            del _RELATIONS[k]
        if _TABLES.get(key[1]) is st:
            _RELATIONS[key] = (spark, st, evo, df)
    return df


def _after_write(path: str, before: TableState | None) -> TableState | None:
    """State after a write that added files to ``before``'s file set
    (an append) or, with ``before=None``, replaced the directory (a
    copy-on-write swap). None when it cannot be derived from the new
    footers alone: an old file changed, a new file is not Spark-written
    or sits in a partition directory (Spark infers partition columns),
    the schemas conflict, or no enabled file is left."""
    listing = _listing(path)
    off = disabled(path)
    known = before.files if before is not None else {}
    if before is not None and before.disabled != off:
        return None
    if any(listing.get(rel) != (f.size, f.mtime_ns)
           for rel, f in known.items()):
        return None
    live = [rel for rel in listing if rel not in off]
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
        if rel in off:
            continue
        if file_schema is None:
            return None
        schema = file_schema if schema is None else _merge(
            schema, file_schema
        )
        if schema is None:
            return None
    return TableState(MappingProxyType(files), off, schema)


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
    """Drop the recorded state and relations of ``path`` (the next use
    rebuilds them)."""
    key = _key(path)
    with _LOCK:
        _TABLES.pop(key, None)
        for k in [k for k in _RELATIONS if k[1] == key]:
            del _RELATIONS[k]
