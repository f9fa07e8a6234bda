"""Driver lane of the parquet write path.

Rows that already sit on the driver (INSERT ... VALUES, engine-built local
frames, pandas-built inputs) need no executor to become data files. This
module finds such rows (:func:`local_relation`), decides whether the
session and schema allow the lane (:func:`settings`, :func:`int96`),
converts the rows to one Arrow table with no Spark job (:func:`to_arrow`)
and writes them as the same files Spark's ``LocalTableScanExec`` write
would produce.

A copy-on-write rewrite that Spark would run as one task (one file no
larger than one scan split) takes the lane too: its rows are gathered
in one Spark job (:func:`collect`) and written as the one file that task
would write. Either way the catalog commit publishes the files, so
Hadoop's output committer (``_temporary`` dirs, renames, ``.crc`` files
and a forked ``chmod`` per file and dir) buys nothing. The files are:

- ``min(rows, leafNodeDefaultParallelism)`` contiguous slices in row order
  (``SparkContext.parallelize`` slicing) of local rows, one slice of a
  rewrite, and one empty file for zero rows
- one ``part-<5-digit slice>-<write uuid>-c000.snappy.parquet`` per slice
- Spark's physical types: byte/short as annotated INT32, DATE as INT32,
  TIMESTAMP as INT96 (or INT64 micros), TIMESTAMP_NTZ as INT64 micros,
  3-level lists and ``key_value`` maps, no Arrow schema blob
- parquet-mr's choice between dictionary and PLAIN encoding per column

pyarrow 16 cannot store a DECIMAL as INT32/INT64, which Spark does up to
precision 18, so such schemas stay on the Spark write
(:func:`int96`).
"""

from __future__ import annotations

import os
import struct
import tempfile
import uuid
import weakref
from collections.abc import Callable, Iterator

from pyspark.sql import types as T

_PLAIN_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                T.FloatType, T.DoubleType, T.StringType, T.BinaryType,
                T.BooleanType, T.DateType, T.TimestampType,
                T.TimestampNTZType)


# analyzed-plan leaves a frame needs before its optimized plan is worth
# checking for a LocalRelation
_LOCAL_LEAVES = frozenset({"LocalRelation", "ResolvedInlineTable",
                           "OneRowRelation"})


def local_relation(df):
    """The LocalRelation ``df`` optimizes to, i.e. its rows when they
    already sit on the driver, or None. A scan leaf in the analyzed plan
    rules that out without optimizing the plan a second time (a Spark
    write optimizes its own copy). A CHECK violation raises here: the
    optimizer folds the check into the relation."""
    qe = df._jdf.queryExecution()
    leaves = qe.analyzed().collectLeaves()
    if any(leaves.apply(i).nodeName() not in _LOCAL_LEAVES
           for i in range(leaves.size())):
        return None
    plan = qe.optimizedPlan()
    return plan if plan.nodeName() == "LocalRelation" else None


# per gateway: the JVM classes to_arrow calls, each lookup a py4j round trip
_HANDLES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _handles(jvm) -> tuple:
    """(ArrowConverters, FileOutputStream, DataOutputStream, PythonRDD)
    of the gateway ``jvm``, looked up once."""
    handles = _HANDLES.get(jvm)
    if handles is None:
        handles = _HANDLES[jvm] = (
            getattr(jvm.org.apache.spark.sql.execution.arrow,
                    "ArrowConverters$").__getattr__("MODULE$"),
            jvm.java.io.FileOutputStream, jvm.java.io.DataOutputStream,
            jvm.org.apache.spark.api.python.PythonRDD)
    return handles


def to_arrow(spark, relation):
    """The rows of a LocalRelation as one Arrow table. Spark's own Arrow
    writer converts them in the driver JVM, so no Spark job runs
    (``DataFrame.toArrow`` runs one), and the bytes cross through a
    temporary file, since py4j would base64 them. The time zone only
    labels the Arrow type of TIMESTAMP columns; the values are UTC
    either way and the files carry no Arrow schema."""
    import pyarrow as pa
    converters, file_out, data_out, python_rdd = _handles(spark._jvm)
    # no record count or size cap: one IPC stream holds every row
    streams = converters.toBatchWithSchemaIterator(
        relation.data().iterator(), relation.schema(), 0, 0, "UTC", True,
        False)
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "rows.arrows")
        out = data_out(file_out(path))
        try:
            # each stream framed by its 4-byte big-endian length
            python_rdd.writeIteratorToStream(streams, out)
        finally:
            out.close()
        with open(path, "rb") as f:
            data = memoryview(f.read())
    tables, pos = [], 0
    while pos < len(data):
        (n,) = struct.unpack_from(">i", data, pos)
        tables.append(pa.ipc.open_stream(data[pos + 4:pos + 4 + n]).read_all())
        pos += 4 + n
    if not tables:                     # zero rows write no stream
        tables.append(pa.ipc.open_stream(converters.createEmptyArrowBatch(
            relation.schema(), "UTC", True, False)).read_all())
    return pa.concat_tables(tables)


def collect(df):
    """The rows of ``df`` as one Arrow table, gathered by one Spark job
    (``DataFrame.toArrow``) in the order one task would write them when
    ``df`` runs as one task. Spark's large string and binary types
    (``spark.sql.execution.arrow.useLargeVarTypes``) become the plain
    ones, which the encoding choice (:func:`_keeps_dictionary`) knows."""
    table = df.toArrow()
    schema = _plain_var_schema(table.schema)
    return table if schema.equals(table.schema) else table.cast(schema)


def _plain_var_schema(schema):
    import pyarrow as pa

    def plain(t):
        if pa.types.is_large_string(t):
            return pa.string()
        if pa.types.is_large_binary(t):
            return pa.binary()
        if pa.types.is_struct(t):
            return pa.struct([f.with_type(plain(f.type)) for f in t])
        if pa.types.is_map(t):
            return pa.map_(t.key_field.with_type(plain(t.key_type)),
                           t.item_field.with_type(plain(t.item_type)))
        if pa.types.is_list(t):
            return pa.list_(t.value_field.with_type(plain(t.value_type)))
        return t
    return pa.schema([f.with_type(plain(f.type)) for f in schema])


# session settings the lane's files depend on, with the values it
# reproduces. The read side counts too: a driver-lane file carries no
# Spark version key, so Spark reads it by the session's rebase modes and
# INT96 conversion, where a file of its own declares how it was written.
_SESSION = {
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.sql.parquet.writeLegacyFormat": "false",
    "spark.sql.parquet.datetimeRebaseModeInWrite": "CORRECTED",
    "spark.sql.parquet.int96RebaseModeInWrite": "CORRECTED",
    "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
    "spark.sql.parquet.int96TimestampConversion": "false",
    "spark.sql.files.maxRecordsPerFile": "0",
}


def settings(spark) -> tuple[bool, int] | None:
    """(INT96 timestamp output, slice count) when the session's parquet
    settings are ones this lane reproduces: snappy, the standard layout,
    INT96 or microsecond timestamps, the proleptic calendar on write and
    read, and no per-file record cap. None otherwise."""
    conf = spark.conf
    ts = conf.get("spark.sql.parquet.outputTimestampType")
    if ts not in ("INT96", "TIMESTAMP_MICROS") or any(
            conf.get(k) != v for k, v in _SESSION.items()):
        return None
    # LocalTableScanExec's task count: leafNodeDefaultParallelism, which
    # defaults to the context's default parallelism
    n = conf.get("spark.sql.leafNodeDefaultParallelism", None)
    return ts == "INT96", int(n or spark.sparkContext.defaultParallelism)


def _leaf_types(dt: T.DataType) -> Iterator[T.DataType]:
    if isinstance(dt, T.StructType):
        for f in dt.fields:
            yield from _leaf_types(f.dataType)
    elif isinstance(dt, T.ArrayType):
        yield from _leaf_types(dt.elementType)
    elif isinstance(dt, T.MapType):
        yield from _leaf_types(dt.keyType)
        yield from _leaf_types(dt.valueType)
    else:
        yield dt


def int96(schema: T.StructType, int96_output: bool) -> bool | None:
    """Whether pyarrow writes ``schema``'s timestamps as INT96: Spark
    does for TIMESTAMP under INT96 output, never for TIMESTAMP_NTZ. None
    when this lane cannot write ``schema`` with Spark's physical types:
    a DECIMAL of precision <= 18 (Spark stores it as an integer), a type
    outside the plain set (intervals, variant, UDTs), or TIMESTAMP beside
    TIMESTAMP_NTZ under INT96 output (pyarrow's INT96 switch covers
    every timestamp column). None too for a schema Spark refuses to
    write, with no column or a duplicate name: the Spark write raises
    its own error for it."""
    names = [f.name.lower() for f in schema.fields]
    if not names or len(set(names)) < len(names):
        return None
    leaves = list(_leaf_types(schema))
    for dt in leaves:
        if isinstance(dt, T.DecimalType):
            if dt.precision <= 18:
                return None
        elif not isinstance(dt, _PLAIN_TYPES):
            return None
    ltz = any(isinstance(d, T.TimestampType) for d in leaves)
    if int96_output and ltz and any(isinstance(d, T.TimestampNTZType)
                                    for d in leaves):
        return None
    return int96_output and ltz


def _leaves(path: str, arr) -> Iterator[tuple[str, object]]:
    """(parquet column path, values) for every leaf column of one Arrow
    array, in Spark's parquet naming."""
    import pyarrow as pa
    t = arr.type
    if pa.types.is_struct(t):
        for f, child in zip(t, arr.flatten()):
            yield from _leaves(f"{path}.{f.name}", child)
    elif pa.types.is_map(t):
        lo = arr.offsets[0].as_py()
        n = arr.offsets[-1].as_py() - lo
        yield from _leaves(f"{path}.key_value.key", arr.keys.slice(lo, n))
        yield from _leaves(f"{path}.key_value.value",
                           arr.items.slice(lo, n))
    elif pa.types.is_list(t) or pa.types.is_large_list(t):
        yield from _leaves(f"{path}.list.element", arr.flatten())
    else:
        yield path, arr


def _leaf_columns(table) -> dict[str, object]:
    """Every leaf column of ``table`` as one chunked array, keyed by its
    parquet column path."""
    import pyarrow as pa
    out: dict[str, list] = {}
    for name, col in zip(table.column_names, table.columns):
        for chunk in col.chunks:
            for path, arr in _leaves(name, chunk):
                out.setdefault(path, []).append(arr)
    return {path: pa.chunked_array(chunks) for path, chunks in out.items()}


def _statistics(part) -> bool | list[str]:
    """The ``write_statistics`` argument for one slice: every column but
    the float columns that hold a NaN. Arrow leaves NaN out of min/max,
    and a footer that says max = 2.0 over a NaN row lets a reader skip a
    row group that ``x > 5`` matches (NaN sorts above every number in
    Spark). Spark's own files carry the NaN in the max instead."""
    import pyarrow as pa
    import pyarrow.compute as pc
    nan = {path: pa.types.is_floating(arr.type)
           and bool(pc.any(pc.is_nan(arr)).as_py())
           for path, arr in _leaf_columns(part).items()}
    if not any(nan.values()):
        return True
    return [path for path, has in nan.items() if not has]


# parquet-mr's page row-count limit: the rows of its first page, on which
# it decides a column's encoding
_FIRST_PAGE_ROWS = 20_000


def _keeps_dictionary(values, int96: bool) -> bool:
    """Does parquet-mr keep a dictionary for a column whose first page
    holds the non-null ``values``? It encodes the page both ways and
    falls back to PLAIN for the whole column chunk unless the dictionary
    ids plus the dictionary are smaller than the plain values, as it
    counts them. Spark's v1 writer never dictionary-encodes a boolean or
    a fixed-length decimal."""
    import pyarrow as pa
    import pyarrow.compute as pc
    t = values.type
    if pa.types.is_boolean(t) or pa.types.is_decimal(t):
        return False
    distinct = pc.unique(values)
    if pa.types.is_binary(t) or pa.types.is_string(t):
        def size(a) -> int:
            return 4 * len(a) + (pc.sum(pc.binary_length(a)).as_py() or 0)
        plain, dictionary = size(values), size(distinct)
    elif pa.types.is_timestamp(t) and int96:
        # counted as a 12-byte binary plus its length word
        plain, dictionary = 16 * len(values), 12 * len(distinct)
    else:
        width = max(4, t.bit_width // 8)   # byte and short are INT32
        plain, dictionary = width * len(values), width * len(distinct)
    bits = max(len(distinct) - 1, 0).bit_length()
    ids = 1 + (len(values) * bits + 7) // 8
    return ids + dictionary < plain


def _dictionary_columns(part, int96: bool) -> list[str]:
    """The leaf columns Spark's parquet writer keeps dictionary-encoded
    (:func:`_keeps_dictionary`). Arrow on its own keeps a dictionary
    until it outgrows 1 MiB, which makes files of high-cardinality
    columns larger than Spark's."""
    import pyarrow.compute as pc
    head = _leaf_columns(part.slice(0, _FIRST_PAGE_ROWS))
    return [path for path, arr in head.items()
            if _keeps_dictionary(pc.drop_null(arr), int96)]


def write_slices(table, n_slices: int, int96: bool,
                 sink: Callable[[str], object]) -> list[str]:
    """Write ``table`` as ``min(rows, n_slices)`` parquet files (one for
    zero rows) and return their names. ``sink(name)`` gives the path or
    writable file object each file goes to."""
    import pyarrow.parquet as pq
    n = table.num_rows
    k = min(max(n, 1), n_slices)
    job = uuid.uuid4()
    names = []
    for i in range(k):
        lo, hi = i * n // k, (i + 1) * n // k
        part = table.slice(lo, hi - lo)
        name = f"part-{i:05d}-{job}-c000.snappy.parquet"
        pq.write_table(part, sink(name), compression="snappy",
                       store_schema=False,
                       use_deprecated_int96_timestamps=int96,
                       use_dictionary=_dictionary_columns(part, int96),
                       write_statistics=_statistics(part))
        names.append(name)
    return names
