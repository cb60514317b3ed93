"""Parquet replay source — ParquetReader parity (SURVEY.md §2.1).

Reference: csp/adapters/parquet.py:109-330 (time_column replay, symbol
filtering, start/end bounds) over a C++ Arrow reader. Spark-first:
``spark.read.parquet`` IS the native equivalent — vectorized scan,
predicate pushdown, partition pruning — so this module is thin: schema
quirks + the TickStream adapter. :func:`read_table` is the package's one
batch parquet read.

Footer rule: :func:`read_table` hands Spark a schema, so building a plan
launches no Spark job (Spark's own inference always runs one, even for one
file). The schema comes from one footer, read on the driver: that of the
first data file by path under Spark's own listing (hidden files skipped),
which is the file Spark infers from when ``mergeSchema`` is off. Spark's
converter (``ParquetFileFormat.readSchemaFromFooter``) turns it into the
schema ``spark.read.parquet`` infers, field for field (``timestamp_ntz``,
Spark's row metadata); partition columns are still discovered from the
paths. A file named directly is not listed; a directory is listed twice,
to find that file and by the scan itself (past
``spark.sql.sources.parallelPartitionDiscovery.threshold`` subdirectories,
32 by default, each listing is a Spark job, as in any Spark read).
Nothing is memoized: every call reads the footer again.

Nanos rule: csp is ns-resolution (cpp/csp/core/Time.h); Spark is µs, and
its reader rejects TIMESTAMP(NANOS) unless
``spark.sql.legacy.parquet.nanosAsLong`` is set. The same footer names
every top-level TIMESTAMP(NANOS) column; the schema reads it as a long
(converted with that flag on a copy of the session conf, so the session's
own conf never changes) and :func:`read_table` truncates it to a µs
TimestampType (documented precision delta). A directory of nanos part
files reads like a single file.
"""

from __future__ import annotations

import datetime as _dt
from typing import Sequence
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, _parse_datatype_json_string

from ..core.ticks import TickStream

_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"
# a listing-only scan: any given schema stops Spark from inferring one
_LISTING = "`__listing` int"


def _scan(spark: SparkSession, path: str, schema) -> DataFrame:
    """The one batch parquet read; ``schema=None`` lets Spark infer it."""
    return (spark.read if schema is None else spark.read.schema(schema)).parquet(path)


def _first_data_file(spark: SparkSession, path: str, hconf):
    """The file Spark infers a schema from with ``mergeSchema`` off: the
    first data file by path in Spark's own listing (hidden files skipped,
    partition directories walked); None when there is none."""
    jvm = spark._jvm
    hpath = getattr(jvm, "org.apache.hadoop.fs.Path")
    root = hpath(path)
    found = root.getFileSystem(hconf).globStatus(root)
    if found is not None and len(found) == 1 and found[0].isFile():
        return found[0].getPath()  # a file named directly: nothing to list
    files = _scan(spark, path, _LISTING)._jdf.inputFiles()  # raises PATH_NOT_FOUND
    if len(files) == 0:
        return None
    # Spark sorts by Path.toString, which is the percent-decoded URI
    uris = getattr(jvm, "scala.collection.mutable.ArraySeq").make(files).mkString("\n")
    return hpath(getattr(jvm, "java.net.URI")(min(uris.split("\n"), key=unquote)))


def _footer(spark: SparkSession, path: str) -> tuple[StructType, list[str]] | None:
    """(schema, top-level TIMESTAMP(NANOS) columns) from the footer of
    :func:`_first_data_file`; None when there is no data file."""
    jvm = spark._jvm
    state = spark._jsparkSession.sessionState()
    hconf = state.newHadoopConf()
    first = _first_data_file(spark, path, hconf)
    if first is None:
        return None
    parquet = "org.apache.spark.sql.execution.datasources.parquet."
    meta = getattr(jvm, parquet + "ParquetFooterReader").readFooter(
        getattr(jvm, "org.apache.parquet.hadoop.util.HadoopInputFile").fromPath(first, hconf),
        getattr(jvm, "org.apache.parquet.format.converter.ParquetMetadataConverter")
        .SKIP_ROW_GROUPS,
    )
    conf = state.conf().clone()
    conf.setConfString(_NANOS_CONF, "true")
    jschema = getattr(jvm, parquet + "ParquetFileFormat").readSchemaFromFooter(
        getattr(jvm, "org.apache.parquet.hadoop.Footer")(first, meta),
        getattr(jvm, parquet + "ParquetToSparkSchemaConverter")(conf),
    )
    schema = _parse_datatype_json_string(jschema.json())
    message = meta.getFileMetaData().getSchema()
    nanos = [
        f.name for f in schema.fields
        if isinstance(f.dataType, LongType)
        and str(message.getType(f.name).getLogicalTypeAnnotation())
        .startswith("TIMESTAMP(NANOS")
    ]
    return schema, nanos


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet file or directory with the schema of its footer
    (module docstring): no Spark job at plan build, and TIMESTAMP(NANOS)
    columns returned as µs TimestampType."""
    footer = _footer(spark, path)
    if footer is None:  # no data file: Spark raises its own error
        return _scan(spark, path, None)
    schema, nanos = footer
    df = _scan(spark, path, schema)
    # integer div, not `/` (double division rounds the µs value for
    # ns-epochs > 2^53; DuckDB and the reference truncate)
    return df.withColumns({
        c: F.timestamp_micros(F.expr(f"`{c}` div 1000")) for c in nanos
    }) if nanos else df


def subscribe(
    spark: SparkSession,
    path: str,
    time_column: str,
    value_column: str,
    symbol_column: str | None = None,
    symbol: str | Sequence[str] | None = None,
    start: _dt.datetime | None = None,
    end: _dt.datetime | None = None,
    seq_column: str | None = None,
) -> TickStream:
    """ParquetReader.subscribe parity (csp/adapters/parquet.py:109-180):
    replay one column as a tick stream ordered by time_column, with
    optional symbol filter and [start, end] bounds.

    Filters are plain Catalyst predicates → pushed to the parquet scan
    (PushedFilters in .explain), so a symbol/time slice reads only the
    matching row groups — this is where Spark beats the reference's
    single-process reader at scale.
    """
    df = read_table(spark, path)
    if symbol is not None and symbol_column is not None:
        if isinstance(symbol, str):
            df = df.filter(F.col(symbol_column) == symbol)
        else:
            df = df.filter(F.col(symbol_column).isin(list(symbol)))
    if start is not None:
        df = df.filter(F.col(time_column) >= F.lit(start))
    if end is not None:
        df = df.filter(F.col(time_column) <= F.lit(end))
    return TickStream.from_table(
        df,
        ts_col=time_column,
        value_col=value_column,
        key_col=symbol_column,
        seq_col=seq_column,
    )
