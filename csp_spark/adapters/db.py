"""csp.adapters.db parity — the class-shaped ``DBReader`` +
``TimeAccessor`` family (reference csp/adapters/db.py:36-440) over the
functional :func:`read_jdbc`.

Reference shape: a ``DBReader`` holds (connection, time accessor,
table/query, symbol column, extra constraint); ``subscribe(symbol,
typ)`` / ``subscribe_all(typ)`` return tick edges; ``typ=None``
dynamically defines a struct from the table schema
(``schema_struct()`` — the reference builds it with
``csp.impl.struct.define_struct`` at db.py:271, and so does this one).
``TimestampAccessor`` / ``DateTimeAccessor`` / ``EngineStartTimeAccessor``
map the table's time representation to the engine clock and own the
time-range WHERE constraint and ORDER BY (db.py:36-175).

Spark-first split, two backends chosen by the connection argument:

- a **JDBC URL string** (``jdbc:...``): the query — time constraint,
  symbol filter, user constraint — is composed into a pushdown
  subquery for ``spark.read.jdbc``; the database does the filtering
  and Spark parallelizes the fetch. This is the 100 TB path. Pass
  ``num_partitions=N`` to split the read into N concurrent
  range-bracketed scans on the accessor's time column (or an explicit
  ``partition_column`` + ``lower_bound``/``upper_bound``); the bounds
  default to the engine replay window. A partitioned read derives SEQ
  from the row data (layout-independent) instead of ingestion order —
  see ``_subscribe``.
- a **DB-API connection** (anything with ``.cursor()``, e.g. the
  stdlib ``sqlite3``; a SQLAlchemy engine also works via its DBAPI
  pool): the same composed SQL runs through ``pandas.read_sql`` on
  the driver and lands in Spark via Arrow ``createDataFrame``. This
  mirrors the reference's own execution (its C++ engine also pulls
  the result set through one cursor) and is the authoring/test
  surface — the result is small by the same contract.

Replay-window behavior matches the reference adapter: when built
inside a ``csp.run`` frame, the time constraint is
[engine_start_time, engine_end_time]; outside a run frame the full
table replays (unbounded historical read).
"""

from __future__ import annotations

import datetime as _dt
import logging
from abc import ABC, abstractmethod
from typing import Any, Mapping

from ..sources.other import read_jdbc

logger = logging.getLogger("csp_spark")

__all__ = [
    "DBReader",
    "TimeAccessor",
    "TimestampAccessor",
    "DateTimeAccessor",
    "EngineStartTimeAccessor",
    "read_jdbc",
]

try:  # stdlib since 3.9; the reference falls back to backports too
    import zoneinfo

    UTC = zoneinfo.ZoneInfo("UTC")
except ImportError:  # pragma: no cover
    UTC = _dt.timezone.utc


def _as_utc(t: _dt.datetime) -> _dt.datetime:
    """Engine times are naive-UTC by convention (the whole session runs
    UTC); label them before converting so a non-UTC host machine's
    local zone never shifts the replay window."""
    return t.replace(tzinfo=UTC) if t.tzinfo is None else t


def _coerce_tz(tz):
    """Accept zoneinfo/pytz/str/None uniformly (reference accepts
    pytz.BaseTzInfo and converts; pytz isn't shipped here, so only
    duck-type on ``.zone``)."""
    if tz is None:
        return None
    if isinstance(tz, str):
        import zoneinfo as _zi

        return _zi.ZoneInfo(tz)
    zone = getattr(tz, "zone", None)
    if zone is not None and not isinstance(tz, _dt.tzinfo):
        import zoneinfo as _zi

        return _zi.ZoneInfo(zone)
    return tz


class TimeAccessor(ABC):
    """How a table expresses event time (reference db.py:36-52): the
    four reference methods plus ``spark_ts`` — the Spark-side column
    expression the TickStream's engine timestamp is built from (the
    reference stamps rows row-at-a-time in get_time; a column
    expression is the vectorized equivalent)."""

    @abstractmethod
    def get_time_columns(self, connection):
        """Column names the query must select to reconstruct time."""
        raise NotImplementedError

    @abstractmethod
    def get_time_constraint(self, starttime, endtime):
        """(sql_text, params) WHERE fragment bounding the replay
        window, or None for no constraint."""
        raise NotImplementedError

    @abstractmethod
    def get_order_by_columns(self):
        """Column names for the ORDER BY, or None."""
        raise NotImplementedError

    @abstractmethod
    def get_time(self, row: Mapping[str, Any]):
        """Engine timestamp for one row mapping (reference row form)."""
        raise NotImplementedError

    @abstractmethod
    def spark_ts(self, df):
        """Column expression producing the engine timestamp."""
        raise NotImplementedError

    def coerce_pandas(self, pdf):
        """Hook for the DB-API backend: coerce this accessor's time
        columns in the fetched frame to real dtypes (sqlite hands back
        ISO strings). Default: unchanged — DateTimeAccessor's date and
        time-of-day columns deliberately stay strings, spark_ts parses
        their concatenation."""
        return pdf

    def partition_column(self):
        """Column the partitioned JDBC read splits on, or None when
        this accessor has no single splittable time column (the caller
        must then pass partition_column explicitly)."""
        return None

    def partition_bounds(self, starttime, endtime):
        """(lower, upper) values of :meth:`partition_column` covering
        the replay window, in the DB's own representation — or None
        when not derivable."""
        return None


class EngineStartTimeAccessor(TimeAccessor):
    """Constant accessor for data ingested once at engine start time
    (reference db.py:53-66): no time columns, no constraint; every row
    is stamped with ``csp.engine_start_time()``."""

    def get_time_columns(self, connection):
        return None

    def get_time_constraint(self, starttime, endtime):
        return None

    def get_order_by_columns(self):
        return None

    def _start(self):
        from ..plans.runtime import engine_start_time

        return engine_start_time()

    def get_time(self, row):
        t = self._start()
        return t.replace(tzinfo=UTC) if t is not None else None

    def spark_ts(self, df):
        from pyspark.sql import functions as F

        t = self._start()
        if t is None:
            raise RuntimeError(
                "EngineStartTimeAccessor requires a run() starttime"
            )
        return F.lit(t).cast("timestamp")


class TimestampAccessor(TimeAccessor):
    """Single timestamp column (reference db.py:69-114).

    :param time_column: db column holding the timestamp
    :param tz: timezone when the db timestamp is naive (reference
        rule: no tz anywhere is an error at get_time time)
    """

    def __init__(self, time_column: str, tz=None):
        self._time_column = time_column
        self._tz = _coerce_tz(tz)
        self._db_has_tz: bool | None = None

    def get_time_columns(self, connection):
        return [self._time_column]

    def get_time_constraint(self, starttime, endtime):
        if self._tz:
            starttime = _as_utc(starttime).astimezone(self._tz)
            endtime = _as_utc(endtime).astimezone(self._tz)
        return (
            f"{self._time_column} BETWEEN ? AND ?",
            [starttime.replace(tzinfo=None), endtime.replace(tzinfo=None)],
        )

    def get_order_by_columns(self):
        return [self._time_column]

    def get_time(self, row):
        timestamp = row[self._time_column]
        if self._db_has_tz is None:
            self._db_has_tz = timestamp.tzinfo is not None
            if self._db_has_tz and self._tz and self._tz != timestamp.tzinfo:
                raise ValueError(
                    f"Specified timezone: {self._tz}, but database has "
                    f"timezone: {timestamp.tzinfo}"
                )
            if not self._db_has_tz and not self._tz:
                raise ValueError(
                    "No timezone specified and no timezone in database"
                )
        if self._tz:
            return timestamp.replace(tzinfo=self._tz)
        return timestamp

    def spark_ts(self, df):
        from pyspark.sql import functions as F

        # the session is UTC; a tz-labeled naive column converts to UTC
        col = F.col(self._time_column).cast("timestamp")
        if self._tz:
            return F.to_utc_timestamp(col, str(self._tz))
        return col

    def coerce_pandas(self, pdf):
        import pandas as pd

        c = self._time_column
        if c in pdf.columns and pdf[c].dtype == object:
            try:
                pdf[c] = pd.to_datetime(pdf[c], format="ISO8601")
            except (ValueError, TypeError):
                pass
        return pdf

    def partition_column(self):
        return self._time_column

    def partition_bounds(self, starttime, endtime):
        # the same tz conversion the WHERE constraint applies, so the
        # partition stride brackets exactly the constrained range
        if self._tz:
            starttime = _as_utc(starttime).astimezone(self._tz)
            endtime = _as_utc(endtime).astimezone(self._tz)
        return (
            starttime.replace(tzinfo=None),
            endtime.replace(tzinfo=None),
        )


class DateTimeAccessor(TimeAccessor):
    """Separate date + time-of-day columns (reference db.py:117-175).

    :param date_column: db column with the date
    :param time_column: db column with the time of day
    :param tz: timezone when the combination is naive
    """

    def __init__(self, date_column: str, time_column: str, tz=None):
        self._date_column = date_column
        self._time_column = time_column
        self._tz = _coerce_tz(tz)
        self._db_has_tz: bool | None = None

    def get_time_columns(self, connection):
        return [self._date_column, self._time_column]

    def get_time_constraint(self, starttime, endtime):
        if self._tz:
            starttime = _as_utc(starttime).astimezone(self._tz)
            endtime = _as_utc(endtime).astimezone(self._tz)
        d, t = self._date_column, self._time_column
        if starttime.date() == endtime.date():
            return (
                f"{d} = ? AND {t} BETWEEN ? AND ?",
                [starttime.date(), starttime.time(), endtime.time()],
            )
        # span: date in range, excluding the out-of-window times on the
        # boundary days (reference db.py:136-156, same three conjuncts)
        return (
            f"{d} BETWEEN ? AND ? AND ({d} > ? OR {t} >= ?) "
            f"AND ({d} < ? OR {t} <= ?)",
            [
                starttime.date(), endtime.date(),
                starttime.date(), starttime.time(),
                endtime.date(), endtime.time(),
            ],
        )

    def get_order_by_columns(self):
        return [self._date_column, self._time_column]

    def get_time(self, row):
        timestamp = _dt.datetime.combine(
            row[self._date_column], row[self._time_column]
        )
        if self._db_has_tz is None:
            self._db_has_tz = timestamp.tzinfo is not None
            if not self._db_has_tz and not self._tz:
                raise ValueError(
                    "No timezone specified and no timezone in database"
                )
        if self._tz:
            return timestamp.replace(tzinfo=self._tz)
        return timestamp

    def spark_ts(self, df):
        from pyspark.sql import functions as F

        col = F.to_timestamp(
            F.concat_ws(
                " ",
                F.col(self._date_column).cast("string"),
                F.col(self._time_column).cast("string"),
            )
        )
        if self._tz:
            return F.to_utc_timestamp(col, str(self._tz))
        return col


_SCHEMA_STRUCT_CACHE: dict[str, type] = {}


class DBReader:
    """Reference DBReader calling convention (csp/adapters/db.py:179):
    one reader = one (connection, time accessor, table-or-query,
    symbol column, extra constraint); ``subscribe``/``subscribe_all``
    hand out tick edges. See the module docstring for the two Spark
    backends."""

    def __init__(
        self,
        connection,
        time_accessor: TimeAccessor,
        table_name: str | None = None,
        schema_name: str | None = None,
        query: str | None = None,
        symbol_column: str | None = None,
        constraint: str | tuple | None = None,
        log_query: bool = False,
        use_raw_user_query: bool = False,
        spark=None,
        num_partitions: int | None = None,
        partition_column: str | None = None,
        lower_bound=None,
        upper_bound=None,
        fetch_size: int | None = None,
    ):
        # the reference's construction rules, verbatim semantics
        if use_raw_user_query and not query:
            raise RuntimeError("use_raw_user_queries True but no query provided")
        if bool(table_name) == bool(query):
            raise RuntimeError("Must specify table name or query")
        if bool(schema_name) and not bool(table_name):
            raise RuntimeError("Cannot specify schema name without table name")
        self._connection = connection
        self._time_accessor = time_accessor
        self._table_name = table_name
        self._schema_name = schema_name
        self._query = query
        self._symbol_column = symbol_column
        self._constraint = constraint
        self._log_query = log_query
        self._use_raw_user_query = use_raw_user_query
        self._spark = spark
        # Spark-first scale extensions (beyond the reference API): a
        # partitioned JDBC read — N concurrent range-bracketed scans
        # instead of one cursor. At 100 TB a single-task JDBC read is
        # the ingest bottleneck; these map 1:1 onto spark.read.jdbc's
        # partitionColumn/lowerBound/upperBound/numPartitions.
        if num_partitions is not None and num_partitions < 1:
            raise ValueError("num_partitions must be >= 1")
        if (lower_bound is None) != (upper_bound is None):
            raise ValueError(
                "lower_bound and upper_bound must be given together"
            )
        self._num_partitions = num_partitions
        self._partition_column = partition_column
        self._lower_bound = lower_bound
        self._upper_bound = upper_bound
        self._fetch_size = fetch_size
        self._requested_cols: set[str] = set()
        time_columns = time_accessor.get_time_columns(connection)
        if time_columns:
            for col in time_columns:
                self._requested_cols.add(
                    col[0] if isinstance(col, tuple) else col
                )
        if symbol_column is not None:
            self._requested_cols.add(symbol_column)

    # ------------------------------------------------- reference ctor
    @classmethod
    def create_from_connection(
        cls,
        connection,
        time_accessor,
        table_name=None,
        schema_name=None,
        query=None,
        symbol_column=None,
        constraint=None,
        log_query=False,
    ):
        return cls(
            connection, time_accessor, table_name, schema_name, query,
            symbol_column, constraint, log_query,
        )

    @classmethod
    def create_from_url(
        cls,
        url: str,
        time_accessor,
        table_name=None,
        schema_name=None,
        query=None,
        symbol_column=None,
        constraint=None,
        log_query=False,
    ):
        """URL form (reference db.py:434 builds a sqlalchemy engine).
        ``jdbc:...`` URLs keep the string (the Spark pushdown backend);
        ``sqlite:///path`` / ``sqlite://`` open a stdlib sqlite3
        connection; anything else needs sqlalchemy if installed."""
        conn: Any
        if url.startswith("jdbc:"):
            conn = url
        elif url.startswith("sqlite://"):
            import sqlite3

            path = url[len("sqlite:///"):] or ":memory:"
            conn = sqlite3.connect(path)
        else:
            try:
                import sqlalchemy as _sa

                conn = _sa.create_engine(url)
            except ImportError as e:
                raise RuntimeError(
                    "Could not find SQLAlchemy installation"
                ) from e
        return cls(
            conn, time_accessor, table_name, schema_name, query,
            symbol_column, constraint, log_query,
        )

    # --------------------------------------------------------- schema
    def schema_struct(self):
        """A dynamically-defined struct reflecting the table schema
        (reference db.py:259-273 — same define_struct path, same
        ``DBDynStruct_{table}_{schema}`` naming + memoization)."""
        if not self._table_name:
            raise RuntimeError(
                "schema_struct (typ=None subscribe) needs a table_name "
                "reader — a query-based reader has no table to "
                "introspect; pass an explicit struct type instead"
            )
        if isinstance(self._connection, str):
            raise RuntimeError(
                "schema_struct needs a DB-API connection to introspect "
                "the table; the jdbc: URL backend cannot run the "
                "driver-side sample — pass an explicit struct type"
            )
        name = "DBDynStruct_{table}_{schema}".format(
            table=self._table_name or "", schema=self._schema_name or ""
        )
        if name not in _SCHEMA_STRUCT_CACHE:
            import pandas as pd

            from ..impl.struct import define_struct

            # sample one row so dtypes reflect the stored values (an
            # empty frame types every column object -> str)
            pdf = pd.read_sql(
                f"SELECT * FROM {self._qualified_table()} LIMIT 1",
                self._raw_connection(),
            )
            metadata = {
                c: (
                    _value_to_python(pdf[c].iloc[0])
                    if len(pdf) and pdf[c].dtype == object
                    else _dtype_to_python(pdf[c].dtype)
                )
                for c in pdf.columns
            }
            _SCHEMA_STRUCT_CACHE[name] = define_struct(name, metadata)
        return _SCHEMA_STRUCT_CACHE[name]

    # ----------------------------------------------------- subscribe
    def subscribe(self, symbol, typ=None, field_map=None, push_mode=None):
        """One symbol's rows as a struct-valued tick stream. With
        ``typ=None`` the struct is defined from the table schema
        (reference db.py:240-247)."""
        if self._symbol_column is None:
            raise RuntimeError(
                "Attempted to subscribe to symbol %s but no symbol "
                "column was passed" % symbol
            )
        return self._subscribe(symbol, typ, field_map, push_mode)

    def subscribe_all(self, typ=None, field_map=None, push_mode=None):
        return self._subscribe(None, typ, field_map, push_mode)

    def _create(self, engine, memo):
        """Runtime-half factory (reference db.py:309): subclasses
        override this to swap in a customized DBReaderImpl."""
        return DBReaderImpl(engine, self)

    # ------------------------------------------------------ internals
    def _qualified_table(self) -> str:
        if self._schema_name:
            return f"{self._schema_name}.{self._table_name}"
        return str(self._table_name)

    def _raw_connection(self):
        """DB-API connection for the pandas path (a SQLAlchemy engine
        is passed through — pandas accepts it natively)."""
        return self._connection

    def _resolve_partitioning(self):
        """(column, lower, upper) for the partitioned JDBC read:
        explicit ctor values win; otherwise the accessor's splittable
        time column bracketed by the engine replay window."""
        pc = self._partition_column or self._time_accessor.partition_column()
        if pc is None:
            raise RuntimeError(
                "num_partitions > 1 needs a partition_column: the "
                f"{type(self._time_accessor).__name__} has no single "
                "splittable time column — pass partition_column/"
                "lower_bound/upper_bound explicitly"
            )
        lo, hi = self._lower_bound, self._upper_bound
        if lo is None:
            start, end = self._window()
            if start is not None and end is not None and (
                self._partition_column is None
                or self._partition_column
                == self._time_accessor.partition_column()
            ):
                bounds = self._time_accessor.partition_bounds(start, end)
                if bounds is not None:
                    lo, hi = bounds
        if lo is None:
            raise RuntimeError(
                "num_partitions > 1 needs lower_bound/upper_bound: no "
                "engine replay window to derive them from (construct "
                "the reader inside a csp.run frame, or pass the bounds "
                "explicitly)"
            )
        return pc, lo, hi

    def _is_partitioned_read(self) -> bool:
        return isinstance(self._connection, str) and (
            (self._num_partitions or 1) > 1
        )

    def _window(self):
        """[engine start, engine end] when built inside a run() frame,
        else unbounded (reference: the adapter impl reads the engine's
        start/end at open)."""
        from ..plans.runtime import _run_info_stack

        if _run_info_stack:
            frame = _run_info_stack[-1]
            return frame["start"], frame["end"]
        return None, None

    def _compose_sql(self, symbol, symbols=None) -> tuple[str, list]:
        base = (
            f"({self._query}) AS __user_q"
            if self._query
            else self._qualified_table()
        )
        if self._use_raw_user_query:
            return self._query, []
        cols = sorted(self._requested_cols) or ["*"]
        where, params = [], []
        start, end = self._window()
        if start is not None and end is not None:
            tc = self._time_accessor.get_time_constraint(start, end)
            if tc is not None:
                where.append(tc[0])
                params.extend(tc[1])
        if symbol is not None:
            where.append(f"{self._symbol_column} = ?")
            params.append(symbol)
        elif symbols:
            # runtime-half pushdown (reference db.py:404-406): every
            # subscription names a symbol, so the database filters
            where.append(
                f"{self._symbol_column} IN "
                f"({', '.join('?' for _ in symbols)})"
            )
            params.extend(symbols)
        if self._constraint is not None:
            if isinstance(self._constraint, tuple):
                where.append(self._constraint[0])
                params.extend(self._constraint[1])
            else:
                where.append(str(self._constraint))
        sql = f"SELECT {', '.join(cols)} FROM {base}"
        if where:
            sql += " WHERE " + " AND ".join(f"({w})" for w in where)
        order = self._time_accessor.get_order_by_columns()
        if order:
            sql += " ORDER BY " + ", ".join(order)
        if self._log_query:
            logger.info("DBReader query: %s", sql)
        return sql, params

    def _load_df(self, symbol):
        from ..core.session import get_spark

        spark = self._spark or get_spark()
        sql, params = self._compose_sql(symbol)
        if isinstance(self._connection, str):  # JDBC pushdown backend
            qmarks = sql.count("?")
            if qmarks:
                sql = _inline_params(sql, params)
            reader = (
                spark.read.format("jdbc")
                .option("url", self._connection)
                .option("dbtable", f"({sql}) AS csp_q")
            )
            if self._fetch_size:
                reader = reader.option("fetchsize", str(self._fetch_size))
            if (self._num_partitions or 1) > 1:
                pc, lo, hi = self._resolve_partitioning()
                reader = (
                    reader.option("partitionColumn", pc)
                    .option("lowerBound", _jdbc_bound(lo))
                    .option("upperBound", _jdbc_bound(hi))
                    .option("numPartitions", str(self._num_partitions))
                )
            return reader.load()
        # DB-API / SQLAlchemy backend: one driver-side cursor, exactly
        # the reference's own execution shape; Arrow batches it to JVM
        import pandas as pd

        # ISO-stringify temporal binds: sqlite3 refuses date/time
        # objects, and ISO text compares correctly against ISO-stored
        # TEXT columns (other DB-API drivers coerce ISO fine too)
        params = [
            p.isoformat(sep=" ") if isinstance(p, _dt.datetime)
            else p.isoformat() if isinstance(p, (_dt.date, _dt.time))
            else p
            for p in params
        ]
        pdf = pd.read_sql(sql, self._raw_connection(), params=params)
        pdf = self._time_accessor.coerce_pandas(pdf)
        if len(pdf) == 0:
            # empty result set (e.g. a replay window with no data): the
            # reference adapter emits no ticks; createDataFrame(pdf)
            # would raise CANNOT_INFER_EMPTY_SCHEMA on the all-object
            # empty frame, so build the schema from the pandas dtypes
            # (struct subscriptions re-cast via Struct.pack, scalar
            # subscriptions via the typ cast in _subscribe)
            from pyspark.sql.types import StructField, StructType

            schema = StructType([
                StructField(c, _pd_dtype_to_spark(pdf[c].dtype), True)
                for c in pdf.columns
            ])
            return spark.createDataFrame([], schema=schema)
        return spark.createDataFrame(pdf)

    def _subscribe(self, symbol, typ, field_map, push_mode):
        from pyspark.sql import functions as F

        from ..core.record import Struct
        from ..core.ticks import GLOBAL_KEY, KEY, SEQ, TS, VALUE, TickStream

        if typ is None:
            typ = self.schema_struct()
        if isinstance(field_map, dict):
            self._requested_cols.update(field_map.keys())
        elif isinstance(field_map, str):
            self._requested_cols.add(field_map)
        elif isinstance(typ, type) and issubclass(typ, Struct):
            self._requested_cols.update(typ.__metadata__.keys())
        df = self._load_df(symbol)
        ts_col = self._time_accessor.spark_ts(df)
        if isinstance(field_map, str):
            # single-column scalar subscription (reference: str
            # field_map maps one db column onto a scalar edge); cast to
            # the subscribed scalar type so the edge schema is stable
            # even when the db hands back text affinity or the replay
            # window is empty
            value = F.col(field_map)
            from ..core.record import PY_TO_SPARK_SCALAR

            if typ in PY_TO_SPARK_SCALAR:
                value = value.cast(PY_TO_SPARK_SCALAR[typ])
        elif isinstance(typ, type) and issubclass(typ, Struct):
            # membership is case-insensitive like Spark's own column
            # resolution (a real database — e.g. Derby, Oracle —
            # canonicalizes unquoted identifiers to UPPERCASE, so
            # 'price' comes back as 'PRICE')
            cols_l = {c.lower() for c in df.columns}
            fm = field_map or {
                f: f for f in typ.__metadata__ if f.lower() in cols_l
            }
            value = typ.pack(
                **{sf: F.col(dbcol) for dbcol, sf in fm.items()}
            )
        else:
            raise TypeError(f"cannot subscribe with typ={typ!r}")
        key = (
            F.col(self._symbol_column)
            if self._symbol_column
            and self._symbol_column.lower() in {c.lower() for c in df.columns}
            else F.lit(symbol if symbol is not None else GLOBAL_KEY)
        )
        if self._is_partitioned_read():
            # N concurrent range scans have no global ingestion order,
            # and monotonically_increasing_id would make same-ts tie
            # order depend on the partition layout. Derive SEQ from the
            # row DATA instead (layout-independent, deterministic): the
            # accessor's ORDER BY column(s) dominate via TS; within a
            # ts tie the hash fixes an arbitrary-but-stable order —
            # exactly the guarantee a single DB cursor gives, where tie
            # order is engine-dependent too.
            seq_col = F.xxhash64(*[F.col(c) for c in df.columns])
        else:
            seq_col = F.monotonically_increasing_id()
        out = df.select(
            key.cast("string").alias(KEY),
            ts_col.alias(TS),
            seq_col.alias(SEQ),
            value.alias(VALUE),
        )
        stream = TickStream(out)
        from ..core.surface import PushMode

        if push_mode is not None and push_mode == getattr(
            PushMode, "LAST_VALUE", object()
        ):
            from ..operators.baselib import last_value

            return last_value(stream)
        return stream


def _value_to_python(v) -> type:
    """Type of one sampled value; ISO-datetime-looking strings map to
    datetime (sqlite TEXT timestamps — the TimestampAccessor case)."""
    if isinstance(v, str):
        try:
            _dt.datetime.fromisoformat(v)
            return _dt.datetime
        except ValueError:
            return str
    if isinstance(v, bool):
        return bool
    if isinstance(v, int):
        return int
    if isinstance(v, float):
        return float
    if isinstance(v, (_dt.datetime, _dt.date)):
        return _dt.datetime
    return str


def __getattr__(name: str):
    """reference db.py:259-273 caches dynamically-defined schema
    structs in the MODULE namespace (`csp.adapters.db.DBDynStruct_
    {table}_{schema}` resolves after a schema_struct() call) — mirror
    that resolution from the cache."""
    if name.startswith("DBDynStruct_") and name in _SCHEMA_STRUCT_CACHE:
        return _SCHEMA_STRUCT_CACHE[name]
    raise AttributeError(
        f"module 'csp.adapters.db' has no attribute {name!r}"
    )


def _dtype_to_python(dtype) -> type:
    import pandas as pd

    if pd.api.types.is_integer_dtype(dtype):
        return int
    if pd.api.types.is_float_dtype(dtype):
        return float
    if pd.api.types.is_bool_dtype(dtype):
        return bool
    if pd.api.types.is_datetime64_any_dtype(dtype):
        return _dt.datetime
    return str


def _jdbc_bound(v) -> str:
    """lowerBound/upperBound option value: Spark parses timestamps
    from 'YYYY-MM-DD HH:MM:SS', everything else stringifies."""
    if isinstance(v, _dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, (_dt.date, _dt.time)):
        return v.isoformat()
    return str(v)


def _pd_dtype_to_spark(dtype):
    """Spark type for one pandas dtype — used only to give an EMPTY
    result frame an explicit schema (a populated frame infers via
    Arrow). Object columns map to string; downstream struct packs /
    scalar subscriptions re-cast to the declared types."""
    import pandas as pd
    from pyspark.sql import types as T

    if pd.api.types.is_bool_dtype(dtype):
        return T.BooleanType()
    if pd.api.types.is_integer_dtype(dtype):
        return T.LongType()
    if pd.api.types.is_float_dtype(dtype):
        return T.DoubleType()
    if pd.api.types.is_datetime64_any_dtype(dtype):
        return T.TimestampType()
    return T.StringType()


def _inline_params(sql: str, params: list) -> str:
    """Inline ?-params as SQL literals for the JDBC subquery path
    (spark.read.jdbc takes no bind params; values here come from the
    engine window / the user's own constraint, not row data)."""
    out, i = [], 0
    for ch in sql:
        if ch == "?":
            v = params[i]
            i += 1
            if isinstance(v, (int, float)):
                out.append(repr(v))
            elif isinstance(v, (_dt.datetime, _dt.date, _dt.time)):
                out.append(f"'{v.isoformat(sep=' ') if isinstance(v, _dt.datetime) else v.isoformat()}'")
            else:
                out.append("'" + str(v).replace("'", "''") + "'")
        else:
            out.append(ch)
    return "".join(out)


# ---------------------------------------------------------------------
# Runtime halves (reference db.py:312-440): the managed-sim classes a
# user program may SUBCLASS. The Spark backends above stay the default
# DBReader.subscribe; these drive the shared driver-side timeslice
# loop in csp_spark.impl.adaptermanager over a DB-API cursor — the
# reference's own execution shape (it pulls one sqlalchemy result set;
# this pulls one DB-API result set, no sqlalchemy dependency). Symbol
# routing happens at dispatch: functionally the reference's
# symbol-IN-constraint, applied driver-side on the authoring surface.

from ..impl.adaptermanager import (  # noqa: E402
    ManagedSimInputAdapter, PendingRowManagerImpl, py_managed_adapter_def,
)


class DBReaderImpl(PendingRowManagerImpl):
    """Runtime manager half (reference db.py:312-425). The timeslice
    loop, tz normalization, and symbol dispatch live on the shared
    PendingRowManagerImpl; this class owns the cursor: the reader's
    own composed SQL plus — when every subscription is an explicit
    symbol — the reference's ``symbol IN (...)`` pushdown."""

    _keep_none = False  # DB rows carry SQL NULLs; unset beats None

    def _row_iter(self, starttime, endtime):
        rep = self._rep
        if isinstance(rep._connection, str):
            raise RuntimeError(
                "DBReaderImpl runs a driver-side DB-API cursor; a "
                "jdbc: URL reader has no cursor — use "
                "DBReader.subscribe (the Spark pushdown backend)"
            )
        from ..plans.runtime import _run_info_stack

        # symbol pushdown: every registered subscription is known
        # before the cursor opens; "" (subscribe_all) disables it
        symbols = (
            sorted(self._inputs) if self._inputs and
            "" not in self._inputs and rep._symbol_column else None
        )
        # borrow the reader's own SQL composition under a synthetic
        # window frame so the WHERE/ORDER BY match the batch backend
        _run_info_stack.append(
            {"start": starttime, "end": endtime, "realtime": False}
        )
        try:
            sql, params = rep._compose_sql(None, symbols=symbols)
        finally:
            _run_info_stack.pop()
        if rep._log_query:
            logger.info("DBReaderImpl query: %s", sql)
        params = [
            p.isoformat(sep=" ") if isinstance(p, _dt.datetime)
            else p.isoformat() if isinstance(p, (_dt.date, _dt.time))
            else p
            for p in params
        ]
        conn = rep._raw_connection()
        if not hasattr(conn, "cursor") and hasattr(conn, "raw_connection"):
            conn = conn.raw_connection()  # SQLAlchemy engine -> DBAPI
        cur = conn.cursor()
        cur.execute(sql, params)
        cols = [d[0] for d in cur.description]
        acc = rep._time_accessor
        # hoisted per-row work: the accessor's time column names
        tc = acc.get_time_columns(None) or []
        tcols = [c[0] if isinstance(c, tuple) else c for c in tc]
        for raw in cur:
            row = dict(zip(cols, raw))
            for name in tcols:
                v = row.get(name)
                if isinstance(v, str):
                    row[name] = _parse_temporal(v)
            t = acc.get_time(row)
            if t.tzinfo is not None:
                t = t.astimezone(UTC).replace(tzinfo=None)
            yield t, row


def _parse_temporal(v: str):
    """sqlite hands back ISO text for datetime/date/time columns;
    parse whichever form this value is (unparseable text passes
    through for the accessor to reject)."""
    for parse in (_dt.datetime.fromisoformat, _dt.date.fromisoformat,
                  _dt.time.fromisoformat):
        try:
            return parse(v)
        except ValueError:
            continue
    return v


class DBReadAdapterImpl(ManagedSimInputAdapter):
    """Runtime per-subscription half (reference db.py:432-436)."""

    def __init__(self, managerImpl, symbol, typ, field_map):
        managerImpl.register_input_adapter(symbol, self)
        super().__init__(typ, field_map)


def DBReadAdapter(mgr, symbol, typ, fieldMap=None, push_mode=None):
    """Graph-time subscription via the runtime halves (reference
    db.py:438-440; per-call def so the edge schema follows ``typ``)."""
    from ..core.record import Struct
    from ..core.surface import ts as _ts

    # the reference's subscribe() feeds the query's select list from
    # the subscription's fields — same bookkeeping for the direct form
    if isinstance(fieldMap, dict):
        mgr._requested_cols.update(fieldMap.keys())
    elif isinstance(fieldMap, str):
        mgr._requested_cols.add(fieldMap)
    elif isinstance(typ, type) and issubclass(typ, Struct):
        mgr._requested_cols.update(typ.__metadata__.keys())
    f = py_managed_adapter_def(
        "dbadapter", DBReadAdapterImpl, _ts[typ], type(mgr),
        symbol=object, typ=object, fieldMap=(object, None),
    )
    return f(mgr, symbol, typ, fieldMap, push_mode=push_mode)


__all__ += ["DBReaderImpl", "DBReadAdapterImpl", "DBReadAdapter"]
