"""Realtime sources (SURVEY.md §2.1 realtime rows; Execution-Modes.md).

The reference runs the same graph in simulation (historical replay) or
realtime (adapter threads pushing events) — Execution-Modes.md:1-39.
Our engine mirrors that: the batch tick table and these streaming
sources share the tick schema (key, ts, seq, value), so the same
operator pipeline compiles against either.

- ``rate_ticks``  — csp.timer in realtime (TimerInputAdapter.h): Spark
  rate source at 1/interval rows/sec.
- ``file_ticks``  — replay/tail a directory of parquet/csv drops; the
  test harness uses this (deterministic, no broker needed).
- ``kafka_ticks`` — KafkaAdapterManager.subscribe
  (csp/adapters/kafka.py:39-191): readStream kafka + JSON decode.
  Requires a broker + the kafka connector jar; structural parity.
- ``socket_ticks`` — WebsocketAdapterManager.subscribe parity
  (csp/adapters/websocket.py:390-470): Spark's socket source + the
  same JSON MsgMapper field-map decode as kafka_ticks. The ws://
  framing/handshake layer belongs to a gateway process; the
  engine-side contract (line-delimited JSON → typed ticks) is what
  the graph sees in both systems.
- ``PushAdapter`` — GenericPushAdapter parity
  (csp/impl/genericpushadapter.py:19-60): an in-process harness whose
  ``push_tick``/``flush`` feed the engine through an atomic landing
  directory (each flush = one microbatch), with the reference's
  started/stopped lifecycle surface.
"""

from __future__ import annotations

import datetime as _dt
import os
import tempfile
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.ticks import GLOBAL_KEY, KEY, SEQ, TS, VALUE


def rate_ticks(
    spark: SparkSession,
    interval: _dt.timedelta,
    key: str = GLOBAL_KEY,
) -> DataFrame:
    """Periodic ticks at wall-clock rate (csp.timer realtime semantics,
    allow_deviation implied — the rate source emits on its own clock).
    Value is the tick index (csp.timer emits a constant; map over this
    stream for that)."""
    rows_per_sec = max(1.0 / interval.total_seconds(), 1e-6)
    raw = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_sec)
        .load()
    )
    return raw.select(
        F.lit(key).alias(KEY),
        F.col("timestamp").alias(TS),
        F.lit(0).cast("long").alias(SEQ),
        F.col("value").alias(VALUE),
    )


def file_ticks(
    spark: SparkSession,
    path: str,
    schema: str,
    ts_col: str,
    value_col: str,
    key_col: str | None = None,
    seq_col: str | None = None,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream a landing directory into the tick schema. With
    ``max_files_per_trigger=1`` each dropped file becomes one
    microbatch — the deterministic stand-in for an adapter pushing
    batches of events (GenericPushAdapter,
    csp/impl/genericpushadapter.py:19-60)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.load(path)
    return raw.select(
        (F.col(key_col) if key_col else F.lit(GLOBAL_KEY)).cast("string").alias(KEY),
        F.col(ts_col).cast("timestamp").alias(TS),
        (F.col(seq_col).cast("long") if seq_col else F.lit(0).cast("long")).alias(SEQ),
        F.col(value_col).alias(VALUE),
    )


def _publish(directory: str, name: str, write) -> str:
    """Atomic drop: ``write(tmp)`` fills a dot-named temp path (file
    sources skip hidden names), then ONE rename publishes it as
    ``directory/name`` — a file stream never lists a half-written
    drop. Returns the published path."""
    tmp = os.path.join(directory, f".tmp-{uuid.uuid4().hex}")
    write(tmp)
    final = os.path.join(directory, name)
    os.rename(tmp, final)
    return final


def _write_once_source(
    spark: SparkSession, df: DataFrame, directory: str | None = None
) -> DataFrame:
    """``df`` written ONCE as one parquet drop (atomically, before any
    stream starts) and read back as a streaming source with ``df``'s
    schema — always part of the first microbatch. The state seeds of
    the hybrid splices and the alarm handover ride on it; the
    directory lives as long as the streaming query reading it."""
    d = directory or tempfile.mkdtemp(prefix="csp_seed_")
    os.makedirs(d, exist_ok=True)
    path = _publish(d, "seed.parquet", df.coalesce(1).write.parquet)
    return spark.readStream.format("parquet").schema(df.schema).load(path)


def kafka_ticks(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    value_schema: str,
    ts_field: str,
    value_field: str,
    key_from: str = "kafka_key",
    starting_offsets: str = "latest",
) -> DataFrame:
    """KafkaAdapterManager.subscribe parity (csp/adapters/kafka.py:39-191):
    JSON MsgMapper decode, start_offset replay via starting_offsets.
    ``seq`` is the Kafka partition offset — per-partition ordering is
    exactly the reference's per-adapter ordering guarantee
    (SURVEY.md §2.8 'realtime push semantics')."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    parsed = raw.select(
        F.col("key").cast("string").alias("kafka_key"),
        F.from_json(F.col("value").cast("string"), value_schema).alias("v"),
        F.col("timestamp").alias("kafka_ts"),
        F.col("offset"),
    )
    ts_expr = (
        F.col(f"v.{ts_field}").cast("timestamp")
        if ts_field
        else F.col("kafka_ts")
    )
    return parsed.select(
        F.col(key_from).cast("string").alias(KEY),
        ts_expr.alias(TS),
        F.col("offset").alias(SEQ),
        F.col(f"v.{value_field}").alias(VALUE),
    )


def socket_ticks(
    spark: SparkSession,
    host: str,
    port: int,
    value_schema: str,
    ts_field: str | None,
    value_field: str,
    key_field: str | None = None,
) -> DataFrame:
    """Websocket-subscribe parity (csp/adapters/websocket.py:390-470)
    over Spark's line-based socket source: each line is one JSON
    message, decoded with the same MsgMapper-style field map as
    kafka_ticks. ``ts_field=None`` stamps arrival time (the
    reference's behavior when the payload carries no timestamp).

    The reference's reconnect loop / TLS / HTTP-upgrade handshake live
    in the C++ adapter; on Spark that belongs to a tiny ws→tcp gateway
    (or a kafka bridge) in front of this source — the engine-side
    semantics (typed ticks in arrival order) are identical. seq is 0:
    the socket source exposes no offset; per-connection arrival order
    is preserved by the single reader, matching the reference's
    per-adapter ordering guarantee."""
    raw = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", str(port))
        .load()
    )
    parsed = raw.select(F.from_json(F.col("value"), value_schema).alias("v"))
    ts_expr = (
        F.col(f"v.{ts_field}").cast("timestamp")
        if ts_field
        else F.current_timestamp()
    )
    key_expr = (
        F.col(f"v.{key_field}").cast("string") if key_field else F.lit(GLOBAL_KEY)
    )
    return parsed.select(
        key_expr.alias(KEY),
        ts_expr.alias(TS),
        F.lit(0).cast("long").alias(SEQ),
        F.col(f"v.{value_field}").alias(VALUE),
    )


class PushAdapter:
    """GenericPushAdapter parity (csp/impl/genericpushadapter.py:19-60):
    non-engine threads push ticks into a running graph.

    The reference hands values to the engine through a condvar-guarded
    queue; the Spark-native equivalent is an atomic landing directory
    read by a file stream — ``push_tick`` buffers, ``flush`` publishes
    the buffer as ONE parquet file = ONE microbatch (write-then-rename,
    so the stream never sees a partial file). Deterministic, no broker,
    and the same at-least-once lifecycle surface (wait_for_start /
    started / stopped / push returning False after stop).

    Usage::

        pa = PushAdapter(spark, "double")
        stream = pa.out()                    # tick-schema DataFrame
        q = ...writeStream...start()         # downstream graph
        pa.push_tick(1.0); pa.push_tick(2.0)
        pa.flush()                           # -> one microbatch
        ...
        pa.stop()
    """

    def __init__(
        self,
        spark: SparkSession,
        value_type: str = "double",
        key: str = GLOBAL_KEY,
        directory: str | None = None,
    ):
        self._spark = spark
        self._value_type = value_type
        self._key = key
        self._dir = directory or tempfile.mkdtemp(prefix="csp_push_")
        os.makedirs(self._dir, exist_ok=True)
        self._lock = threading.Lock()
        self._buf: list[tuple] = []
        self._seq = 0
        self._started = False
        self._stopped = False

    # -------------------------------------------------- reference API
    def out(self) -> DataFrame:
        """The tick-schema streaming DataFrame fed by this adapter."""
        self._started = True
        schema = f"{KEY} string, {TS} timestamp, {SEQ} long, {VALUE} {self._value_type}"
        return file_ticks(
            self._spark,
            self._dir,
            schema,
            ts_col=TS,
            value_col=VALUE,
            key_col=KEY,
            seq_col=SEQ,
            max_files_per_trigger=1,
        )

    def wait_for_start(self, timeout: float | None = None) -> bool:
        return self._started

    def started(self) -> bool:
        return self._started

    def stopped(self) -> bool:
        return self._stopped

    def push_tick(
        self,
        value,
        ts: _dt.datetime | None = None,
        key: str | None = None,
    ) -> bool:
        """Buffer one tick; returns False once stopped (reference
        contract: push after unbind is dropped)."""
        if self._stopped:
            return False
        with self._lock:
            self._buf.append(
                (
                    key if key is not None else self._key,
                    ts or _dt.datetime.utcnow(),
                    self._seq,
                    value,
                )
            )
            self._seq += 1
        return True

    def flush(self) -> int:
        """Publish buffered ticks as one atomic parquet drop (one
        microbatch). Returns the number of rows published."""
        with self._lock:
            rows, self._buf = self._buf, []
        if not rows:
            return 0
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pa.table(
            {
                KEY: pa.array([r[0] for r in rows], pa.string()),
                TS: pa.array([r[1] for r in rows], pa.timestamp("us")),
                SEQ: pa.array([r[2] for r in rows], pa.int64()),
                VALUE: pa.array([r[3] for r in rows]),
            }
        )
        _publish(self._dir, f"push-{uuid.uuid4().hex}.parquet",
                 lambda p: pq.write_table(table, p))
        return len(rows)

    def stop(self):
        self._stopped = True


class PushPullAdapter(PushAdapter):
    """PushPullInputAdapter parity (csp/impl/pushpulladapter.py; used by
    every adapter that replays history then goes live, e.g. Kafka
    start_offset replay — csp/adapters/kafka.py:39-191): ONE channel
    that first delivers the historical rows in engine order, then the
    live pushes, so downstream stateful kernels fold replay before any
    live tick — state crosses the handover for free.

    Spark-native realization: the history tick table is written into
    the landing directory as the FIRST drop(s) before the stream
    starts; ``push_tick``/``flush`` then append live microbatches.
    ``flag_replay_complete`` is implicit (the history file is one
    atomic drop and file order is preserved), but the method is kept
    for reference API parity. For LARGE histories prefer
    ``streaming.hybrid.run_hybrid_*`` — it processes history in the
    batch engine and seeds only terminal state, instead of replaying
    every row through the stream."""

    def __init__(
        self,
        spark: SparkSession,
        history,  # DataFrame in tick schema (key, ts, seq, value)
        value_type: str = "double",
        key: str = GLOBAL_KEY,
        directory: str | None = None,
    ):
        super().__init__(spark, value_type=value_type, key=key,
                         directory=directory)
        self._replay_done = False
        if history is not None:
            # ONE atomic parquet FILE (the landing source reads flat
            # files, same as flush()); history is bounded by contract —
            # large backlogs belong to streaming.hybrid, which replays
            # them in the batch engine instead of through the stream
            import pyarrow.parquet as pq

            tbl = history.select(KEY, TS, SEQ, VALUE).toArrow()
            _publish(self._dir, "00-replay.parquet",
                     lambda p: pq.write_table(tbl, p))
            if tbl.num_rows:
                import pyarrow.compute as pc

                # live seqs must sort AFTER every replay seq at a tied
                # timestamp — continue from max(history seq)+1, not the
                # row count
                hi = pc.max(tbl.column(SEQ)).as_py()
                with self._lock:
                    self._seq = max(self._seq, int(hi) + 1)

    def flag_replay_complete(self) -> None:
        """Reference lifecycle hook: replay is complete once the
        history drop is on disk (done in __init__) — kept for API
        parity with PushPullInputAdapter.flag_replay_complete."""
        self._replay_done = True

    def replay_complete(self) -> bool:
        return True


class PushGroup:
    """PushGroup barrier parity (cpp/csp/engine/PushInputAdapter.h:1-191,
    PendingPushEvents.cpp): in the reference, adapters created in one
    PushGroup deliver events pushed together in the SAME engine cycle,
    so multi-stream updates are observed consistently.

    Spark-native realization: every member adapter buffers into ONE
    shared landing directory, and ``flush()`` publishes ALL members'
    pending ticks as ONE atomic parquet file = ONE microbatch — the
    microbatch is the engine cycle, so downstream consumers can never
    observe one member's update without its group-mates'. Each member
    keeps its own typed value column (NULL on other members' rows),
    and ``out(name)`` filters the combined stream back to a per-member
    tick stream.

    Usage::

        pg = PushGroup(spark, {"bid": "double", "ask": "double"})
        bid, ask = pg.out("bid"), pg.out("ask")
        pg.push_tick("bid", 99.0); pg.push_tick("ask", 100.0)
        pg.flush()                     # both land in one microbatch
    """

    def __init__(
        self,
        spark: SparkSession,
        members: dict[str, str],
        key: str = GLOBAL_KEY,
        directory: str | None = None,
    ):
        if not members:
            raise ValueError("PushGroup needs at least one member")
        self._spark = spark
        self._members = dict(members)
        self._key = key
        self._dir = directory or tempfile.mkdtemp(prefix="csp_pushgroup_")
        os.makedirs(self._dir, exist_ok=True)
        self._lock = threading.Lock()
        self._buf: list[tuple] = []
        self._seq = 0
        self._stopped = False

    def push_tick(
        self,
        member: str,
        value,
        ts: _dt.datetime | None = None,
        key: str | None = None,
    ) -> bool:
        if member not in self._members:
            raise KeyError(f"unknown PushGroup member {member!r}")
        if self._stopped:
            return False
        with self._lock:
            self._buf.append(
                (
                    key if key is not None else self._key,
                    ts or _dt.datetime.utcnow(),
                    self._seq,
                    member,
                    value,
                )
            )
            self._seq += 1
        return True

    def flush(self) -> int:
        """Publish every member's pending ticks as ONE file — the
        group barrier. Returns rows published."""
        with self._lock:
            rows, self._buf = self._buf, []
        if not rows:
            return 0
        import pyarrow as pa
        import pyarrow.parquet as pq

        cols = {
            KEY: pa.array([r[0] for r in rows], pa.string()),
            TS: pa.array([r[1] for r in rows], pa.timestamp("us")),
            SEQ: pa.array([r[2] for r in rows], pa.int64()),
            "src": pa.array([r[3] for r in rows], pa.string()),
        }
        for m in self._members:
            cols[m] = pa.array(
                [r[4] if r[3] == m else None for r in rows]
            )
        table = pa.table(cols)
        _publish(self._dir, f"group-{uuid.uuid4().hex}.parquet",
                 lambda p: pq.write_table(table, p))
        return len(rows)

    def combined(self) -> DataFrame:
        """The raw combined stream (key, ts, seq, src, <member>...) —
        one row per pushed tick, group-mates co-batched."""
        fields = ", ".join(f"{m} {t}" for m, t in self._members.items())
        schema = f"{KEY} string, {TS} timestamp, {SEQ} long, src string, {fields}"
        reader = (
            self._spark.readStream.format("parquet")
            .schema(schema)
            .option("maxFilesPerTrigger", "1")
        )
        return reader.load(self._dir)

    def out(self, member: str) -> DataFrame:
        """Member's tick stream in the standard tick schema."""
        if member not in self._members:
            raise KeyError(f"unknown PushGroup member {member!r}")
        return (
            self.combined()
            .filter(F.col("src") == member)
            .select(
                F.col(KEY),
                F.col(TS),
                F.col(SEQ),
                F.col(member).alias(VALUE),
            )
        )

    def stop(self):
        self._stopped = True
