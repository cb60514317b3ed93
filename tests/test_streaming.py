"""Streaming-mode tests: same tick schema, Structured Streaming
execution, verified against the batch operators on identical data
(the reference runs the same graph in both modes —
docs/wiki/concepts/Execution-Modes.md)."""

import datetime as dt
import math
import shutil

import pytest
from pyspark.sql import functions as F

from csp_spark import KEY, SEQ, TS, VALUE, TickStream
from csp_spark.stats import ema
from csp_spark.streaming import (
    burst_stream,
    collect_stream,
    conflate_last_value,
    ema_stream,
    file_ticks,
)

START = dt.datetime(2020, 1, 1)
SCHEMA = "key string, ts timestamp, seq long, value double"


def _mk_ticks(n=40, keys=("a", "b")):
    rows = []
    for k in keys:
        for i in range(n):
            rows.append((k, START + dt.timedelta(seconds=3 * i + (0 if k == "a" else 1)), 0, float(i) + (0.5 if k == "b" else 0.0)))
    return rows


@pytest.fixture()
def landing(spark, tmp_path):
    """Three chronological parquet drops — three microbatches."""
    rows = _mk_ticks()
    rows.sort(key=lambda r: (r[1], r[0]))
    d = tmp_path / "landing"
    d.mkdir()
    third = len(rows) // 3
    chunks = [rows[:third], rows[third : 2 * third], rows[2 * third :]]
    for i, chunk in enumerate(chunks):
        spark.createDataFrame(chunk, SCHEMA).coalesce(1).write.parquet(
            str(d / f"chunk{i}.parquet")
        )
    yield str(d) + "/*/", rows
    shutil.rmtree(d, ignore_errors=True)


def test_file_source_roundtrip(spark, landing):
    path, rows = landing
    stream = file_ticks(
        spark, path, SCHEMA, ts_col="ts", value_col="value", key_col="key"
    )
    got = collect_stream(stream)
    assert got.count() == len(rows)
    s = {(r[0], r[1], r[2]) for r in got.select(KEY, TS, VALUE).collect()}
    e = {(k, ts, v) for (k, ts, _seq, v) in rows}
    assert s == e


def test_conflate_last_value(spark, landing):
    path, rows = landing
    stream = file_ticks(
        spark, path, SCHEMA, ts_col="ts", value_col="value", key_col="key"
    )
    bucket = dt.timedelta(seconds=30)
    got = collect_stream(conflate_last_value(stream, bucket), output_mode="complete").collect()
    # batch oracle: newest value per (key, 30s bucket)
    expect = {}
    for k, ts, seq, v in rows:
        b = int(ts.timestamp() // 30)
        cur = expect.get((k, b))
        if cur is None or (ts, seq) >= cur[:2]:
            expect[(k, b)] = (ts, seq, v)
    assert len(got) == len(expect)
    for r in got:
        b = int(r[TS].timestamp() // 30) - 1  # ts is window END
        assert math.isclose(r[VALUE], expect[(r[KEY], b)][2])


def test_burst_stream(spark, landing):
    path, rows = landing
    stream = file_ticks(
        spark, path, SCHEMA, ts_col="ts", value_col="value", key_col="key"
    )
    got = collect_stream(burst_stream(stream, dt.timedelta(seconds=30)), output_mode="complete").collect()
    expect: dict[tuple, list] = {}
    for k, ts, seq, v in sorted(rows, key=lambda r: (r[1], r[2])):
        expect.setdefault((k, int(ts.timestamp() // 30)), []).append(v)
    for r in got:
        b = int(r[TS].timestamp() // 30) - 1
        assert list(r[VALUE]) == expect[(r[KEY], b)]


@pytest.mark.slow
def test_ema_stream_matches_batch(spark, landing):
    """Stateful streaming EMA == batch EMA on the same ticks, state
    carried across 3 microbatches."""
    path, rows = landing
    stream = file_ticks(
        spark, path, SCHEMA, ts_col="ts", value_col="value", key_col="key",
        max_files_per_trigger=1,
    )
    got = (
        collect_stream(ema_stream(stream, alpha=0.2))
        .orderBy(KEY, TS, SEQ)
        .collect()
    )
    batch = TickStream(spark.createDataFrame(rows, SCHEMA))
    expect = ema(batch, alpha=0.2, adjust=False).ordered().collect()
    assert len(got) == len(expect)
    for g, e in zip(got, expect):
        assert (g[KEY], g[TS]) == (e[KEY], e[TS])
        assert math.isclose(g[VALUE], e[VALUE], rel_tol=1e-12)


def test_rolling_time_stats_stream_matches_batch(spark, landing):
    """Sliding-window stats over the stream == batch groupBy(window)
    on the same ticks."""
    path, rows = landing
    from csp_spark.streaming import rolling_time_stats_stream

    stream = file_ticks(
        spark, path, SCHEMA, ts_col="ts", value_col="value", key_col="key"
    )
    win, slide = dt.timedelta(seconds=30), dt.timedelta(seconds=15)
    got = collect_stream(
        rolling_time_stats_stream(stream, win, slide), output_mode="complete"
    ).collect()
    batch = (
        spark.createDataFrame(rows, SCHEMA)
        .groupBy(F.window(TS, "30 seconds", "15 seconds").alias("__w"), KEY)
        .agg(
            F.count(VALUE).alias("roll_count"),
            F.sum(VALUE).alias("roll_sum"),
            F.avg(VALUE).alias("roll_mean"),
        )
        .select(KEY, F.col("__w.end").alias(TS), "roll_count", "roll_sum", "roll_mean")
        .collect()
    )
    exp = {(r[KEY], r[TS]): r for r in batch}
    assert len(got) == len(exp)
    for r in got:
        e = exp[(r[KEY], r[TS])]
        assert r["roll_count"] == e["roll_count"]
        assert math.isclose(r["roll_sum"], e["roll_sum"])
        assert math.isclose(r["roll_mean"], e["roll_mean"])


@pytest.mark.slow
def test_watermark_drops_late_data(spark, tmp_path):
    """A row older than the watermark arriving in a later microbatch is
    dropped from append-mode windowed aggregation — the documented
    semantic delta vs the reference (csp assumes in-order adapters and
    has no watermarks; SURVEY.md §2.8)."""
    from csp_spark.streaming import rolling_time_stats_stream

    d = tmp_path / "late"
    d.mkdir()
    on_time = [("a", START + dt.timedelta(seconds=s), 0, 1.0) for s in (1, 5, 70)]
    mid = [("a", START + dt.timedelta(seconds=75), 0, 1.0)]
    late = [("a", START + dt.timedelta(seconds=2), 1, 100.0)]  # window [0,10) long closed
    # the watermark advances one batch behind the data (Spark updates it
    # at batch commit), so the late row arrives two batches after the
    # on-time rows that moved the clock past its window
    spark.createDataFrame(on_time, SCHEMA).coalesce(1).write.parquet(str(d / "c0.parquet"))
    spark.createDataFrame(mid, SCHEMA).coalesce(1).write.parquet(str(d / "c1.parquet"))
    spark.createDataFrame(late, SCHEMA).coalesce(1).write.parquet(str(d / "c2.parquet"))
    stream = file_ticks(
        spark, str(d) + "/*/", SCHEMA, ts_col="ts", value_col="value",
        key_col="key", max_files_per_trigger=1,
    )
    out = rolling_time_stats_stream(
        stream,
        dt.timedelta(seconds=10), dt.timedelta(seconds=10),
        watermark=dt.timedelta(seconds=10),
    )
    got = {r[TS]: r for r in collect_stream(out, output_mode="append").collect()}
    w0_end = START + dt.timedelta(seconds=10)
    assert w0_end in got
    # the late 100.0 never entered the closed [0,10) window
    assert got[w0_end]["roll_count"] == 2 and got[w0_end]["roll_sum"] == 2.0


def test_push_adapter_microbatches(spark, tmp_path):
    """GenericPushAdapter parity: push_tick from the test thread, each
    flush = one microbatch, lifecycle flags per the reference."""
    from csp_spark.streaming import PushAdapter

    pa_ = PushAdapter(spark, "double", directory=str(tmp_path / "push"))
    assert not pa_.started()
    stream = pa_.out()
    assert pa_.started() and pa_.wait_for_start()
    for i in range(3):
        assert pa_.push_tick(float(i), ts=START + dt.timedelta(seconds=i))
    assert pa_.flush() == 3
    pa_.push_tick(9.0, ts=START + dt.timedelta(seconds=9), key="b")
    assert pa_.flush() == 1
    got = collect_stream(stream).orderBy(SEQ).collect()
    assert [(r[KEY], r[VALUE]) for r in got] == [
        ("", 0.0), ("", 1.0), ("", 2.0), ("b", 9.0),
    ]
    assert [r[SEQ] for r in got] == [0, 1, 2, 3]
    pa_.stop()
    assert pa_.stopped() and pa_.push_tick(1.0) is False


def test_socket_source_json_lines(spark):
    """Websocket-adapter parity: a local TCP server pushes JSON lines;
    the socket source decodes them into typed ticks while the query
    runs live (conflate-style downstream ops attach unchanged)."""
    import json
    import socket
    import threading
    import time
    import uuid

    from csp_spark.streaming import socket_ticks, start_memory_sink

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    lines = [
        json.dumps({"ts": f"2020-01-01 00:00:0{i}", "sym": "a", "px": float(i)})
        for i in range(5)
    ]
    stop = threading.Event()

    def serve():
        conn, _ = srv.accept()
        conn.sendall(("\n".join(lines) + "\n").encode())
        stop.wait(30)
        conn.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    stream = socket_ticks(
        spark, "127.0.0.1", port,
        "ts string, sym string, px double",
        ts_field="ts", value_field="px", key_field="sym",
    )
    name = f"sock_{uuid.uuid4().hex[:8]}"
    q = start_memory_sink(stream, name, processingTime="500 milliseconds")
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table(name).count() >= 5:
                break
            time.sleep(0.5)
        rows = spark.table(name).orderBy(TS).collect()
        assert len(rows) == 5
        assert [r[VALUE] for r in rows] == [0.0, 1.0, 2.0, 3.0, 4.0]
        assert rows[0][KEY] == "a"
        assert rows[0][TS] == dt.datetime(2020, 1, 1, 0, 0, 0)
    finally:
        stop.set()
        q.stop()
        srv.close()


def test_push_group_barrier(spark, tmp_path):
    """PushGroup parity: ticks pushed to different members before one
    flush land in the SAME microbatch (the engine-cycle barrier)."""
    from csp_spark.streaming import PushGroup

    pg = PushGroup(
        spark, {"bid": "double", "ask": "double"},
        directory=str(tmp_path / "grp"),
    )
    t0 = START
    pg.push_tick("bid", 99.0, ts=t0)
    pg.push_tick("ask", 100.0, ts=t0)
    assert pg.flush() == 2
    pg.push_tick("bid", 99.5, ts=t0 + dt.timedelta(seconds=1))
    assert pg.flush() == 1

    # per-member views carry the right rows
    bid = collect_stream(pg.out("bid")).orderBy(SEQ).collect()
    ask = collect_stream(pg.out("ask")).collect()
    assert [r[VALUE] for r in bid] == [99.0, 99.5]
    assert [r[VALUE] for r in ask] == [100.0]

    # barrier: group-mates share a microbatch id, the later push doesn't
    import uuid as _uuid
    batches = {}

    def sink(df, bid_):
        for r in df.collect():
            batches[r[SEQ]] = bid_

    q = (
        pg.combined().writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / f"ck{_uuid.uuid4().hex[:6]}"))
        .start()
    )
    q.awaitTermination()
    assert batches[0] == batches[1]      # bid+ask co-batched
    assert batches[2] != batches[0]      # separate flush = later cycle
    pg.stop()
    assert pg.push_tick("bid", 1.0) is False


@pytest.mark.slow
def test_dedup_stream(spark, tmp_path):
    """Streaming exact dedup drops repeated fingerprints across
    microbatches while watermark-bounded state holds; matches the
    batch dedup on the same data."""
    from csp_spark.streaming import dedup_stream, file_ticks

    d = tmp_path / "dedup_landing"
    d.mkdir()
    rows1 = [("a", START + dt.timedelta(seconds=i), 0, float(i % 3)) for i in range(6)]
    rows2 = [("a", START + dt.timedelta(seconds=6 + i), 0, float(i % 3)) for i in range(6)]
    spark.createDataFrame(rows1, SCHEMA).coalesce(1).write.mode("append").parquet(str(d))
    src = file_ticks(spark, str(d), SCHEMA, ts_col="ts", value_col="value", key_col="key")
    out = dedup_stream(src, ["key", "value"], watermark=dt.timedelta(minutes=10))
    q = (
        out.writeStream.format("memory").queryName("dedup_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt")).start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(rows2, SCHEMA).coalesce(1).write.mode("append").parquet(str(d))
        q.processAllAvailable()
        got = spark.sql("select * from dedup_sink").collect()
    finally:
        q.stop()
    # values cycle 0,1,2 — only the first occurrence of each survives,
    # including across the microbatch boundary
    assert sorted(r["value"] for r in got) == [0.0, 1.0, 2.0]
    assert sorted(r["ts"] for r in got) == [START + dt.timedelta(seconds=i) for i in range(3)]


@pytest.mark.slow
def test_align_stream_matches_batch(spark, tmp_path):
    """Streaming align over microbatch drops equals batch core.align
    on the same ticks — same wide frame, same valid/ticked semantics,
    including a same-cycle (ts, seq) collision collapsing to one row."""
    from csp_spark import TickStream, align
    from csp_spark.streaming import align_stream, file_ticks

    bid_rows = [("s", START + dt.timedelta(seconds=2 * i), 0, 99.0 + i)
                for i in range(6)]
    ask_rows = [("s", START + dt.timedelta(seconds=2 * i + (0 if i == 2 else 1)),
                 0, 100.0 + i) for i in range(6)]
    d1, d2 = tmp_path / "bid", tmp_path / "ask"
    for d, rows in ((d1, bid_rows), (d2, ask_rows)):
        d.mkdir()
        half = len(rows) // 2
        for part in (rows[:half], rows[half:]):
            spark.createDataFrame(part, SCHEMA).coalesce(1).write.mode(
                "append").parquet(str(d))
    bid_s = file_ticks(spark, str(d1), SCHEMA, ts_col="ts",
                       value_col="value", key_col="key")
    ask_s = file_ticks(spark, str(d2), SCHEMA, ts_col="ts",
                       value_col="value", key_col="key")
    got = collect_stream(align_stream({"bid": bid_s, "ask": ask_s}))
    grows = sorted(
        (r["ts"], r["seq"], r["bid"], r["ask"], r["bid__ticked"],
         r["ask__ticked"]) for r in got.collect()
    )
    bid_b = TickStream(spark.createDataFrame(bid_rows, SCHEMA))
    ask_b = TickStream(spark.createDataFrame(ask_rows, SCHEMA))
    ref = sorted(
        (r["ts"], r["seq"], r["bid"], r["ask"], r["bid__ticked"],
         r["ask__ticked"])
        for r in align({"bid": bid_b, "ask": ask_b}).collect()
    )
    assert grows == ref


# ---------------------------------------------------------------- round 4


def _write_drops(spark, d, rows, n_drops=2):
    d.mkdir(parents=True, exist_ok=True)
    rows = sorted(rows, key=lambda r: (r[1], r[2]))
    step = max(1, len(rows) // n_drops)
    for i in range(0, len(rows), step):
        spark.createDataFrame(rows[i:i + step], SCHEMA).coalesce(1).write.mode(
            "append").parquet(str(d))


@pytest.mark.slow
def test_hybrid_align_equals_pure_batch(spark, tmp_path):
    """csp's replay->live splice (RootEngine.cpp:150-237): batch align
    over history, terminal last values seeded into the streaming align,
    live rows processed by the stream — the live-portion output must
    EQUAL a pure-batch align over history ∪ live. Includes a key ('c')
    whose bid never ticks live (its live frame must still carry the
    replayed last value) and a source ('ask') with a key missing from
    history ('d' — must stay not-yet-valid until its first live tick)."""
    from csp_spark import TickStream, align
    from csp_spark.streaming import file_ticks, run_hybrid_align

    boundary = START + dt.timedelta(seconds=100)
    bid_hist, ask_hist, bid_live, ask_live = [], [], [], []
    for i, k in enumerate(("x", "y", "c")):
        for j in range(4):
            bid_hist.append((k, START + dt.timedelta(seconds=7 * j + i), 0, 10.0 * i + j))
            ask_hist.append((k, START + dt.timedelta(seconds=7 * j + i + 2), 0, 10.0 * i + j + 0.5))
    for i, k in enumerate(("x", "y", "d")):
        for j in range(4):
            bid_live.append((k, boundary + dt.timedelta(seconds=5 * j + i + 1), 0, 100.0 * i + j))
            if k != "c":
                ask_live.append((k, boundary + dt.timedelta(seconds=5 * j + i + 3), 0, 100.0 * i + j + 0.5))
    d1, d2 = tmp_path / "bid_live", tmp_path / "ask_live"
    _write_drops(spark, d1, bid_live)
    _write_drops(spark, d2, ask_live)

    histories = {
        "bid": spark.createDataFrame(bid_hist, SCHEMA),
        "ask": spark.createDataFrame(ask_hist, SCHEMA),
    }
    lives = {
        "bid": file_ticks(spark, str(d1), SCHEMA, ts_col="ts",
                          value_col="value", key_col="key"),
        "ask": file_ticks(spark, str(d2), SCHEMA, ts_col="ts",
                          value_col="value", key_col="key"),
    }
    replay, live_out = run_hybrid_align(histories, lives, boundary)
    got = sorted(
        (r["key"], r["ts"], r["seq"], r["bid"], r["ask"],
         r["bid__ticked"], r["ask__ticked"])
        for r in collect_stream(live_out).collect()
    )
    # oracle: ONE batch align over the union, live portion only
    ref_all = align({
        "bid": TickStream(spark.createDataFrame(bid_hist + bid_live, SCHEMA)),
        "ask": TickStream(spark.createDataFrame(ask_hist + ask_live, SCHEMA)),
    })
    ref = sorted(
        (r["key"], r["ts"], r["seq"], r["bid"], r["ask"],
         r["bid__ticked"], r["ask__ticked"])
        for r in ref_all.filter(F.col("ts") > boundary).collect()
    )
    assert got == ref
    # the replay half is the batch align over history alone
    assert replay.count() > 0
    # state really crossed the splice: first live 'x' ask row sees the
    # replayed bid last-value (not NULL)
    first_ask = min(r for r in got if r[0] == "x" and r[6])
    assert first_ask[3] is not None


@pytest.mark.slow
def test_hybrid_ema_equals_pure_batch(spark, tmp_path):
    """Replay->live EMA: the recursion state (terminal EMA per key)
    seeds the streaming kernel; live values must continue the batch
    run bit-for-bit (rel 1e-12) vs one batch EMA over history ∪ live."""
    from csp_spark import TickStream
    from csp_spark.stats import ema
    from csp_spark.streaming import file_ticks, run_hybrid_ema

    boundary = START + dt.timedelta(seconds=100)
    hist, live = [], []
    for i, k in enumerate(("a", "b")):
        for j in range(10):
            hist.append((k, START + dt.timedelta(seconds=3 * j + i), 0,
                         float(j) + 10 * i))
            live.append((k, boundary + dt.timedelta(seconds=3 * j + i + 1), 0,
                         float(9 - j) + 10 * i))
    d = tmp_path / "live"
    _write_drops(spark, d, live, n_drops=3)
    live_s = file_ticks(spark, str(d), SCHEMA, ts_col="ts",
                        value_col="value", key_col="key")
    hist_df = spark.createDataFrame(hist, SCHEMA)
    replay, live_out = run_hybrid_ema(hist_df, live_s, alpha=0.3,
                                      boundary=boundary)
    got = {(r["key"], r["ts"]): r["value"]
           for r in collect_stream(live_out).collect()}
    full = ema(TickStream(spark.createDataFrame(hist + live, SCHEMA)),
               alpha=0.3, adjust=False).df
    ref = {(r["key"], r["ts"]): r["value"]
           for r in full.filter(F.col("ts") > boundary).collect()}
    assert set(got) == set(ref)
    for k, v in ref.items():
        assert math.isclose(got[k], v, rel_tol=1e-12), (k, got[k], v)
    # replay half = batch EMA over history alone
    rep = {(r["key"], r["ts"]): r["value"] for r in replay.collect()}
    refh = {(r["key"], r["ts"]): r["value"]
            for r in ema(TickStream(hist_df), alpha=0.3, adjust=False)
            .df.collect()}
    assert rep == refh


class _WsTestServer:
    """Minimal RFC 6455 server (stdlib): handshake + scripted frames —
    exercises 7/16/64-bit lengths, fragmentation, ping→pong and the
    close handshake against the client adapter."""

    def __init__(self, messages, big_message=None, expect_pong=True):
        import socket, threading
        self._messages = messages
        self._big = big_message
        self._expect_pong = expect_pong
        self._srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._srv.bind(("127.0.0.1", 0))
        self._srv.listen(1)
        self.port = self._srv.getsockname()[1]
        self.got_pong = False
        self.got_close_reply = False
        self.handshake_key_ok = False
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self):
        from csp_spark.streaming.websocket import (
            OP_CLOSE, OP_CONT, OP_PING, OP_PONG, OP_TEXT,
            _accept_key, encode_frame, read_frame,
        )
        conn, _ = self._srv.accept()
        conn.settimeout(20)
        head = b""
        while b"\r\n\r\n" not in head:
            head += conn.recv(4096)
        key = None
        for line in head.split(b"\r\n"):
            if line.lower().startswith(b"sec-websocket-key:"):
                key = line.split(b":", 1)[1].strip().decode()
        self.handshake_key_ok = key is not None
        conn.sendall((
            "HTTP/1.1 101 Switching Protocols\r\n"
            "Upgrade: websocket\r\nConnection: Upgrade\r\n"
            f"Sec-WebSocket-Accept: {_accept_key(key)}\r\n\r\n"
        ).encode())
        # one whole message per entry (server frames are unmasked)
        for m in self._messages:
            conn.sendall(encode_frame(OP_TEXT, m.encode(), mask=False))
        # a 3-fragment message
        frag = self._messages[0].encode()
        third = max(1, len(frag) // 3)
        conn.sendall(encode_frame(OP_TEXT, frag[:third], mask=False, fin=False))
        conn.sendall(encode_frame(OP_CONT, frag[third:2 * third], mask=False, fin=False))
        conn.sendall(encode_frame(OP_CONT, frag[2 * third:], mask=False, fin=True))
        # ping → expect masked pong back
        conn.sendall(encode_frame(OP_PING, b"hb", mask=False))
        if self._expect_pong:
            fin, op, payload = read_frame(conn)
            self.got_pong = op == OP_PONG and payload == b"hb"
        # 16-bit and 64-bit length paths
        if self._big:
            conn.sendall(encode_frame(OP_TEXT, self._big.encode(), mask=False))
        # close handshake
        conn.sendall(encode_frame(OP_CLOSE, b"", mask=False))
        try:
            fin, op, payload = read_frame(conn)
            self.got_close_reply = op == OP_CLOSE
        except Exception:
            pass
        conn.close()
        self._srv.close()


def test_websocket_adapter_protocol_and_ticks(spark):
    """RFC 6455 client end-to-end: handshake, framing incl. a
    fragmented message and a >64 KiB message (64-bit length), ping
    answered with pong, close handshake completed — and the decoded
    JSON messages arrive as typed ticks through subscribe()."""
    import json, time
    from csp_spark.streaming import WebsocketAdapter, collect_stream

    msgs = [
        json.dumps({"sym": "ES", "ts": "2020-01-01 00:00:0%d" % i,
                    "price": 100.0 + i})
        for i in range(5)
    ]
    # 64-bit length path: payload > 65535 bytes, still valid JSON
    big = json.dumps({"sym": "BIG", "ts": "2020-01-01 00:01:00",
                      "price": 7.0, "pad": "x" * 70000})
    srv = _WsTestServer(msgs, big_message=big)
    ad = WebsocketAdapter(
        spark,
        f"ws://127.0.0.1:{srv.port}/feed",
        value_schema="sym string, ts string, price double, pad string",
        ts_field="ts",
        value_field="price",
        key_field="sym",
    )
    ad.start()
    srv._thread.join(timeout=30)
    assert not srv._thread.is_alive(), "server script did not complete"
    assert ad.join(30), "adapter did not drain after server close"
    ad.stop()
    assert srv.handshake_key_ok and srv.got_pong and srv.got_close_reply
    got = collect_stream(ad.subscribe()).collect()
    # 5 whole + 1 fragmented (same payload as msg 0) + 1 big = 7 ticks
    assert len(got) == 7
    es = sorted((r["ts"], r["value"]) for r in got if r["key"] == "ES")
    assert [v for _, v in es] == [100.0, 100.0, 101.0, 102.0, 103.0, 104.0]
    assert [r["value"] for r in got if r["key"] == "BIG"] == [7.0]


def test_websocket_adapter_reconnect(spark):
    """The reconnect loop re-establishes the session after a drop —
    two sequential server incarnations, both batches of ticks land."""
    import json, socket, threading, time
    from csp_spark.streaming import WebsocketAdapter, collect_stream
    from csp_spark.streaming.websocket import (
        OP_CLOSE, OP_TEXT, _accept_key, encode_frame,
    )

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(2)
    port = srv.getsockname()[1]
    served = []

    def run():
        for incarnation in range(2):
            conn, _ = srv.accept()
            conn.settimeout(20)
            head = b""
            while b"\r\n\r\n" not in head:
                head += conn.recv(4096)
            key = [l.split(b":", 1)[1].strip().decode()
                   for l in head.split(b"\r\n")
                   if l.lower().startswith(b"sec-websocket-key:")][0]
            conn.sendall((
                "HTTP/1.1 101 Switching Protocols\r\n"
                "Upgrade: websocket\r\nConnection: Upgrade\r\n"
                f"Sec-WebSocket-Accept: {_accept_key(key)}\r\n\r\n"
            ).encode())
            m = json.dumps({"v": float(incarnation)})
            conn.sendall(encode_frame(OP_TEXT, m.encode(), mask=False))
            conn.sendall(encode_frame(OP_CLOSE, b"", mask=False))
            served.append(incarnation)
            conn.close()
        srv.close()

    t = threading.Thread(target=run, daemon=True)
    t.start()
    ad = WebsocketAdapter(
        spark, f"ws://127.0.0.1:{port}/", value_schema="v double",
        value_field="v", reconnect=0.2,
    )
    ad.start()
    t.join(timeout=30)
    # each incarnation flushes on its close frame — wait for both drops
    import glob as _glob
    deadline = time.time() + 20
    while time.time() < deadline and len(
            _glob.glob(ad._push._dir + "/push-*.parquet")) < 2:
        time.sleep(0.1)
    ad.stop()
    assert served == [0, 1]
    vals = sorted(r["value"] for r in collect_stream(ad.subscribe()).collect())
    assert vals == [0.0, 1.0]


@pytest.mark.slow
def test_pushpull_adapter_replay_then_live(spark):
    """PushPullInputAdapter parity: one channel delivers the history
    rows first, then live pushes — a stateful kernel downstream folds
    replay before live, so its live output equals a batch run over
    history + live."""
    import math as _math

    from csp_spark import TickStream
    from csp_spark.stats import ema as batch_ema
    from csp_spark.streaming import PushPullAdapter, collect_stream, ema_stream

    hist = [("k", START + dt.timedelta(seconds=i), i, float(i % 5))
            for i in range(10)]
    hist_df = spark.createDataFrame(hist, SCHEMA)
    pp = PushPullAdapter(spark, hist_df)
    pp.flag_replay_complete()
    assert pp.replay_complete()
    live_t = [START + dt.timedelta(seconds=100 + i) for i in range(4)]
    live_v = [7.0, 3.0, 9.0, 1.0]
    for t_, v_ in zip(live_t, live_v):
        pp.push_tick(v_, ts=t_, key="k")
    pp.flush()
    out = collect_stream(ema_stream(pp.out(), alpha=0.4))
    got = {r["ts"]: r["value"] for r in out.collect()}
    all_rows = hist + [("k", t_, 1000 + i, v_)
                       for i, (t_, v_) in enumerate(zip(live_t, live_v))]
    ref = {r["ts"]: r["value"]
           for r in batch_ema(TickStream(spark.createDataFrame(all_rows, SCHEMA)),
                              alpha=0.4, adjust=False).df.collect()}
    assert set(got) == set(ref) and len(got) == 14
    for k in ref:
        assert _math.isclose(got[k], ref[k], rel_tol=1e-12), k
    pp.stop()


@pytest.mark.slow
def test_rolling_tick_stats_stream_matches_batch(spark, landing):
    """PER-TICK trailing-N-tick stats over the stream — csp.stats
    realtime semantics (emit every tick, not per slide) — equals the
    batch tick-window form, ring state carried across microbatches."""
    from pyspark.sql import Window
    from csp_spark.streaming import rolling_tick_stats_stream

    path, rows = landing
    stream = file_ticks(
        spark, path, SCHEMA, ts_col="ts", value_col="value", key_col="key",
        max_files_per_trigger=1,
    )
    W = 7
    got = {(r[KEY], r[TS], r[SEQ]):
           (r["roll_count"], r["roll_sum"], r["roll_mean"],
            r["roll_min"], r["roll_max"], r["roll_p50"], r["roll_p25"])
           for r in collect_stream(rolling_tick_stats_stream(
               stream, W, quantiles={"roll_p50": 0.5, "roll_p25": 0.25}
           )).collect()}
    w = (Window.partitionBy(KEY).orderBy(TS, SEQ)
         .rowsBetween(-(W - 1), 0))
    batch = spark.createDataFrame(rows, SCHEMA).select(
        KEY, TS, SEQ,
        F.count(VALUE).over(w).alias("c"),
        F.sum(VALUE).over(w).alias("s"),
        F.avg(VALUE).over(w).alias("m"),
        F.min(VALUE).over(w).alias("mn"),
        F.max(VALUE).over(w).alias("mx"),
        F.percentile(VALUE, F.lit(0.5)).over(w).alias("p50"),
        F.percentile(VALUE, F.lit(0.25)).over(w).alias("p25"),
    ).collect()
    assert len(got) == len(batch) > 0
    for r in batch:
        g = got[(r[KEY], r[TS], r[SEQ])]
        assert g[0] == r["c"]
        assert math.isclose(g[1], r["s"], rel_tol=1e-12)
        assert math.isclose(g[2], r["m"], rel_tol=1e-12)
        assert g[3] == r["mn"] and g[4] == r["mx"]
        # exact quantile: the ring replicates Spark percentile()'s
        # linear interpolation arithmetic bit-for-bit
        assert g[5] == r["p50"] and g[6] == r["p25"], (g, r)


@pytest.mark.slow
def test_pushpull_live_seq_after_history_seq(spark):
    """Live seqs continue from max(history seq)+1, not the row count —
    a live tick at the SAME timestamp as the last replay row must fold
    AFTER it (review regression)."""
    from csp_spark import TickStream
    from csp_spark.stats import ema as batch_ema
    from csp_spark.streaming import PushPullAdapter, collect_stream, ema_stream

    t_last = START + dt.timedelta(seconds=9)
    hist = [("k", START + dt.timedelta(seconds=i), 500 + i, float(i))
            for i in range(10)]  # seqs 500..509
    pp = PushPullAdapter(spark, spark.createDataFrame(hist, SCHEMA))
    pp.push_tick(99.0, ts=t_last, key="k")   # same ts as last replay row
    pp.flush()
    out = collect_stream(ema_stream(pp.out(), alpha=0.5)).collect()
    rows = sorted(((r["ts"], r["seq"]) for r in out))
    # live row's seq sorts after 509
    assert rows[-1][1] >= 510
    got = {(r["ts"], r["seq"]): r["value"] for r in out}
    all_rows = hist + [("k", t_last, 510, 99.0)]
    ref = {(r["ts"], r["seq"]): r["value"] for r in batch_ema(
        TickStream(spark.createDataFrame(all_rows, SCHEMA)),
        alpha=0.5, adjust=False).df.collect()}
    assert len(got) == len(ref) == 11
    # the final value folds live AFTER the (t_last, 509) replay row
    assert math.isclose(got[(t_last, rows[-1][1])],
                        ref[(t_last, 510)], rel_tol=1e-12)
    pp.stop()


@pytest.mark.slow
def test_hybrid_rolling_equals_pure_batch(spark, tmp_path):
    """Replay->live for the rolling kernel: the ring state is seeded
    with each key's last window-1 history rows, so live windows span
    the boundary — live output equals one batch keyed window over
    history ∪ live."""
    from pyspark.sql import Window
    from csp_spark.streaming import file_ticks, run_hybrid_rolling

    boundary = START + dt.timedelta(seconds=100)
    W = 6
    hist, live = [], []
    for j, k in enumerate(("a", "b")):
        for i in range(12):
            hist.append((k, START + dt.timedelta(seconds=2 * i + j), i,
                         float((i * 3 + j) % 9)))
        for i in range(5):
            live.append((k, boundary + dt.timedelta(seconds=2 * i + j + 1),
                         100 + i, float(i + 10 * j)))
    d = tmp_path / "roll_live"
    _write_drops(spark, d, live, n_drops=2)
    live_s = file_ticks(spark, str(d), SCHEMA, ts_col="ts",
                        value_col="value", key_col="key", seq_col="seq")
    hist_df = spark.createDataFrame(hist, SCHEMA)
    replay, live_out = run_hybrid_rolling(hist_df, live_s, window=W,
                                          boundary=boundary)
    got = {(r["key"], r["ts"]):
           (r["roll_count"], r["roll_sum"], r["roll_mean"],
            r["roll_min"], r["roll_max"])
           for r in collect_stream(live_out).collect()}
    w = (Window.partitionBy("key").orderBy("ts", "seq")
         .rowsBetween(-(W - 1), 0))
    full = spark.createDataFrame(hist + live, SCHEMA).select(
        "key", "ts",
        F.count("value").over(w).alias("c"),
        F.sum("value").over(w).alias("s"),
        F.avg("value").over(w).alias("m"),
        F.min("value").over(w).alias("mn"),
        F.max("value").over(w).alias("mx"),
    ).filter(F.col("ts") > boundary)
    ref = {(r["key"], r["ts"]): (r["c"], r["s"], r["m"], r["mn"], r["mx"])
           for r in full.collect()}
    assert set(got) == set(ref) and len(got) == 10
    for k in ref:
        assert got[k][0] == ref[k][0]
        for gi, ri in zip(got[k][1:], ref[k][1:]):
            assert math.isclose(gi, ri, rel_tol=1e-12), (k, got[k], ref[k])
    # the first live window REALLY spans the boundary (count == W)
    first_a = min(t for kk, t in got if kk == "a")
    assert got[("a", first_a)][0] == W
    # replay half matches the batch window over history alone
    assert replay.count() == 24


@pytest.mark.slow
def test_publish_websocket_stream(spark, tmp_path):
    """Outbound websocket publish: streaming rows arrive at a real WS
    server as JSON text frames (one client connection per microbatch)."""
    import json as _json
    import socket as _socket
    import threading as _threading
    import time

    from csp_spark.streaming import file_ticks, publish_websocket_stream
    from csp_spark.streaming.websocket import (
        OP_CLOSE, OP_TEXT, _accept_key, encode_frame, read_frame,
    )

    srv = _socket.socket(_socket.AF_INET, _socket.SOCK_STREAM)
    srv.setsockopt(_socket.SOL_SOCKET, _socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(4)
    port = srv.getsockname()[1]
    received, done = [], _threading.Event()

    def run_srv():
        # one connection per microbatch until the publisher stops
        srv.settimeout(30)
        try:
            while not done.is_set():
                try:
                    conn, _ = srv.accept()
                except OSError:
                    return
                conn.settimeout(20)
                head = b""
                while b"\r\n\r\n" not in head:
                    head += conn.recv(4096)
                key = [l.split(b":", 1)[1].strip().decode()
                       for l in head.split(b"\r\n")
                       if l.lower().startswith(b"sec-websocket-key:")][0]
                conn.sendall((
                    "HTTP/1.1 101 Switching Protocols\r\n"
                    "Upgrade: websocket\r\nConnection: Upgrade\r\n"
                    f"Sec-WebSocket-Accept: {_accept_key(key)}\r\n\r\n"
                ).encode())
                try:
                    while True:
                        fin, op, payload = read_frame(conn)
                        if op == OP_CLOSE:
                            conn.sendall(encode_frame(OP_CLOSE, b"", mask=False))
                            break
                        if op == OP_TEXT:
                            received.append(payload.decode())
                except (ConnectionError, OSError):
                    pass
                conn.close()
        finally:
            srv.close()

    t = _threading.Thread(target=run_srv, daemon=True)
    t.start()

    rows = [("k", START + dt.timedelta(seconds=i), i, float(i)) for i in range(5)]
    d = tmp_path / "pub"
    _write_drops(spark, d, rows, n_drops=2)
    stream = file_ticks(spark, str(d), SCHEMA, ts_col="ts",
                        value_col="value", key_col="key", seq_col="seq")
    q = publish_websocket_stream(stream, f"ws://127.0.0.1:{port}/")
    try:
        deadline = time.time() + 30
        while time.time() < deadline and len(received) < 5:
            time.sleep(0.2)
    finally:
        q.stop()
        done.set()
    assert len(received) == 5, received
    vals = sorted(_json.loads(m)["value"] for m in received)
    assert vals == [0.0, 1.0, 2.0, 3.0, 4.0]


@pytest.mark.slow
def test_ohlc_bars_stream_matches_batch(spark, landing):
    """Streaming tumbling OHLC bars equal the batch resample over the
    same rows (epoch-aligned buckets, (ts, seq) open/close order)."""
    from csp_spark.stats import ohlc_bars
    from csp_spark.streaming import ohlc_bars_stream

    path, rows = landing
    stream = file_ticks(
        spark, path, SCHEMA, ts_col="ts", value_col="value", key_col="key",
        max_files_per_trigger=1,
    )
    iv = dt.timedelta(seconds=10)
    got = {(r[KEY], r["bar_start"]): (r["open"], r["high"], r["low"],
                                      r["close"], r["n_ticks"], r["mean"])
           for r in collect_stream(
               ohlc_bars_stream(stream, iv), output_mode="complete"
           ).collect()}
    ref = {(r["key"], r["bar_start"]): (r["open"], r["high"], r["low"],
                                        r["close"], r["n_ticks"], r["mean"])
           for r in ohlc_bars(
               TickStream(spark.createDataFrame(rows, SCHEMA)), iv
           ).collect()}
    assert len(got) == len(ref) > 2
    for k, v in ref.items():
        g = got[k]
        assert g[:5] == v[:5], k
        assert math.isclose(g[5], v[5], rel_tol=1e-12)


@pytest.mark.slow
def test_session_bars_stream_matches_batch(spark, landing):
    """Streaming gap sessions (native session_window) equal the batch
    session_bars rollup over the same rows — including at exact-gap
    boundaries, where both follow native session_window's closed
    boundary (a tick at last+gap joins). session_idx is batch-only (no running per-key index in a
    streaming aggregate), so sessions compare by (key, start)."""
    from csp_spark.stats import session_bars
    from csp_spark.streaming import session_bars_stream

    # bursty ticks: per key three bursts (intra-burst deltas < gap)
    # separated by idle stretches, plus one exact-gap boundary pair
    rows = []
    for ki, k in enumerate(("a", "b")):
        sec = [0, 2, 3, 20, 21, 40, 47]  # 40->47 exactly gap: JOINS
        rows += [(k, START + dt.timedelta(seconds=s + ki), i, float(i))
                 for i, s in enumerate(sec)]
    rows.sort(key=lambda r: (r[1], r[0]))
    d = landing[0].rstrip("*/").rstrip("/") + "_sess"
    for i in range(3):
        chunk = rows[i * 5: (i + 1) * 5] or rows[-1:]
        spark.createDataFrame(chunk, SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(f"{d}/chunk{i}.parquet")
    path = d + "/*/"
    stream = file_ticks(
        spark, path, SCHEMA, ts_col="ts", value_col="value", key_col="key",
        max_files_per_trigger=1,
    )
    gap = dt.timedelta(seconds=7)
    cols = ("session_end", "duration_us", "n_ticks",
            "first_v", "last_v", "sum_v")
    got = {(r[KEY], r["session_start"]): tuple(r[c] for c in cols)
           for r in collect_stream(
               session_bars_stream(stream, gap), output_mode="complete"
           ).collect()}
    ref = {(r["key"], r["session_start"]): tuple(r[c] for c in cols)
           for r in session_bars(
               TickStream(spark.createDataFrame(rows, SCHEMA)), gap
           ).collect()}
    assert len(got) == len(ref) > 2
    for k, v in ref.items():
        g = got[k]
        assert g[:5] == v[:5], k
        assert math.isclose(g[5], v[5], rel_tol=1e-12)


@pytest.mark.slow
def test_incremental_dedup_stream_matches_batch_loop(spark, tmp_path):
    """Streaming rolling-corpus dedup over two microbatch waves lands
    exactly the corpus the sequential batch loop builds: duplicates of
    already-landed docs are dropped, fresh docs survive, and the
    within-wave min-id rule holds across the stream/batch boundary."""
    from csp_spark.dedup.components import incremental_dedup
    from csp_spark.streaming import incremental_dedup_stream

    base = ("the quick brown fox jumps over the lazy dog and then naps "
            "in the warm afternoon sun beside the old garden wall")
    other = ("completely different content about distributed query "
             "engines shuffling hashed tokens across many partitions")
    third = ("a third unique passage mentioning neither foxes nor "
             "engines just rain on a tin roof all through the night")
    dschema = "doc_id long, text string"
    wave1 = [(1, base), (2, base + " extra"), (3, other)]
    wave2 = [(10, base), (11, third), (12, third + " coda"), (13, other)]

    landing = tmp_path / "landing"
    landing.mkdir()
    corpus = str(tmp_path / "corpus")
    spark.createDataFrame(wave1, dschema).coalesce(1).write.mode(
        "append"
    ).parquet(str(landing))

    stream = (
        spark.readStream.schema(dschema).parquet(str(landing))
    )
    q = incremental_dedup_stream(
        stream, corpus, str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(wave2, dschema).coalesce(1).write.mode(
            "append"
        ).parquet(str(landing))
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        r["doc_id"] for r in spark.read.parquet(corpus).collect()
    )

    # reference: the sequential batch loop
    ref_corpus = spark.createDataFrame([], dschema)
    for wave in (wave1, wave2):
        kept = incremental_dedup(
            ref_corpus, spark.createDataFrame(wave, dschema)
        )
        ref_corpus = ref_corpus.unionByName(kept.select("doc_id", "text"))
    want = sorted(r["doc_id"] for r in ref_corpus.collect())
    assert got == want, (got, want)
    # and the semantics are the expected ones: near-dups of landed docs
    # dropped (10 dups 1, 12 dups 11), fresh docs kept
    assert 1 in got and 3 in got and 11 in got
    assert 10 not in got and 12 not in got


@pytest.mark.slow
def test_incremental_dedup_batch_retry_idempotent(spark, tmp_path):
    """A retried epoch (ran fully, crashed before the checkpoint
    commit, re-executed on restart) must land the same corpus: the
    current epoch's own partition neither counts as existing corpus
    nor breaks the overwrite; and a corrupt corpus read aborts the
    batch instead of silently deduping against nothing."""
    from csp_spark.streaming.ops import ingest_dedup_batch

    base = ("the quick brown fox jumps over the lazy dog and then naps "
            "in the warm afternoon sun beside the old garden wall")
    other = ("completely different content about distributed query "
             "engines shuffling hashed tokens across many partitions")
    dschema = "doc_id long, text string"
    corpus = str(tmp_path / "corpus")
    b0 = spark.createDataFrame([(1, base), (2, other)], dschema)
    third = ("a third unique passage mentioning neither foxes nor "
             "engines just rain on a tin roof all through the night")
    b1 = spark.createDataFrame([(10, base), (11, third)], dschema)

    def snapshot():
        return sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect())

    ingest_dedup_batch(b0, 0, corpus)
    first = snapshot()
    ingest_dedup_batch(b0, 0, corpus)  # retry epoch 0
    assert snapshot() == first == [1, 2]

    ingest_dedup_batch(b1, 1, corpus)
    second = snapshot()
    ingest_dedup_batch(b1, 1, corpus)  # retry epoch 1
    assert snapshot() == second
    # 10 near-dups doc 1 (dropped); 11 is fresh
    assert second == [1, 2, 11]

    # corrupt corpus: a broken parquet footer must raise, not be
    # treated as "first batch"
    bad = tmp_path / "corpus" / "batch=0" / "zzz-corrupt.parquet"
    bad.write_bytes(b"not a parquet file")
    try:
        ingest_dedup_batch(b1, 2, corpus)
        raised = False
    except Exception:
        raised = True
    assert raised


@pytest.mark.slow
def test_run_node_stream_matches_batch(spark, tmp_path):
    """Streaming imperative nodes equal batch run_node on the same
    ticks: a two-input stateful spread-watcher (cumulative count of
    spread widenings) over microbatch drops vs the batch runner."""
    from csp_spark import TickStream, run_node
    from csp_spark.streaming import file_ticks, run_node_stream

    bid_rows = [("s", START + dt.timedelta(seconds=2 * i), 0, 99.0 + 0.3 * i)
                for i in range(8)]
    ask_rows = [("s", START + dt.timedelta(seconds=2 * i + (0 if i == 4 else 1)),
                 0, 100.0 + 0.45 * i) for i in range(8)]
    d1, d2 = tmp_path / "bid", tmp_path / "ask"
    for d, rows in ((d1, bid_rows), (d2, ask_rows)):
        d.mkdir()
        half = len(rows) // 2
        for part in (rows[:half], rows[half:]):
            spark.createDataFrame(part, SCHEMA).coalesce(1).write.mode(
                "append").parquet(str(d))

    def widenings(cycle):
        if not (cycle.valid("bid") and cycle.valid("ask")):
            return None
        sp = cycle["ask"] - cycle["bid"]
        prev = cycle.state.get("prev")
        cycle.state["prev"] = sp
        if prev is not None and sp > prev:
            cycle.state["n"] = cycle.state.get("n", 0) + 1
            return float(cycle.state["n"])
        return None

    bid_s = file_ticks(spark, str(d1), SCHEMA, ts_col="ts",
                       value_col="value", key_col="key")
    ask_s = file_ticks(spark, str(d2), SCHEMA, ts_col="ts",
                       value_col="value", key_col="key")
    got = collect_stream(
        run_node_stream(widenings, {"bid": bid_s, "ask": ask_s})
    )
    grows = sorted((r["ts"], r["seq"], r["value"]) for r in got.collect())

    bid_b = TickStream(spark.createDataFrame(bid_rows, SCHEMA))
    ask_b = TickStream(spark.createDataFrame(ask_rows, SCHEMA))
    ref = sorted(
        (ts, 0, v)
        for ts, v in run_node(
            widenings, {"bid": bid_b, "ask": ask_b}
        ).collect_ticks("s")
    )
    assert grows == ref and len(grows) > 0


@pytest.mark.slow
def test_run_node_stream_alarm_raises(spark, tmp_path):
    """schedule_alarm inside a streaming node raises the documented
    batch-only error instead of silently misbehaving."""
    import pytest as _pytest

    from csp_spark.streaming import file_ticks, run_node_stream

    d = tmp_path / "in"
    d.mkdir()
    spark.createDataFrame(
        [("s", START, 0, 1.0)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(str(d))
    x = file_ticks(spark, str(d), SCHEMA, ts_col="ts",
                   value_col="value", key_col="key")

    def arm(cycle):
        cycle.schedule_alarm(dt.timedelta(seconds=1), True)
        return 1.0

    with _pytest.raises(Exception, match="batch-only"):
        collect_stream(run_node_stream(arm, x))


@pytest.mark.slow
def test_run_node_stream_alarms_match_batch(spark, tmp_path):
    """Streaming alarms (r11 verdict task 3): run_node_stream(
    alarms=True) runs csp.alarms in a LIVE streaming query with the
    reference engine's semantics — an alarm fires as its own cycle at
    its scheduled time (cpp AlarmInputAdapter). Covered here: a
    self-RESCHEDULING repeating alarm, a debounce alarm cancelled and
    re-armed on every input tick (the handle crosses state-store
    pickles), interleave of alarm and input cycles inside a batch, and
    idle-key firing via the event-time timeout (no input for the key —
    only the advancing watermark wakes it). Output equals the batch
    run_node replay with end= the final watermark, seqs included; the
    state store's pickled blob (user state + alarm heap) is read back
    and bounded."""
    import pickle
    import uuid as _uuid

    from csp_spark import TickStream, run_node
    from csp_spark.plans.runtime import _run_info_stack
    from csp_spark.streaming import file_ticks, run_node_stream

    def node(cycle):
        if cycle.ticked("alarm"):
            n = cycle.state.get("fired", 0) + 1
            cycle.state["fired"] = n
            if cycle.alarm == 1.0:
                # repeating alarm reschedules itself (+2.5s)
                cycle.state["rep"] = cycle.schedule_alarm(
                    dt.timedelta(seconds=2.5), 1.0)
                return 1000.0 + n
            return 2000.0 + n  # the debounce alarm actually fired
        v = cycle["x"]
        if cycle.state.get("deb") is not None:
            cycle.cancel_alarm(cycle.state["deb"])
        cycle.state["deb"] = cycle.schedule_alarm(
            dt.timedelta(seconds=3), 2.0)
        if "rep" not in cycle.state:
            cycle.state["rep"] = cycle.schedule_alarm(
                dt.timedelta(seconds=2.5), 1.0)
        return v

    # input microbatches: 2 data files for key s, then 2 watermark
    # flushes. availableNow runs a FINAL no-data batch for pending
    # event-time timeouts, so the last flush's ts (t+30s) IS the final
    # watermark = the engine-endtime analog: every alarm <= t+30 fires
    rows_f1 = [("s", START, 0, 1.0),
               ("s", START + dt.timedelta(seconds=2), 0, 2.0)]
    rows_f2 = [("s", START + dt.timedelta(seconds=4), 0, 3.0),
               ("s", START + dt.timedelta(seconds=6), 0, 4.0)]
    rows_f3 = [("zflush", START + dt.timedelta(seconds=12), 0, 99.0)]
    rows_f4 = [("zflush", START + dt.timedelta(seconds=30), 0, 98.0)]
    land = tmp_path / "alarms_in"
    land.mkdir()
    for i, rows in enumerate([rows_f1, rows_f2, rows_f3, rows_f4]):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(str(land / f"b{i}"))
    stream = file_ticks(
        spark, str(land / "*"), SCHEMA, ts_col="ts", value_col="value",
        key_col="key", max_files_per_trigger=1,
    )
    out = run_node_stream(node, {"x": stream}, alarms=True)
    name = f"alarm_sink_{_uuid.uuid4().hex[:8]}"
    ckpt = str(tmp_path / "alarms_ckpt")
    _run_info_stack.append({"start": None, "end": None, "realtime": True})
    try:
        q = (out.writeStream.format("memory").queryName(name)
             .option("checkpointLocation", ckpt).outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        _run_info_stack.pop()
    got = sorted(
        (r["key"], r["ts"], r["seq"], r["value"])
        for r in spark.table(name).collect()
    )

    # batch oracle: same ticks, engine end = the final watermark
    all_rows = rows_f1 + rows_f2 + rows_f3 + rows_f4
    ref_ts = run_node(
        node, {"x": TickStream(spark.createDataFrame(all_rows, SCHEMA))},
        end=START + dt.timedelta(seconds=30),
    )
    ref = sorted(
        (r["key"], r["ts"], r["seq"], r["value"])
        for r in ref_ts.df.collect()
    )
    assert got == ref
    # the run really produced alarm cycles of BOTH kinds
    vals = [v for _, _, _, v in got]
    assert any(1000.0 <= v < 2000.0 for v in vals)   # repeating fired
    assert any(v >= 2000.0 for v in vals)            # debounce fired
    assert sum(v >= 2000.0 for v in vals) == 2       # one live debounce per key

    # timer/heap state read back from the ACTUAL state store: one row
    # per key, blob = (ustate, heap, order, fired), heap bounded
    state = spark.read.format("statestore").load(ckpt).collect()
    by_key = {r.key.key: r for r in state}
    assert set(by_key) == {"s", "zflush"}
    for k, r in by_key.items():
        ustate, heap, order, fired = pickle.loads(
            bytes(r.value.groupState[-1]))
        assert len(heap) <= 3, f"{k}: alarm heap grew: {len(heap)}"
        assert all(h[2]["alive"] for h in heap if h[0] == heap[0][0])
    # key s: the repeating alarm is still pending (rescheduled past the
    # final watermark), the cancelled debounce handles are gone
    _, s_heap, _, s_fired = pickle.loads(
        bytes(by_key["s"].value.groupState[-1]))
    # rep fired at 2.5,5,...,30 (12x) + the one surviving debounce
    assert s_fired == 13 and [h for h in s_heap if h[2]["alive"]]


@pytest.mark.slow
def test_hybrid_node_equals_pure_batch(spark, tmp_path):
    """Replay->live for imperative nodes: a stateful counter/EW node
    replays history, its terminal state dicts seed the streaming
    runner, and the live output equals a pure-batch run_node over
    history ∪ live (state crossing the boundary, not last-values —
    the node stores everything it needs)."""
    import math as _math

    from csp_spark import TickStream, run_node
    from csp_spark.streaming import file_ticks, run_hybrid_node

    boundary = START + dt.timedelta(seconds=100)
    hist, live = [], []
    for i, k in enumerate(("a", "b")):
        for j in range(12):
            hist.append((k, START + dt.timedelta(seconds=3 * j + i), 0,
                         float(j % 5) + 10 * i))
            live.append((k, boundary + dt.timedelta(seconds=3 * j + i + 1), 0,
                         float((9 - j) % 4) + 10 * i))

    def ew_count(cycle):
        st = cycle.state
        st["n"] = st.get("n", 0) + 1
        st["ew"] = (
            cycle["x"] if "ew" not in st
            else 0.7 * st["ew"] + 0.3 * cycle["x"]
        )
        return st["ew"] * st["n"]

    d = tmp_path / "live_node"
    _write_drops(spark, d, live, n_drops=3)
    live_s = file_ticks(spark, str(d), SCHEMA, ts_col="ts",
                        value_col="value", key_col="key")
    hist_df = spark.createDataFrame(hist, SCHEMA)
    replay, live_out = run_hybrid_node(ew_count, hist_df, live_s)
    got = {(r["key"], r["ts"]): r["value"]
           for r in collect_stream(live_out).collect()}
    full = run_node(
        ew_count, TickStream(spark.createDataFrame(hist + live, SCHEMA))
    ).df
    ref = {(r["key"], r["ts"]): r["value"]
           for r in full.filter(F.col("ts") > boundary).collect()}
    assert set(got) == set(ref) and len(got) == 24
    for k, v in ref.items():
        assert _math.isclose(got[k], v, rel_tol=1e-12), (k, got[k], v)
    # replay half = batch run_node over history alone
    rep = {(r["key"], r["ts"]): r["value"] for r in replay.collect()}
    refh = {(r["key"], r["ts"]): r["value"]
            for r in run_node(ew_count, TickStream(hist_df)).df.collect()}
    assert rep == refh


def test_websocket_table_adapter(spark):
    """WebsocketTableAdapter (reference csp/adapters/websocket.py:
    62-387): /tables + /snap HTTP endpoints, websocket /subscribe with
    snapshot-then-update frames, indexed-snapshot maintenance, and
    delta_updates field diffing — served by the stdlib RFC 6455 stack
    against a real client connection."""
    import http.client
    import json

    from csp_spark.adapters.websocket_table import WebsocketTableAdapter
    from csp_spark.core.record import Struct
    from csp_spark.core.ticks import TickStream
    from csp_spark.streaming.websocket import WebSocketClient

    class Quote(Struct):
        symbol: str
        price: float
        size: int

    rows = [
        (START, 0, {"symbol": "A", "price": 1.0, "size": 10}),
        (START + dt.timedelta(seconds=1), 0, {"symbol": "B", "price": 2.0, "size": 20}),
        (START + dt.timedelta(seconds=2), 0, {"symbol": "A", "price": 1.5, "size": 10}),
    ]
    df = spark.createDataFrame(
        [("", t, s, v) for t, s, v in rows],
        f"key string, ts timestamp, seq long, value {Quote.spark_type().simpleString()}",
    )
    x = TickStream(df)

    adapter = WebsocketTableAdapter(0, delta_updates=True).start()
    table = adapter.create_table("quotes", index="symbol")
    table.publish(x)
    assert table.schema == {
        "symbol": "string", "price": "float", "size": "integer",
    }
    try:
        # a subscriber connected BEFORE delivery: empty snapshot sends
        # no snap frame (reference open() chunks only non-empty). The
        # flush delivers the plan-side merged snapshot — ONE upd per
        # index value (per-column last non-null tick, aggregated in
        # Spark; the r8 pushdown: history never reaches the driver),
        # ordered by each index's last-update cycle: B (t=1), then A
        # (t=2, price from the second tick merged over size from the
        # first).
        client = WebSocketClient(f"ws://127.0.0.1:{adapter.port}/subscribe/quotes")
        client.connect()
        import time as _time

        _time.sleep(0.3)  # let the server register the subscription
        adapter.flush()
        msgs = [json.loads(client.recv_message()) for _ in range(2)]
        assert [m["messageType"] for m in msgs] == ["upd"] * 2
        assert [m["messageID"] for m in msgs] == [0, 1]
        assert msgs[0]["data"] == [
            {"symbol": "B", "price": 2.0, "size": 20}
        ]
        assert msgs[1]["data"] == [
            {"symbol": "A", "price": 1.5, "size": 10}
        ]
        # a live tick AFTER the snapshot: delta_updates diffs against
        # the indexed snapshot row — only the changed field (plus the
        # index) goes out (reference diff_dict semantics)
        adapter.manager.send_updates(
            "quotes", {"symbol": "A", "price": 1.75, "size": 10}
        )
        upd = json.loads(client.recv_message())
        assert upd["data"] == [{"symbol": "A", "price": 1.75}]
        client.close()

        # HTTP snapshot reflects the merged indexed rows
        h = http.client.HTTPConnection("127.0.0.1", adapter.port, timeout=10)
        h.request("GET", "/snap/quotes")
        snap = json.loads(h.getresponse().read())
        assert sorted(snap["snap"], key=lambda r: r["symbol"]) == [
            {"symbol": "A", "price": 1.75, "size": 10},
            {"symbol": "B", "price": 2.0, "size": 20},
        ]
        h.request("GET", "/tables")
        tables = json.loads(h.getresponse().read())
        assert tables["tables"][0]["name"] == "quotes"
        assert tables["tables"][0]["index"] == "symbol"
        h.close()

        # a late subscriber gets the full snapshot first
        late = WebSocketClient(f"ws://127.0.0.1:{adapter.port}/subscribe/quotes")
        late.connect()
        snap_msg = json.loads(late.recv_message())
        assert snap_msg["messageType"] == "snap"
        assert len(snap_msg["data"]) == 2
        late.close()
    finally:
        adapter.stop()


def test_perspective_adapter_shim(spark):
    """PerspectiveAdapter (reference csp/adapters/perspective.py:
    166-253): the create_table(limit/index)/publish authoring surface
    over the websocket table server — Table(limit=) keeps only the
    newest rows in the snapshot."""
    import json

    from csp_spark.adapters.perspective import (
        PerspectiveAdapter, PerspectiveTableAdapter,
    )
    from csp_spark.adapters.websocket_types import (
        WebsocketHeaderUpdate, WebsocketStatus,
    )
    from csp_spark.core.ticks import TickStream

    assert int(WebsocketStatus.CLOSED.value) == 3
    assert WebsocketHeaderUpdate(key="a", value="b").key == "a"

    rows = [
        ("", START + dt.timedelta(seconds=i), 0,
         {"sym": f"S{i}", "px": float(i)})
        for i in range(5)
    ]
    df = spark.createDataFrame(
        rows, "key string, ts timestamp, seq long, "
        "value struct<sym: string, px: double>",
    )
    a = PerspectiveAdapter(0).start()
    t = a.create_table("px", limit=2)
    assert isinstance(t, PerspectiveTableAdapter) and t.limit == 2
    t.publish(TickStream(df))
    try:
        a.flush()
        # unindexed + limit=2: snapshot keeps only the 2 newest rows
        snap = a.manager.get_snapshot("px")
        assert [r["px"] for r in snap] == [3.0, 4.0]
        import http.client

        h = http.client.HTTPConnection("127.0.0.1", a.port, timeout=10)
        h.request("GET", "/tables")
        tables = json.loads(h.getresponse().read())
        assert tables["tables"][0]["name"] == "px"
        h.close()
    finally:
        a.stop()


def test_pushpull_adapter_def(spark):
    """py_pushpull_adapter_def (reference impl/wiring/adapters.py:297 +
    tests/impl/test_pushpulladapter.py shape): the adapter thread
    replays HISTORICAL ticks at their own timestamps then goes live;
    both phases land at their provided times in engine order."""
    import threading

    import csp_spark as csp
    from csp_spark.impl.pushpulladapter import (
        PushPullInputAdapter, py_pushpull_adapter_def,
    )
    from csp_spark.utils.datetime import utc_now

    class MyPushPull(PushPullInputAdapter):
        def __init__(self, data):
            super().__init__()
            self._data = data
            self._thread = None
            self._running = False

        def start(self, starttime, endtime):
            self._running = True
            self._thread = threading.Thread(target=self._run)
            self._thread.start()

        def stop(self):
            self._running = False
            self._thread.join()

        def _run(self):
            sent_live = False
            for live, t, v in self._data:
                if not self._running:
                    break
                self.push_tick(live, t, v)
                sent_live = sent_live or live
            if not sent_live:
                self.flag_replay_complete()

    Adapter = py_pushpull_adapter_def("hist_live", MyPushPull, csp.ts[float])

    now = utc_now()
    hist = [(False, now - dt.timedelta(minutes=m), float(10 - m))
            for m in (10, 5, 2)]
    live = [(True, now + dt.timedelta(seconds=0.2), 100.0)]

    def g():
        return Adapter(hist + live)

    res = csp.run(
        g, starttime=now - dt.timedelta(minutes=15),
        endtime=now + dt.timedelta(seconds=1), realtime=True,
    )
    ticks = list(res.values())[0]
    # replay rows at their historical times, live row after them
    assert [v for _, v in ticks] == [0.0, 5.0, 8.0, 100.0]
    assert [t for t, _ in ticks[:3]] == [
        now - dt.timedelta(minutes=10),
        now - dt.timedelta(minutes=5),
        now - dt.timedelta(minutes=2),
    ]
    assert ticks[3][0] >= now


def test_websocket_table_publish_stream(spark, landing, tmp_path):
    """WebsocketTableAdapter.publish_stream: Structured Streaming
    microbatches land on the table (foreachBatch, engine-ordered per
    batch) — the snapshot converges to the batch flush's state."""
    from csp_spark.adapters.websocket_table import WebsocketTableAdapter
    from csp_spark.streaming import file_ticks

    path, rows = landing
    stream = file_ticks(
        spark, path, SCHEMA, ts_col="ts", value_col="value", key_col="key"
    )
    a = WebsocketTableAdapter(0).start()
    t = a.create_table("live", index="key")
    # declare the columns (scalar publish form) so the schema exists
    from csp_spark.core.ticks import TickStream

    t.publish(
        TickStream(spark.createDataFrame([], SCHEMA)), field_map="value"
    )
    assert t.schema == {"value": "float"}
    try:
        q = a.publish_stream(
            stream.select("key", "ts", "seq", "value"), "live",
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.processAllAvailable()
        q.stop()
        snap = {r["key"]: r["value"] for r in a.manager.get_snapshot("live")}
        # indexed by key: snapshot holds each key's LAST value
        last = {}
        for k, ts_, _seq, v in sorted(rows, key=lambda r: (r[1], r[2])):
            last[k] = v
        assert snap == last
    finally:
        a.stop()


def test_websocket_adapter_manager_class_surface(spark):
    """Class-shaped WebsocketAdapterManager (reference csp/adapters/
    websocket.py:390-460): subscribe decodes landed JSON into typed
    structs with field_map + arrival-time meta mapping over the live
    RFC 6455 server; send() delivers engine-ordered JSON frames to a
    real receiving server; update_headers mutates the handshake
    headers; construction rules enforced."""
    import datetime as dtm
    import json
    import socket
    import threading

    import pytest

    import csp_spark

    csp_spark.enable_reference_alias()
    import csp
    from csp.adapters.websocket import WebsocketAdapterManager
    from csp.adapters.utils import JSONTextMessageMapper
    from csp_spark.streaming import collect_stream

    # --- construction rules
    with pytest.raises(ValueError, match="Failed to parse host"):
        WebsocketAdapterManager("nope")
    with pytest.raises(AssertionError):
        WebsocketAdapterManager(
            "ws://h/", reconnect_interval=dtm.timedelta(milliseconds=500))

    # --- subscribe over the live scripted server
    msgs = [
        json.dumps({"sym": "ES", "price": 100.0 + i}) for i in range(4)
    ]
    srv = _WsTestServer(msgs)

    class Quote(csp.Struct):
        sym: str
        px: float
        at: dtm.datetime

    mgr = WebsocketAdapterManager(f"ws://127.0.0.1:{srv.port}/feed")
    st = mgr.subscribe(
        Quote, JSONTextMessageMapper(),
        field_map={"sym": "sym", "price": "px"},
        meta_field_map={"timestamp": "at"},
    )
    mgr.start()
    srv._thread.join(timeout=30)
    # the manager keeps the reconnect loop alive by design (reference
    # reconnect_interval semantics) — poll for the drained ticks, then
    # stop the manager
    import time as _time

    got = []
    for _ in range(60):
        got = collect_stream(st.df).collect()
        if len(got) >= 5:
            break
        _time.sleep(0.5)
    mgr.stop()
    # 4 whole messages + 1 fragmented replay of msg 0
    vals = sorted(r["value"]["px"] for r in got)
    assert vals == [100.0, 100.0, 101.0, 102.0, 103.0]
    assert all(r["value"]["sym"] == "ES" for r in got)
    assert all(r["value"]["at"] is not None for r in got)
    with pytest.raises(ValueError, match="unsupported meta field"):
        mgr.subscribe(Quote, JSONTextMessageMapper(),
                      meta_field_map={"nope": "at"})

    # --- send(): engine-ordered frames land at a real receiving server
    from csp_spark.streaming.websocket import (
        OP_TEXT, _accept_key, encode_frame, read_frame,
    )

    received = []
    hdrs = {}
    ssock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    ssock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    ssock.bind(("127.0.0.1", 0))
    ssock.listen(1)
    port = ssock.getsockname()[1]

    def recv_srv():
        conn, _ = ssock.accept()
        conn.settimeout(20)
        head = b""
        while b"\r\n\r\n" not in head:
            head += conn.recv(4096)
        key = None
        for line in head.split(b"\r\n"):
            k, _, v = line.partition(b":")
            if k.lower() == b"sec-websocket-key":
                key = v.strip().decode()
            elif k.lower() == b"x-token":
                hdrs["X-Token"] = v.strip().decode()
        conn.sendall((
            "HTTP/1.1 101 Switching Protocols\r\n"
            "Upgrade: websocket\r\nConnection: Upgrade\r\n"
            f"Sec-WebSocket-Accept: {_accept_key(key)}\r\n\r\n"
        ).encode())
        for _ in range(3):
            fin, op, payload = read_frame(conn)
            if op == OP_TEXT:
                received.append(payload.decode())
        conn.close()
        ssock.close()

    t = threading.Thread(target=recv_srv, daemon=True)
    t.start()
    out_mgr = WebsocketAdapterManager(f"ws://127.0.0.1:{port}/out")

    # header updates apply before the connect handshake
    class HU(csp.Struct):
        key: str
        value: str

    hu = csp_spark.TickStream.from_rows(
        spark, [(dtm.datetime(2020, 1, 1), {"key": "X-Token", "value": "s3"})],
        value_type="key string, value string", key="k",
    )
    out_mgr.update_headers(hu)

    ticks = csp_spark.TickStream.from_rows(
        spark,
        [(dtm.datetime(2020, 1, 1, 0, 0, i), float(i)) for i in range(3)],
        key="k",
    )
    n = out_mgr.send(ticks)
    t.join(timeout=20)
    out_mgr.stop()
    assert n == 3 and received == ["0.0", "1.0", "2.0"]
    assert hdrs.get("X-Token") == "s3"


@pytest.mark.slow
def test_websocket_adapter_manager_in_realtime_run(spark):
    """The reference program shape (examples/03_using_adapters/
    websocket/e1_websocket_client.py wiring): WebsocketAdapterManager
    subscribe + status INSIDE csp.run(realtime=True) — the capture
    phase owns the client thread (no manual start/stop), the status
    edge ticks a real connected event, and raw/struct subscriptions
    decode the landed messages."""
    import datetime as dtm
    import json

    import csp_spark

    csp_spark.enable_reference_alias()
    import csp
    from csp.adapters.utils import JSONTextMessageMapper, RawTextMessageMapper
    from csp.adapters.websocket import WebsocketAdapterManager

    msgs = [json.dumps({"sym": "ES", "price": 100.0 + i}) for i in range(3)]
    srv = _WsTestServer(msgs)

    class Quote(csp.Struct):
        sym: str
        px: float

    def g():
        ws = WebsocketAdapterManager(f"ws://127.0.0.1:{srv.port}/feed")
        raw = ws.subscribe(str, RawTextMessageMapper())
        quotes = ws.subscribe(
            Quote, JSONTextMessageMapper(),
            field_map={"sym": "sym", "price": "px"},
        )
        return {"raw": raw, "q": quotes, "status": ws.status()}

    res = csp.run(
        g,
        starttime=dtm.datetime.utcnow(),
        endtime=dtm.timedelta(seconds=4),
        realtime=True,
    )
    # 3 whole messages + 1 fragmented replay of msg 0 (the server script)
    assert len(res["raw"]) == 4
    assert json.loads(res["raw"][0][1])["price"] == 100.0
    prices = sorted(v.px for _, v in res["q"])
    assert prices == [100.0, 100.0, 101.0, 102.0]
    assert all(v.sym == "ES" for _, v in res["q"])
    # the status edge carries the real connect event
    stat = [v for _, v in res["status"]]
    assert stat and stat[0].status_code == 0
    assert "Connected" in stat[0].msg
    # and the protocol details held (pong + close handshake)
    assert srv.got_pong and srv.got_close_reply


def test_websocket_update_headers_engine_order(spark):
    """r11 ADVICE (low): several updates to the SAME header key must
    resolve (ts, seq)-last — engine order — not whatever partition
    order collect() happens to return."""
    import csp_spark
    from csp_spark.adapters.websocket import WebsocketAdapterManager
    from csp_spark.core.ticks import TickStream

    mgr = WebsocketAdapterManager("ws://127.0.0.1:1/never-connected")
    rows = [
        (dt.datetime(2020, 1, 1, 0, 0, i),
         {"key": "X-Token", "value": f"v{i}"})
        for i in range(16)
    ]
    hu = csp_spark.TickStream.from_rows(
        spark, rows, value_type="key string, value string", key="k",
    )
    # scramble physical layout: collect() order != engine order
    scrambled = TickStream(hu.df.repartition(8))
    mgr.update_headers(scrambled)
    assert mgr._properties["headers"]["X-Token"] == "v15"


def _endurance_run(spark, tmp_path, tag, build, n_batches, n_keys=16,
                   ticks_per_key=4):
    """Drive a stateful streaming twin over ``n_batches`` microbatches
    (one landing file each) and return the final state-store rows via
    Spark's statestore reader — the ACTUAL per-key state bytes, not an
    inference from output."""
    import uuid

    from csp_spark.plans.runtime import _run_info_stack
    from csp_spark.streaming import file_ticks

    land = tmp_path / f"land_{tag}"
    ckpt = str(tmp_path / f"ckpt_{tag}")
    land.mkdir()
    seq = 0
    for b in range(n_batches):
        rows = []
        for i in range(n_keys * ticks_per_key):
            k = f"k{i % n_keys}"
            t = dt.datetime(2020, 1, 1) + dt.timedelta(
                seconds=b * 1000 + i)
            rows.append((k, t, seq, float((b * 7 + i) % 23)))
            seq += 1
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(str(land / f"b{b:03d}"))
    stream = file_ticks(
        spark, str(land / "*"), SCHEMA, ts_col="ts", value_col="value",
        key_col="key", seq_col="seq", max_files_per_trigger=1,
    )
    out = build(stream)
    name = f"endure_{tag}_{uuid.uuid4().hex[:8]}"
    _run_info_stack.append({"start": None, "end": None, "realtime": True})
    try:
        q = (out.writeStream.format("memory").queryName(name)
             .option("checkpointLocation", ckpt).outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        _run_info_stack.pop()
    progress = [p for p in q.recentProgress if p["stateOperators"]]
    state = spark.read.format("statestore").load(ckpt).collect()
    return state, progress


@pytest.mark.slow
def test_streaming_state_stays_bounded(spark, tmp_path):
    """r11 verdict item 7 — ENDURANCE, not batch-equality: over many
    keys x many microbatches the streaming twins' state-store rows must
    stay one-per-key and each key's state must hold the documented
    bound (the value-ring contract), measured by reading the actual
    state store, and NOT grow between a short and a 3x-longer run."""
    import pickle

    from csp_spark.streaming import (
        align_stream, rolling_tick_stats_stream, run_node_stream,
    )

    W, KEYS = 6, 16

    # --- rolling ring: <= W doubles per key, rows == keys, both runs
    for n_batches, tag in [(5, "roll_short"), (14, "roll_long")]:
        state, progress = _endurance_run(
            spark, tmp_path, tag,
            lambda s: rolling_tick_stats_stream(s, W), n_batches,
            n_keys=KEYS,
        )
        assert len(state) == KEYS
        assert all(len(r.value.groupState.ring) <= W for r in state)
        # the state operator never tracks more than one row per key,
        # in EVERY microbatch of the run
        assert all(
            p["stateOperators"][0]["numRowsTotal"] <= KEYS
            for p in progress
        )
    # ring is exactly W once warm (>= W ticks seen): full by batch 2
    assert all(len(r.value.groupState.ring) == W for r in state)

    # --- align: state = one last-value slot per source, per key
    def build_align(s):
        from pyspark.sql import functions as F

        bid = s.filter(F.col(VALUE) >= 0)
        ask = s.withColumn(VALUE, F.col(VALUE) + 1)
        return align_stream({"bid": bid, "ask": ask})

    state, _ = _endurance_run(
        spark, tmp_path, "align", build_align, 8, n_keys=KEYS)
    assert len(state) == KEYS
    assert all(len(r.value.groupState) == 2 for r in state)  # n_src slots, no more

    # --- run_node_stream: the pickled user-state dict must not grow
    # with tick count (a cummax node keeps ONE float)
    def cummax_node(cyc):
        st = cyc.state
        st["mx"] = max(st.get("mx", float("-inf")), cyc["x"])
        return st["mx"]

    sizes = {}
    for n_batches, tag in [(4, "node_short"), (10, "node_long")]:
        state, _ = _endurance_run(
            spark, tmp_path, tag,
            lambda s: run_node_stream(cummax_node, {"x": s}),
            n_batches, n_keys=KEYS,
        )
        assert len(state) == KEYS
        raw = [bytes(r.value.groupState[-1]) for r in state]
        # engine state: one float slot + one pickled {mx: float}
        assert all(len(p) < 256 for p in raw)
        assert all(len(pickle.loads(p)) == 1 for p in raw)
        sizes[tag] = max(len(p) for p in raw)
    assert sizes["node_long"] <= sizes["node_short"] + 8


@pytest.mark.slow
def test_run_node_stream_alarm_cap_is_per_wake(spark, tmp_path,
                                               monkeypatch):
    """The _MAX_ALARM_CYCLES runaway guard scopes to ONE wake (as one
    batch replay), not the key's lifetime: with the cap patched to 2,
    a repeating alarm still fires in EVERY wake (2 per wake here, 4
    total) — a cumulative cap would stop at 2 forever while the
    timeout kept re-arming."""
    import uuid as _uuid

    import csp_spark.core.noderun as noderun
    from csp_spark.plans.runtime import _run_info_stack
    from csp_spark.streaming import file_ticks, run_node_stream

    monkeypatch.setattr(noderun, "_MAX_ALARM_CYCLES", 2)

    def node(cycle):
        if cycle.ticked("alarm"):
            cycle.schedule_alarm(dt.timedelta(seconds=2), 1.0)
            return 1.0
        if not cycle.state.get("armed"):
            cycle.state["armed"] = True
            cycle.schedule_alarm(dt.timedelta(seconds=2), 1.0)
        return None

    land = tmp_path / "cap_in"
    land.mkdir()
    batches = [
        [("s", START, 0, 0.0)],                               # arm @2
        [("zf", START + dt.timedelta(seconds=6), 0, 0.0)],    # wm -> 0
        [("zf", START + dt.timedelta(seconds=11), 0, 0.0)],   # wm -> 6
        [("zf", START + dt.timedelta(seconds=30), 0, 0.0)],   # wm -> 11
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(str(land / f"b{i}"))
    stream = file_ticks(
        spark, str(land / "*"), SCHEMA, ts_col="ts", value_col="value",
        key_col="key", max_files_per_trigger=1,
    )
    out = run_node_stream(node, {"x": stream}, alarms=True)
    name = f"cap_sink_{_uuid.uuid4().hex[:8]}"
    _run_info_stack.append({"start": None, "end": None, "realtime": True})
    try:
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        _run_info_stack.pop()
    fired = [r for r in spark.table(name).collect()
             if r["key"] == "s" and r["value"] == 1.0]
    # chain 2,4,6,8,... clipped by the final watermark (30s) would be
    # 14 uncapped; the per-wake cap of 2 yields 2 per waking batch —
    # strictly MORE than 2 proves the cap is not cumulative
    assert len(fired) > 2, [r["ts"] for r in fired]
    # and each wake really was bounded: fired times advance 2-by-2
    # per drain (2 fired before each watermark barrier)
    assert len(fired) % 2 == 0


@pytest.mark.slow
def test_run_node_stream_watermark_applies_without_alarms(spark,
                                                          tmp_path):
    """The watermark= parameter reaches the plan on the alarms=False
    path too (review finding: it used to be silently ignored)."""
    from csp_spark.streaming import file_ticks, run_node_stream

    d = tmp_path / "wm_in"
    d.mkdir()
    spark.createDataFrame([("s", START, 0, 1.0)], SCHEMA).coalesce(
        1).write.parquet(str(d / "b0"))
    stream = file_ticks(spark, str(d / "*"), SCHEMA, ts_col="ts",
                        value_col="value", key_col="key")
    out = run_node_stream(lambda c: c["x"], {"x": stream},
                          watermark=dt.timedelta(seconds=7))
    plan = out._jdf.queryExecution().logical().toString()
    assert "7 seconds" in plan and "EventTimeWatermark" in plan
    # and the default stays watermark-free (historic behavior)
    out0 = run_node_stream(lambda c: c["x"], {"x": stream})
    assert "EventTimeWatermark" not in out0._jdf.queryExecution(
        ).logical().toString()


@pytest.mark.slow
def test_alarm_handover_replay_to_live(spark, tmp_path):
    """Pending alarms CROSS the replay->live handover:
    run_node_with_states(keep_alarms=True) keeps alarms scheduled past
    the replay end in the state blob, and run_node_stream(alarms=True,
    initial_states=...) fires them live at their scheduled times —
    including CANCELLING a replay-scheduled handle from a live cycle
    (handle identity survives batch pickle -> seed deepcopy -> state
    store pickles). Replay ∪ live output equals ONE batch run over
    history ∪ live, seqs included."""
    import uuid as _uuid

    from csp_spark import TickStream
    from csp_spark.core.noderun import run_node, run_node_with_states
    from csp_spark.plans.runtime import _run_info_stack
    from csp_spark.streaming import file_ticks, run_node_stream

    def node(cycle):
        if cycle.ticked("alarm"):
            # repeating alarm reschedules itself every 4s
            cycle.state["rep"] = cycle.schedule_alarm(
                dt.timedelta(seconds=4), 1.0)
            return 500.0 + cycle.alarm
        if not cycle.state.get("armed"):
            cycle.state["armed"] = True
            cycle.state["rep"] = cycle.schedule_alarm(
                dt.timedelta(seconds=4), 1.0)
            cycle.state["shot"] = cycle.schedule_alarm(
                dt.timedelta(seconds=25), 2.0)
            return cycle["x"]
        h = cycle.state.pop("shot", None)
        if h is not None:
            cycle.cancel_alarm(h)  # live cancel of a REPLAY handle
        return cycle["x"]

    hist = [("s", START, 0, 1.0)]
    live1 = [("s", START + dt.timedelta(seconds=10), 0, 2.0)]
    live2 = [("zf", START + dt.timedelta(seconds=20), 0, 9.0)]
    live3 = [("zf", START + dt.timedelta(seconds=40), 0, 8.0)]

    # --- replay half: [0s, 6s] — rep fires at 4s, reschedules 8s
    # (pending), the 25s one-shot pending; both cross in the blob
    replay_out, states = run_node_with_states(
        node, {"x": TickStream(spark.createDataFrame(hist, SCHEMA))},
        end=START + dt.timedelta(seconds=6), keep_alarms=True,
    )
    replay_rows = [(r["key"], r["ts"], r["seq"], r["value"])
                   for r in replay_out.df.collect()]
    assert any(v == 501.0 for *_, v in replay_rows)  # rep fired at 4s

    # --- live half over microbatch drops, seeded with the blobs
    land = tmp_path / "ho_in"
    land.mkdir()
    for i, rows in enumerate([live1, live2, live3]):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(str(land / f"b{i}"))
    stream = file_ticks(
        spark, str(land / "*"), SCHEMA, ts_col="ts", value_col="value",
        key_col="key", max_files_per_trigger=1,
    )
    out = run_node_stream(node, {"x": stream}, alarms=True,
                          initial_states=states)
    name = f"ho_sink_{_uuid.uuid4().hex[:8]}"
    _run_info_stack.append({"start": None, "end": None, "realtime": True})
    try:
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        _run_info_stack.pop()
    live_rows = [(r["key"], r["ts"], r["seq"], r["value"])
                 for r in spark.table(name).collect()]

    got = sorted(replay_rows + live_rows)

    # --- oracle: ONE batch run over history ∪ live, end = final
    # watermark (the last flush's ts — availableNow's trailing batch)
    ref_ts = run_node(
        node,
        {"x": TickStream(
            spark.createDataFrame(hist + live1 + live2 + live3, SCHEMA))},
        end=START + dt.timedelta(seconds=40),
    )
    ref = sorted((r["key"], r["ts"], r["seq"], r["value"])
                 for r in ref_ts.df.collect())
    assert got == ref
    # the replay-scheduled one-shot was cancelled LIVE: 502 never fired
    assert not any(v == 502.0 for *_, v in got)
    # the pending repeating alarm really fired live (8s, 12s, ...)
    assert any(v == 501.0 and ts > START + dt.timedelta(seconds=6)
               for _, ts, _, v in live_rows)

    # misuse guard: alarm blobs into the no-alarm runner raise loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="alarms=True"):
        run_node_stream(node, {"x": stream}, initial_states=states)


@pytest.mark.slow
def test_alarm_handover_idle_key_fires(spark, tmp_path):
    """A seeded key with pending alarms but NO live input at all: the
    synthetic seed row materializes its state in trigger 1, so the
    advancing watermark alone fires the replay-armed alarm at exactly
    its scheduled time (this scenario found the state-store
    materialization hole during verification)."""
    import uuid as _uuid

    from csp_spark import TickStream
    from csp_spark.core.noderun import run_node_with_states
    from csp_spark.plans.runtime import _run_info_stack
    from csp_spark.streaming import file_ticks, run_node_stream

    def node(cycle):
        if cycle.ticked("alarm"):
            return 300.0
        if not cycle.state.get("armed"):
            cycle.state["armed"] = True
            cycle.schedule_alarm(dt.timedelta(seconds=7), 3.0)
        return cycle["x"]

    hist = [("q", START, 0, 1.0)]
    _, states = run_node_with_states(
        node, {"x": TickStream(spark.createDataFrame(hist, SCHEMA))},
        end=START + dt.timedelta(seconds=5), keep_alarms=True)

    land = tmp_path / "idle_in"
    land.mkdir()
    # only watermark-flush traffic on OTHER keys
    for i, sec in enumerate([12, 30]):
        spark.createDataFrame(
            [("zz", START + dt.timedelta(seconds=sec), 0, 0.0)], SCHEMA
        ).coalesce(1).write.parquet(str(land / f"b{i}"))
    stream = file_ticks(
        spark, str(land / "*"), SCHEMA, ts_col="ts", value_col="value",
        key_col="key", max_files_per_trigger=1,
    )
    out = run_node_stream(node, {"x": stream}, alarms=True,
                          initial_states=states)
    name = f"idle_sink_{_uuid.uuid4().hex[:8]}"
    _run_info_stack.append({"start": None, "end": None, "realtime": True})
    try:
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        _run_info_stack.pop()
    got = [(r["ts"], r["value"]) for r in spark.table(name).collect()
           if r["key"] == "q"]
    assert got == [(START + dt.timedelta(seconds=7), 300.0)]


@pytest.mark.slow
def test_alarm_handover_review_fixes(spark, tmp_path):
    """Second-review regressions on the handover: (1) the replay's
    LAST INPUT VALUES cross — an alarm firing live before any live
    tick still reads cycle['x']; (2) keep_alarms without end= raises
    (the trailing drain would fire everything, leaving nothing to hand
    over); (3) a user state that happens to be a (dict, list, int,
    int) tuple is NOT misread as a handoff blob (typed AlarmHandoff,
    not shape-sniffing); (4) run_hybrid_node(alarms=True, end=) plumbs
    the whole handover through the high-level entry point."""
    import uuid as _uuid

    import pytest as _pytest

    from csp_spark import TickStream
    from csp_spark.core.noderun import run_node, run_node_with_states
    from csp_spark.plans.runtime import _run_info_stack
    from csp_spark.streaming import (
        file_ticks, run_hybrid_node, run_node_stream,
    )

    def node(cycle):
        if cycle.ticked("alarm"):
            # the alarm READS the input's last value (finding 1)
            return (cycle["x"] or 0.0) * 100.0
        if not cycle.state.get("armed"):
            cycle.state["armed"] = True
            cycle.schedule_alarm(dt.timedelta(seconds=7), 1.0)
        return cycle["x"]

    hist = [("q", START, 0, 3.0)]
    flush = [[("zz", START + dt.timedelta(seconds=12), 0, 0.0)],
             [("zz", START + dt.timedelta(seconds=30), 0, 0.0)]]
    land = tmp_path / "rf_in"
    land.mkdir()
    for i, rows in enumerate(flush):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
            str(land / f"b{i}"))

    # (2) keep_alarms demands the boundary
    with _pytest.raises(ValueError, match="end="):
        run_node_with_states(
            node, {"x": TickStream(spark.createDataFrame(hist, SCHEMA))},
            keep_alarms=True)

    # (1)+(4): via run_hybrid_node — alarm fires live at 7s reading
    # the REPLAY's last x (3.0) -> 300.0
    stream = file_ticks(
        spark, str(land / "*"), SCHEMA, ts_col="ts", value_col="value",
        key_col="key", max_files_per_trigger=1,
    )
    replay_df, live = run_hybrid_node(
        node, spark.createDataFrame(hist, SCHEMA), stream,
        alarms=True, end=START + dt.timedelta(seconds=5),
    )
    assert [(r["ts"], r["value"]) for r in replay_df.collect()] == [
        (START, 3.0)]
    name = f"rf_sink_{_uuid.uuid4().hex[:8]}"
    _run_info_stack.append({"start": None, "end": None, "realtime": True})
    try:
        q = (live.writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        _run_info_stack.pop()
    got = [(r["ts"], r["value"]) for r in spark.table(name).collect()
           if r["key"] == "q"]
    assert got == [(START + dt.timedelta(seconds=7), 300.0)]

    # (3) a tuple-shaped USER state seed stays a user state
    def echo_state(cycle):
        d, lst, a, b = cycle.state["acc"]  # intact 4-tuple
        return float(a + b + len(lst) + len(d))

    out = run_node_stream(
        echo_state, {"x": stream}, alarms=True,
        initial_states={"zz": {"acc": ({"k": 1}, [1, 2], 3, 4)}},
    )
    name2 = f"rf2_sink_{_uuid.uuid4().hex[:8]}"
    _run_info_stack.append({"start": None, "end": None, "realtime": True})
    try:
        q = (out.writeStream.format("memory").queryName(name2)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        _run_info_stack.pop()
    vals = {r["value"] for r in spark.table(name2).collect()}
    assert vals == {10.0}  # 3+4+2+1 — the tuple arrived untouched


@pytest.mark.slow
def test_run_node_stream_state_factory(spark, tmp_path):
    """Batch parity (run_node accepts a zero-arg state FACTORY): the
    streaming runner now does too — fresh state per key, both with and
    without alarms."""
    from csp_spark import TickStream, run_node
    from csp_spark.streaming import file_ticks, run_node_stream

    rows = [("a", START, 0, 1.0), ("b", START + dt.timedelta(seconds=1), 0, 5.0),
            ("a", START + dt.timedelta(seconds=2), 0, 2.0)]
    d = tmp_path / "fac_in"
    d.mkdir()
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
        str(d / "b0"))
    stream = file_ticks(spark, str(d / "*"), SCHEMA, ts_col="ts",
                        value_col="value", key_col="key")

    def factory():
        return {"acc": [10.0]}  # mutable seed: must NOT share across keys

    def node(cycle):
        cycle.state["acc"].append(cycle["x"])
        return float(sum(cycle.state["acc"]))

    got = sorted(
        (r["key"], r["ts"], r["value"])
        for r in collect_stream(
            run_node_stream(node, {"x": stream}, state=factory)).collect()
    )
    ref = sorted(
        (r["key"], r["ts"], r["value"])
        for r in run_node(
            node, {"x": TickStream(spark.createDataFrame(rows, SCHEMA))},
            state=factory).df.collect()
    )
    assert got == ref
    assert ("a", START + dt.timedelta(seconds=2), 13.0) in got
    assert ("b", START + dt.timedelta(seconds=1), 15.0) in got


@pytest.mark.slow
def test_run_node_stream_alarms_survive_checkpoint_restart(spark,
                                                           tmp_path):
    """Deployment realism: a streaming alarm query stopped after some
    microbatches and RESTARTED from its checkpoint (new query
    instance, fresh fold closures) continues exactly — the pickled
    user state + alarm heap reload from the state store and the
    re-armed event-time timeout still fires pending alarms. Combined
    output across the restart equals one batch replay."""
    from csp_spark import TickStream
    from csp_spark.core.noderun import run_node
    from csp_spark.plans.runtime import _run_info_stack
    from csp_spark.streaming import file_ticks, run_node_stream

    def node(cycle):
        if cycle.ticked("alarm"):
            # repeating alarm: reschedule +4s
            cycle.schedule_alarm(dt.timedelta(seconds=4), 1.0)
            return 700.0
        if not cycle.state.get("armed"):
            cycle.state["armed"] = True
            cycle.schedule_alarm(dt.timedelta(seconds=4), 1.0)
        return cycle["x"]

    rows = [("s", START, 0, 1.0),
            ("s", START + dt.timedelta(seconds=2), 0, 2.0)]
    flush1 = [("zf", START + dt.timedelta(seconds=10), 0, 0.0)]
    flush2 = [("zf", START + dt.timedelta(seconds=21), 0, 0.0)]
    flush3 = [("zf", START + dt.timedelta(seconds=40), 0, 0.0)]
    land = tmp_path / "ckpt_in"
    land.mkdir()
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "ckpt_out")

    def drop(i, chunk):
        spark.createDataFrame(chunk, SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(str(land / f"b{i}"))

    def run_once():
        # parquet sink: the memory sink cannot recover from a
        # checkpoint — a file sink is the real deployment shape anyway
        stream = file_ticks(
            spark, str(land / "*"), SCHEMA, ts_col="ts",
            value_col="value", key_col="key", max_files_per_trigger=1,
        )
        out = run_node_stream(node, {"x": stream}, alarms=True)
        _run_info_stack.append(
            {"start": None, "end": None, "realtime": True})
        try:
            q = (out.writeStream.format("parquet").option("path", sink)
                 .option("checkpointLocation", ckpt)
                 .outputMode("append").trigger(availableNow=True).start())
            q.awaitTermination()
        finally:
            _run_info_stack.pop()

    # session 1: data + one flush (watermark 10s: alarms 4s, 8s fire)
    drop(0, rows)
    drop(1, flush1)
    run_once()
    first = spark.read.parquet(sink).collect()
    assert sum(1 for r in first if r["value"] == 700.0) >= 1

    # session 2: NEW query instance from the SAME checkpoint; more
    # flushes advance the watermark — the heap reloaded from the state
    # store keeps firing the chain (12s, 16s, 20s ... 40s)
    drop(2, flush2)
    drop(3, flush3)
    run_once()
    got = sorted(
        (r["key"], r["ts"], r["seq"], r["value"])
        for r in spark.read.parquet(sink).collect() if r["key"] == "s"
    )
    ref = sorted(
        (r["key"], r["ts"], r["seq"], r["value"])
        for r in run_node(
            node,
            {"x": TickStream(spark.createDataFrame(
                rows + flush1 + flush2 + flush3, SCHEMA))},
            end=START + dt.timedelta(seconds=40),
        ).df.collect() if r["key"] == "s"
    )
    assert got == ref
    # alarms really fired on BOTH sides of the restart
    fired_ts = [ts for _, ts, _, v in got if v == 700.0]
    assert any(ts <= START + dt.timedelta(seconds=10) for ts in fired_ts)
    assert any(ts > START + dt.timedelta(seconds=21) for ts in fired_ts)
