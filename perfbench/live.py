"""live-tracks: the paper's pipeline as shipped, under an open-loop feed.

``flight_socket_pipeline(socket_flight_source(...))`` with the 1 s trigger,
the default ``ParquetSnapshotSink`` and RocksDB state.  A generator thread
serves one TCP connection: every flight reports once per simulated second,
sends staggered across the second, with seeded exact resends (T3 dedup)
and one-tick-late reports (out-of-order insertion).  One reader queries
the snapshot beside the stream after each commit.  The per-key Python fold
is the largest part of every trigger here, and reads contend with writes
on a merge-on-read log that grows.
"""

from __future__ import annotations

import socket
import threading
import time

import feed
import harness
from layers import stream_layers

N_FLIGHTS = 500
PREFILL_S = 4  # scheduled feed seconds before the measured window
READ_SQL = (
    "SELECT flightId, track_count, latest_ts_ms, latest_longitude, latest_latitude "
    "FROM Flights"
)
SNAPSHOT_SQL = "SELECT " + ", ".join(feed.SNAPSHOT_COLUMNS) + " FROM Flights"


class FeedServer:
    """Serves ``events`` on one TCP connection.  On connect it sends the
    first simulated second at once (the lines the cold first trigger
    takes), then waits for ``go()``; after that each line goes out at
    t0 + due, with t0 chosen so the schedule resumes at second 1.
    Records how late each scheduled send ran."""

    def __init__(self, events: list[feed.Event]):
        self.events = events
        self.t0: float | None = None
        self.max_late_ms = 0.0
        self.error: str | None = None
        self._sock = socket.socket()
        self._sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._sock.bind(("127.0.0.1", 0))
        self._sock.listen(1)
        self._sock.settimeout(120)
        self.port = self._sock.getsockname()[1]
        self.connected = threading.Event()
        self.finished = threading.Event()
        self._go = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._serve, name="feed-server", daemon=True)
        self._thread.start()

    def go(self) -> float:
        """Start the schedule; returns t0, the wall time of due == 0."""
        self.t0 = time.time() - 1.0
        self._go.set()
        return self.t0

    def _serve(self) -> None:
        try:
            conn, _ = self._sock.accept()
        except OSError as e:
            self.error = f"accept: {e}"
            self.connected.set()
            self.finished.set()
            return
        with conn:
            try:
                burst = [e for e in self.events if e.due < 1.0]
                conn.sendall("".join(e.line + "\n" for e in burst).encode())
                self.connected.set()
                self._go.wait()
                for e in self.events[len(burst):]:
                    if self._stop.is_set():
                        break
                    wait = self.t0 + e.due - time.time()
                    if wait > 0:
                        time.sleep(wait)
                    else:
                        self.max_late_ms = max(self.max_late_ms, -wait * 1000.0)
                    conn.sendall((e.line + "\n").encode())
            except OSError as e:
                self.error = f"send: {e}"
            self.finished.set()
            # keep the connection open until the stream is stopped: a
            # closed socket ends the source and fails the query
            self._stop.wait()

    def close(self) -> None:
        self._stop.set()
        self._go.set()
        self._sock.close()
        self._thread.join(timeout=10)


def _wait(pred, timeout: float, query=None, step: float = 0.1) -> bool:
    deadline = time.time() + timeout
    while time.time() < deadline:
        if query is not None and query.exception() is not None:
            raise RuntimeError(f"stream died: {query.exception()}")
        if pred():
            return True
        time.sleep(step)
    return False


def run(ctx) -> dict:
    from stateful_spark_streaming_spark.streaming.pipeline import (
        flight_socket_pipeline,
        socket_flight_source,
    )

    spark, ops, tr, seconds = ctx.spark, ctx.ops, ctx.tracer, ctx.seconds
    events = feed.live_feed(ctx.seed, N_FLIGHTS, 1 + PREFILL_S + seconds + 1)
    server = FeedServer(events)
    ckpt = ctx.run_dir.sub("live_ckpt")
    with tr.span("setup.stream_start"):
        ok, h = ops.call("start", flight_socket_pipeline, spark,
                         socket_flight_source(spark, "127.0.0.1", server.port),
                         checkpoint_dir=ckpt)
    if not ok:
        server.close()
        raise RuntimeError("live stream failed to start: " + ops.errors[-1])
    reads: list[tuple[float, float]] = []

    def read_until(deadline: float) -> None:
        # the reference runs its SQL once per micro-batch: the reader reads
        # after each new commit, or after the next one when a read outlasts
        # a trigger, so every read starts at the same point of a trigger
        seen = 0
        while time.time() < deadline:
            if h.query.exception() is not None:
                raise RuntimeError(f"stream died: {h.query.exception()}")
            committed = sum(p["numInputRows"] > 0 for p in ctx.progress.of(h.query.id))
            if committed == seen:
                time.sleep(0.01)
                continue
            seen = committed
            with tr.span("sink.query"):
                start = time.time()
                ok, _ = ops.call("read", lambda: h.sink.query(READ_SQL).collect())
                if ok:
                    reads.append((start, time.time()))

    try:
        if not server.connected.wait(120) or server.error:
            raise RuntimeError(f"feed connection failed: {server.error}")
        with tr.span("setup.first_trigger"):
            if not _wait(lambda: any(p["numInputRows"] > 0 for p in ctx.progress.of(h.query.id)),
                         120, h.query):
                raise RuntimeError("the first data trigger did not commit within 120 s")
        t0 = server.go()
        w0 = t0 + 1.0 + PREFILL_S
        w1 = w0 + seconds
        with tr.span("setup.prefill"):
            # a few triggers on the schedule, and the reader's cold first
            # reads, before the window opens
            read_until(w0)
        ctx.mark_setup_done()
        with tr.span("window"):
            read_until(w1)
        with tr.span("drain"):
            total = len(events)
            drained = _wait(
                lambda: server.finished.is_set() and _end_line(h.query.lastProgress) >= total,
                90, h.query, step=0.2,
            )
            ops.record("drain", drained, f"committed {_end_line(h.query.lastProgress)} of {total} lines")
        with tr.span("stop"):
            ops.call("stop", _stop_clean, h)
        with tr.span("check"):
            ok, rows = ops.call("final_read", lambda: h.sink.query(SNAPSHOT_SQL).collect())
            model = feed.track_model(e.line for e in events)
            ops.check("snapshot_vs_model",
                      feed.snapshot_mismatches(rows or [], model) if ok else ["no snapshot"])
    finally:
        if h.query.isActive:
            ops.call("stop", h.stop)
        server.close()

    progress = ctx.progress.of(h.query.id)
    trig = [p for p in progress if p["numInputRows"] > 0]
    batches = []  # (first line, end line exclusive, commit wall time)
    for p in trig:
        src = p["sources"][0]
        lo = int(src["startOffset"]) + 1 if src["startOffset"] is not None else 0
        batches.append((lo, int(src["endOffset"]) + 1, harness.commit_time(p)))
    in_window = [b for b in batches if w0 <= t0 + events[b[1] - 1].due < w1]
    harness.trigger_spans(ctx.tracer, trig)
    for b in batches:
        ops.record("trigger", True)

    lat = feed.batch_row_latencies(events, t0, in_window)
    lines_done = in_window[-1][1] - in_window[0][1] if len(in_window) > 1 else 0
    span_s = in_window[-1][2] - in_window[0][2] if len(in_window) > 1 else 0.0
    sustained = lines_done / span_s if span_s > 0 else 0.0
    read_ms = [(b - a) * 1000.0 for a, b in reads if w0 <= a < w1]
    win_progress = [p for p, b in zip(trig, batches) if b in in_window]
    dups = sum(1 for e in events if e.kind == "dup")
    layers = stream_layers(win_progress, first=trig[0] if trig else None)
    layers["track_state.duplicate_share"] = dups / len(events)
    layers["sources.generator_late_ms"] = server.max_late_ms
    layers["sources.backlog_rows"] = max(
        (_lines_due_by(events, t0, harness.commit_time(p)) - (int(p["sources"][0]["endOffset"]) + 1)
         for p in win_progress), default=0)
    n_log, log_bytes = harness.dir_stats(h.sink.log_dir)
    layers["pipeline.sink_log_files"] = n_log
    layers["pipeline.sink_log_bytes"] = log_bytes

    details = {
        "event_to_snapshot_p50_ms": feed.pct(lat, 50) if lat else None,
        "event_to_snapshot_p90_ms": feed.pct(lat, 90) if lat else None,
        "event_to_snapshot_samples": len(lat),
        "sustained_events_per_s": sustained,
        "snapshot_query_p50_ms": feed.pct(read_ms, 50) if read_ms else None,
        "snapshot_query_p75_ms": feed.pct(read_ms, 75) if read_ms else None,
        "snapshot_query_samples": len(read_ms),
        "batches_in_window": len(in_window),
        "lines_sent": len(events), "flights": N_FLIGHTS,
    }
    return {
        "latency": lat, "reads": read_ms, "throughput": sustained,
        "layers": layers, "details": details,
    }


def _stop_clean(h) -> None:
    """Stop the stream; an error the stream thread raised while stopping
    fails the stop."""
    h.stop()
    if h.query.exception() is not None:
        raise RuntimeError(f"stream failed on stop: {h.query.exception()}")


def _end_line(progress) -> int:
    """Lines committed so far (socket offsets are the last line's index)."""
    if not progress or not progress["sources"]:
        return 0
    end = progress["sources"][0]["endOffset"]
    return int(end) + 1 if end is not None else 0


def _lines_due_by(events: list[feed.Event], t0: float, wall: float) -> int:
    import bisect

    return bisect.bisect_right([e.due for e in events], wall - t0)
