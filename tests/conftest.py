from __future__ import annotations

import json
import threading
import time

import pytest
from pyspark.sql.streaming import StreamingQueryListener

from stateful_spark_streaming_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
        streaming=True,
        extra_conf={"spark.sql.streaming.checkpointLocation.deleteOnStop": "true"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


class ProgressRecorder(StreamingQueryListener):
    """Records what the session's streaming queries report — including
    the replays the runners start in cloned sessions, to which the
    session's listeners are forwarded: every progress record as parsed
    JSON, and the ids of started and terminated queries, in delivery
    order."""

    def __init__(self):
        self.progress: list[dict] = []
        self.started: list[str] = []
        self.terminated: list[str] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        with self._lock:
            self.started.append(str(event.id))

    def onQueryProgress(self, event):
        with self._lock:
            self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._lock:
            self.terminated.append(str(event.id))

    def wait_terminated(self, n: int, timeout: float = 60.0) -> None:
        """Block until ``n`` queries have reported termination.  Delivery
        is asynchronous; a query's terminated event arrives after all of
        its progress events."""
        deadline = time.monotonic() + timeout
        while len(self.terminated) < n:
            assert time.monotonic() < deadline, (
                f"{len(self.terminated)} of {n} terminated events arrived"
            )
            time.sleep(0.05)


@pytest.fixture
def progress(spark):
    """A ProgressRecorder registered on the test session for one test."""
    rec = ProgressRecorder()
    spark.streams.addListener(rec)
    yield rec
    spark.streams.removeListener(rec)


def ref_interleave(a: int, b: int, bits: int = 10) -> int:
    """Reference Morton interleave (bit b of `a` at position 2b, of `b` at
    2b+1) — the ONE spec both layout tests assert against."""
    out = 0
    for i in range(bits):
        out |= ((a >> i) & 1) << (2 * i)
        out |= ((b >> i) & 1) << (2 * i + 1)
    return out


def land_batches(spark, tmp_path, name, batches, cols):
    """Stage one parquet file per intended micro-batch under
    tmp_path/name, mtimes spread so FileStreamSource replays them in
    order (ties on the mtime tick make replay order nondeterministic —
    see test_streaming_join_sessions).  THE shared batch-landing helper:
    new streaming-twin tests should use this instead of re-inlining the
    write-segment/copy/utime idiom."""
    import glob
    import os
    import shutil

    src = str(tmp_path / name)
    os.makedirs(src, exist_ok=True)
    base = os.stat(src).st_mtime
    for i, rows in enumerate(batches):
        seg = str(tmp_path / f"{name}_seg{i}")
        spark.createDataFrame(rows, list(cols)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(seg)
        f = glob.glob(os.path.join(seg, "part-*.parquet"))[0]
        dst = os.path.join(src, f"{i:03d}.parquet")
        shutil.copy(f, dst)
        os.utime(dst, (base + i * 10, base + i * 10))
    return src
