"""``pipeline.replay`` runs every availableNow runner in a private clone of
the caller's session: its conf pins never reach the caller, concurrent
replays on one session do not see each other's pins, the caller's
streaming listeners still see every replay, and a hung replay is stopped
and reported."""

from __future__ import annotations

import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from stateful_spark_streaming_spark.streaming.pipeline import (
    _NO_DATA_CONF,
    _SHUFFLE_CONF,
    replay,
    run_streaming_dedup,
    run_streaming_tumbling_counts,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_concurrent_replays_keep_their_pins_to_themselves(spark, sf_dir, tmp_path, progress):
    """Two replays with different state-partition pins, run concurrently
    on one session: (a) each gives the rows of its serial run; (b) the
    caller's shuffle-partition and no-data confs never change while the
    serial and the concurrent runs go; (c) the caller's listener sees
    each replay's own pin in its progress records."""
    events = os.path.join(sf_dir, "events.parquet")

    def tumbling(tag):
        return _rows(run_streaming_tumbling_counts(
            spark, events, checkpoint_dir=str(tmp_path / f"win_{tag}"),
            state_partitions=3,
        ))

    def dedup(tag):
        return _rows(run_streaming_dedup(
            spark, events, checkpoint_dir=str(tmp_path / f"dedup_{tag}"),
            state_partitions=5,
        ))

    caller = (spark.conf.get(_SHUFFLE_CONF), spark.conf.get(_NO_DATA_CONF))
    seen = set()
    done = threading.Event()

    def poll():
        while not done.is_set():
            seen.add((spark.conf.get(_SHUFFLE_CONF), spark.conf.get(_NO_DATA_CONF)))
            time.sleep(0.01)

    poller = threading.Thread(target=poll)
    poller.start()
    try:
        want = (tumbling("serial"), dedup("serial"))
        with ThreadPoolExecutor(max_workers=2) as pool:
            got_win = pool.submit(tumbling, "concurrent")
            got_dedup = pool.submit(dedup, "concurrent")
            got = (got_win.result(), got_dedup.result())
    finally:
        done.set()
        poller.join()

    assert want[0] and want[1]
    assert got == want
    assert seen == {caller}, f"caller saw {seen}, expected only {caller}"
    # the tumbling replay writes through foreachBatch, the dedup replay
    # into a parquet file sink
    progress.wait_terminated(4)
    pins = {}
    for d in progress.progress:
        kind = "dedup" if d["sink"]["description"].startswith("FileSink") else "tumbling"
        for op in d["stateOperators"]:
            pins.setdefault(kind, set()).add(op["numShufflePartitions"])
    assert pins == {"tumbling": {3}, "dedup": {5}}


def test_hung_replay_is_stopped_and_reported(spark, tmp_path, progress):
    """A replay still running after ``timeout_s`` is stopped and raises a
    TimeoutError naming the timeout; the caller's listener receives the
    query's terminated event."""
    src = str(tmp_path / "src")
    spark.range(3).write.parquet(src)

    def slow(bdf, batch_id):
        time.sleep(5)

    with pytest.raises(TimeoutError, match="timeout_s=2"):
        replay(
            spark,
            lambda s: s.readStream.schema("id long").parquet(src)
            .writeStream.foreachBatch(slow),
            str(tmp_path / "ck"),
            timeout_s=2,
        )
    progress.wait_terminated(1)
    assert len(progress.started) == 1
    assert progress.terminated == progress.started
