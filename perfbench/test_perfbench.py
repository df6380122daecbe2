"""Self-tests for the benchmark's own code; they take seconds:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import feed  # noqa: E402
import harness  # noqa: E402
import layers  # noqa: E402


def test_feed_is_deterministic_per_seed():
    a, b = feed.live_feed(7, 20, 5), feed.live_feed(7, 20, 5)
    assert feed.feed_digest(a) == feed.feed_digest(b)
    assert [e.due for e in a] == [e.due for e in b]
    assert feed.feed_digest(feed.live_feed(8, 20, 5)) != feed.feed_digest(a)


def test_feed_has_resends_and_late_reports_in_send_order():
    evs = feed.live_feed(1, 200, 10)
    kinds = {k: sum(e.kind == k for e in evs) for k in ("new", "dup", "late")}
    reports = kinds["new"] + kinds["late"]
    assert reports == 200 * 10
    assert 0.03 < kinds["dup"] / reports < 0.07
    assert 0.01 < kinds["late"] / reports < 0.03
    assert [e.due for e in evs] == sorted(e.due for e in evs)


def test_model_dedups_caps_and_takes_latest():
    ln = feed.Fleet(random.Random(0), 1).line
    lines = [ln(0, t) for t in range(12)] + [ln(0, 3), ln(0, 11)]  # resends
    lines = lines[:5] + lines[6:] + [ln(0, 5)]  # tick 5 arrives last
    (count, latest, oldest, *vals), = feed.track_model(lines).values()
    assert count == 10
    assert latest == (feed.EPOCH0_S + 11) * 1000
    assert oldest == (feed.EPOCH0_S + 2) * 1000
    assert tuple(vals) == feed.parse_line(ln(0, 11))[2:]


def test_batch_row_latencies_on_synthetic_timeline():
    E = feed.Event
    events = [
        E(0.10, "A", 0, "new", "a0"), E(0.20, "B", 0, "new", "b0"),
        E(0.90, "A", 0, "dup", "a0"), E(1.10, "A", 1, "new", "a1"),
        E(1.20, "B", 1, "new", "b1"),
    ]
    t0 = 1000.0
    # batch 1: lines 0-2 commit at t0+2; batch 2: lines 3-4 commit at t0+3.5
    got = feed.batch_row_latencies(events, t0, [(0, 3, t0 + 2.0), (3, 5, t0 + 3.5)])
    # one row per (flight, batch), timed from that flight's newest-sent line
    assert sorted(round(x, 6) for x in got) == [1100.0, 1800.0, 2300.0, 2400.0]


def test_pct_matches_statistics_quantiles():
    vals = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert feed.pct(vals, 50) == 3.0
    assert feed.pct([2.0], 90) == 2.0
    assert 4.5 < feed.pct(vals, 90) <= 5.0


def test_forced_failure_counts_in_failed_ops():
    ops = harness.Ops()
    ok, _ = ops.call("read", lambda: 1)
    bad, value = ops.call("read", lambda: 1 / 0)
    ops.check("snapshot_vs_model", ["F00001: differs"])
    assert ok and not bad and value is None
    assert (ops.attempted, ops.failed) == (3, 2)
    assert ops.errors[0].startswith("read:") and "ZeroDivisionError" in ops.errors[0]
    assert ops.failed / ops.attempted == pytest.approx(2 / 3)


def test_tracer_parents_and_disabled_cost():
    tr = harness.Tracer(True, "t")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner["parent"] == outer["span_id"] and outer["parent"] is None
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    off = harness.Tracer(False, "t")
    with off.span("x"):
        pass
    assert off.spans == []


def test_catalog_order_keeps_state_store_after_its_stream():
    import catalog

    for seed in range(20):
        order = catalog.query_order(seed)
        i = order.index("streaming_track_snapshot")
        assert order[i + 1] == "state_store_snapshot"
        assert len(order) == len(set(order)) == len(layers.CATALOG_BATCH) + len(layers.CATALOG_REPLAY)
    assert catalog.query_order(1) != catalog.query_order(2)


def test_benchmark_json_names_what_the_runner_prints():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in bench["per_layer"]] == list(layers.PER_LAYER)
    assert all(m["unit"] == layers.unit_of(m["name"]) for m in bench["per_layer"])


def test_model_agrees_with_batch_track_snapshot():
    """The Python model and ``operators.tracks.track_snapshot`` give the
    same snapshot on a small feed with resends and late reports."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from stateful_spark_streaming_spark.operators.tracks import track_snapshot
    from stateful_spark_streaming_spark.sources.flights import parse_flight_lines

    events = feed.live_feed(3, 6, 14, dup_share=0.3, late_share=0.2)
    assert {e.kind for e in events} == {"new", "dup", "late"}
    spark = (SparkSession.builder.master("local[2]").appName("perfbench-selftest")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.ui.enabled", "false").getOrCreate())
    try:
        lines = spark.createDataFrame([(i, e.line) for i, e in enumerate(events)], "arrival long, value string")
        parsed = parse_flight_lines(lines).withColumn("arrival", F.monotonically_increasing_id())
        cols = ["longitude", "latitude", "origin", "destination", "aircraft", "altitude"]
        snap = track_snapshot(parsed, "flightId", "ts", "arrival", cols)
        rows = [tuple(r) for r in snap.select(*feed.SNAPSHOT_COLUMNS).collect()]
    finally:
        spark.stop()
    assert feed.snapshot_mismatches(rows, feed.track_model(e.line for e in events)) == []
