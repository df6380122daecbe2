"""Per-layer metric names and how the streaming ones are read from Spark's
progress records.

Every run reports every name; a layer that does no work in a workload
reports 0 there.  README.md maps each one to the end-to-end metric it
should move.
"""

from __future__ import annotations

import statistics

import feed
import harness

#: catalog subset: (query, operator family); replay queries are "pipeline"
CATALOG_BATCH = (
    ("track_snapshot", "tracks"),
    ("market_share", "relational"),
    ("dedup_minhash_lsh", "dedup"),
    ("embedding_dup_clusters", "similarity"),
    ("bigram_logprob", "text"),
)
CATALOG_REPLAY = (
    "streaming_track_snapshot",
    "state_store_snapshot",
    "streaming_merge_upsert",
)
FAMILIES = ("tracks", "relational", "dedup", "similarity", "text")

STREAM_METRICS = (
    "track_state.update_ms", "track_state.rows_per_updated_key", "track_state.duplicate_share",
    "state_store.commit_ms", "state_store.fsync_ms", "state_store.upload_ms",
    "state_store.rows_total", "state_store.memory_bytes", "state_store.sst_bytes",
    "state_store.partitions", "state_store.load_ms",
    "trigger.count", "trigger.p50_ms", "trigger.p90_ms",
    *(f"trigger.{ph}_ms" for ph in harness.PHASES),
    "sources.rows_per_trigger", "sources.backlog_rows", "sources.generator_late_ms",
    "pipeline.sink_log_files", "pipeline.sink_log_bytes",
)
CATALOG_METRICS = (
    *(f"queries_catalog.{q}.{part}_s"
      for q in [q for q, _ in CATALOG_BATCH] + list(CATALOG_REPLAY)
      for part in ("build", "execute")),
    *(f"operators.{f}_s" for f in FAMILIES),
)
JVM_METRICS = ("jvm.gc_ms", "jvm.heap_peak_mb")
PER_LAYER = STREAM_METRICS + CATALOG_METRICS + JVM_METRICS

UNITS = {
    "_ms": "ms", "_s": "s", "_bytes": "bytes", "_mb": "MB", "_share": "ratio",
    ".rows_per_updated_key": "rows/key", ".rows_per_trigger": "rows",
    ".backlog_rows": "rows", ".rows_total": "rows", ".partitions": "count",
    ".count": "count", ".sink_log_files": "count",
}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    raise KeyError(name)


def _med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _custom(p: dict, key: str) -> float:
    ops = p.get("stateOperators") or [{}]
    return float(ops[0].get("customMetrics", {}).get(key, 0))


def _state(p: dict, key: str) -> float:
    ops = p.get("stateOperators") or [{}]
    return float(ops[0].get(key, 0))


def stream_layers(progress: list[dict], first: dict | None = None) -> dict:
    """Trigger, state-store and track-state metrics over the data triggers
    in ``progress`` (medians per trigger; sizes from the last one).
    ``first`` is the first data trigger of the (re)started query, whose
    state-load latencies give ``state_store.load_ms``."""
    out = {m: 0.0 for m in STREAM_METRICS}
    data = [p for p in progress if p["numInputRows"] > 0]
    if not data:
        return out
    durs = [p["durationMs"]["triggerExecution"] for p in data]
    out["trigger.count"] = float(len(data))
    out["trigger.p50_ms"] = _med(durs)
    out["trigger.p90_ms"] = feed.pct(durs, 90)
    for ph in harness.PHASES:
        out[f"trigger.{ph}_ms"] = _med(p["durationMs"].get(ph, 0) for p in data)
    out["track_state.update_ms"] = _med(_state(p, "allUpdatesTimeMs") for p in data)
    out["track_state.rows_per_updated_key"] = _med(
        p["numInputRows"] / max(1.0, _state(p, "numRowsUpdated")) for p in data)
    out["state_store.commit_ms"] = _med(_state(p, "commitTimeMs") for p in data)
    out["state_store.fsync_ms"] = _med(_custom(p, "rocksdbCommitFileSyncLatencyMs") for p in data)
    out["state_store.upload_ms"] = _med(_custom(p, "rocksdbSaveZipFilesLatencyMs") for p in data)
    last = data[-1]
    out["state_store.rows_total"] = _state(last, "numRowsTotal")
    out["state_store.memory_bytes"] = _state(last, "memoryUsedBytes")
    out["state_store.sst_bytes"] = _custom(last, "rocksdbSstFileSize")
    out["state_store.partitions"] = _state(last, "numShufflePartitions")
    if first is not None:
        out["state_store.load_ms"] = sum(
            _custom(first, k) for k in (
                "rocksdbLoadLatencyMs", "rocksdbLoadFromSnapshotLatencyMs",
                "rocksdbReplayChangeLogLatencyMs"))
    out["sources.rows_per_trigger"] = _med(p["numInputRows"] for p in data)
    return out

