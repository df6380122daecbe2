"""What every workload shares: the private run directory and Spark session,
the operation counter, the span recorder, the progress listener, the
memory sampler and the JVM readings.

Each piece observes the program from outside: Spark's own progress
records, the process table, JVM management beans and timed calls into the
package's public functions.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import threading
import time
import traceback
from contextlib import contextmanager
from datetime import datetime

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "stateful_spark_streaming_spark"
DRIVER_MEM = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Ops:
    """Counts attempted and failed operations (stream starts, triggers,
    reads, queries, the drain, stops and correctness checks).  A failure is recorded with its cause
    and the run goes on; ``failed`` and ``attempted`` go into the result."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._lock = threading.Lock()

    def record(self, kind: str, ok: bool, detail: str = "") -> bool:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.errors.append(f"{kind}: {detail}"[:2000])
        return ok

    def call(self, kind: str, fn, *args, **kwargs):
        """Run one operation; returns (ok, value-or-None)."""
        try:
            value = fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 — every failure is counted, not raised
            self.record(kind, False, traceback.format_exc(limit=3))
            return False, None
        self.record(kind, True)
        return True, value

    def check(self, kind: str, problems: list[str]) -> bool:
        """A correctness check: ok when ``problems`` is empty."""
        return self.record(kind, not problems, "; ".join(problems[:5]))


class Tracer:
    """Spans kept in memory and written as JSON lines at the end.  Each
    span has a name, start and end (wall seconds), its parent span id and
    the run's trace id.  Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool, trace_id: str):
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        with self._lock:
            sid = len(self.spans) + 1
            if parent is None and self._stack():
                parent = self._stack()[-1]
            self.spans.append({
                "trace_id": self.trace_id, "span_id": sid, "parent": parent,
                "name": name, "start": start, "end": end, **attrs,
            })
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        start = time.time()
        sid = self.add(name, start, start, **attrs)
        self._stack().append(sid)
        try:
            yield sid
        finally:
            self._stack().pop()
            self.spans[sid - 1]["end"] = time.time()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, separators=(",", ":")) + "\n")


PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


def commit_time(progress: dict) -> float:
    """Wall time at which a micro-batch committed: trigger start plus the
    trigger's whole execution (which ends with the commit-log write)."""
    start = datetime.strptime(progress["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    epoch = (start - datetime(1970, 1, 1)).total_seconds()
    return epoch + progress["durationMs"]["triggerExecution"] / 1000.0


def trigger_spans(tracer: Tracer, progress: list[dict]) -> None:
    """One span per trigger, built from its progress record, with the
    trigger phases as child spans laid end to end in engine order and the
    state counters attached."""
    if not tracer.enabled:
        return
    for p in progress:
        end = commit_time(p)
        start = end - p["durationMs"]["triggerExecution"] / 1000.0
        ops = p.get("stateOperators") or [{}]
        sid = tracer.add(
            "trigger", start, end, batch_id=p["batchId"],
            query_id=p["id"], input_rows=p["numInputRows"],
            state={k: v for k, v in ops[0].items() if k != "customMetrics"},
            state_custom=ops[0].get("customMetrics", {}),
        )
        t = start
        for ph in PHASES:
            ms = p["durationMs"].get(ph, 0)
            tracer.add(f"trigger.{ph}", t, t + ms / 1000.0, parent=sid)
            t += ms / 1000.0


class ProgressLog:
    """Collects every StreamingQueryProgress the session emits, as parsed
    JSON, through a StreamingQueryListener — including the streams the
    catalog's replay queries start and stop internally."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with log._lock:
                    log.records.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.records: list[dict] = []
        self._lock = threading.Lock()
        self._spark = spark
        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def of(self, query_id: str | None = None, since: float = 0.0, until: float = float("inf")) -> list[dict]:
        """Records (optionally of one query id) whose trigger committed in
        [since, until], in commit order."""
        with self._lock:
            recs = list(self.records)
        out = [
            r for r in recs
            if (query_id is None or r["id"] == query_id) and since <= commit_time(r) <= until
        ]
        return sorted(out, key=commit_time)

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)


def proc_tree(root: int) -> list[int]:
    """``root`` and every descendant process, from /proc."""
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # raced a process exit
        children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_pss_mb(root: int) -> float:
    """Proportional set size of a process tree: resident memory with each
    shared page split among the processes sharing it, so a forked child
    (a Python worker, or a JVM child between fork and exec) is not counted
    twice."""
    total_kb = 0
    for pid in proc_tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                total_kb += next(int(line.split()[1]) for line in fh if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue  # raced a process exit
    return total_kb / 1024


class RssSampler:
    """Samples the resident memory (PSS) of this process and every
    descendant (driver JVM, Python workers) every ``interval`` seconds;
    ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(os.getpid()))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def jvm_stats(spark) -> tuple[float, float]:
    """(total GC milliseconds, peak heap MB summed over heap pools) from
    the driver JVM's management beans."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory  # noqa: SLF001
    gc_ms = sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans())
    heap = 0
    for pool in mf.getMemoryPoolMXBeans():
        if str(pool.getType().toString()) == "Heap memory":
            heap += pool.getPeakUsage().getUsed()
    return float(gc_ms), heap / (1 << 20)


def foreign_spark_jvms() -> list[int]:
    """PIDs of Spark JVMs already running before this run starts its own."""
    pids = []
    for cmdf in glob.glob("/proc/[0-9]*/cmdline"):
        try:
            with open(cmdf, "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode("utf-8", "replace")
        except OSError:
            continue
        if "java" in cmd and ("org.apache.spark" in cmd or "pyspark" in cmd):
            pids.append(int(cmdf.split("/")[2]))
    return pids


def versions() -> dict:
    import duckdb
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "python": sys.version.split()[0], "pyspark": pyspark.__version__,
        "pandas": pandas.__version__, "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__, "duckdb": duckdb.__version__,
    }


class RunDir:
    """A private directory under the checkout for one run: TMPDIR,
    Spark's local dirs and every checkpoint live under it, and it is
    deleted when the run ends."""

    def __init__(self, workload: str):
        self.path = os.path.join(ROOT, ".perfbench", f"run-{workload}-{os.getpid()}")
        self.tmp = os.path.join(self.path, "tmp")
        os.makedirs(self.tmp, exist_ok=True)

    def sub(self, name: str) -> str:
        return os.path.join(self.path, name)

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def isolate_env(run_dir: RunDir, cpus: int) -> None:
    """Environment for the session and every process it starts: the
    package importable by Python workers, temp files in the run dir, and
    the session sized to this box's cores rather than the default 32."""
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["TMPDIR"] = run_dir.tmp
    os.environ["SPARK_LOCAL_DIRS"] = run_dir.tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = run_dir.tmp


def start_session(run_dir: RunDir, app: str, streaming: bool):
    from stateful_spark_streaming_spark.session import get_spark

    spark = get_spark(
        app,
        streaming=streaming,
        extra_conf={
            "spark.local.dir": run_dir.tmp,
            # a pre-touched fixed heap keeps the heap's share of resident
            # memory constant, so peak RSS moves with off-heap and worker
            # memory instead of with when the collector grew the heap
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={run_dir.tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop the session, then end its JVM and wait until every process
    this run started has exited: the next run must not share the box with
    a JVM or Python worker still shutting down."""
    from pyspark import SparkContext

    spark.stop()
    started = proc_tree(os.getpid())[1:]  # JVM, worker daemon, workers
    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout)
            except Exception:  # noqa: BLE001 — the kill below ends it
                pass
        SparkContext._gateway = SparkContext._jvm = None  # noqa: SLF001
    deadline = time.time() + timeout
    while any(_alive(p) for p in started) and time.time() < deadline:
        time.sleep(0.1)
    for pid in started:
        if _alive(pid):
            os.kill(pid, 9)


def dir_stats(path: str, pattern: str = "*.parquet") -> tuple[int, int]:
    """(file count, total bytes) of files matching ``pattern`` under path."""
    n = size = 0
    for f in glob.glob(os.path.join(path, "**", pattern), recursive=True):
        n += 1
        size += os.path.getsize(f)
    return n, size
