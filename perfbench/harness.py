"""Shared plumbing for the benchmark workloads: paths, the Spark session,
in-memory span tracing, summary statistics and the result line.

Everything a run writes goes under ``<checkout>/.perfbench_work`` (git-ignored).
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import statistics
import sys
import threading
import time
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".perfbench_work")


def package_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "reactive_kinesis_spark", "__init__.py"))


def prepare_process_env() -> None:
    """Make the package and the benchmark importable in Spark's Python
    workers (they inherit the environment of the JVM this process starts)
    and keep every temporary file inside the checkout."""
    os.makedirs(WORK, exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(paths))
    os.environ["TMPDIR"] = tmp


def fresh_dir(*parts: str) -> str:
    path = os.path.join(WORK, *parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(master: str | None = None):
    """Start the package's session (``session.get_spark``) with a small
    driver heap and scratch space inside the checkout. Returns
    ``(spark, seconds)``; the time includes a first trivial job, so JVM
    and executor warm-up are paid here rather than by the first timed
    operation."""
    from reactive_kinesis_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=master or f"local[{cores()}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
            f" -Dderby.system.home={os.path.join(WORK, 'derby')}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(8).count()
    return spark, time.perf_counter() - t0


def stop_spark() -> None:
    """Stop the active session, if any, and the JVM behind it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None


# -- tracing ------------------------------------------------------------------


class Tracer:
    """In-memory spans ``(id, name, start, end, parent, attrs)`` recorded
    at layer boundaries, written as JSON lines by :meth:`flush`.

    A disabled tracer records nothing and costs one attribute check per
    span. Spark's Python workers hold their own tracer and flush to
    ``spans-<pid>.jsonl`` in the shared trace directory at the end of each
    top-level call; the driver process flushes once when the run ends."""

    def __init__(self, directory: str | None):
        self.directory = directory
        self.enabled = directory is not None
        self._spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def __reduce__(self):
        # a tracer shipped to a Spark worker becomes that process's tracer
        return (worker_tracer, (self.directory,))

    def _stack(self) -> list[str]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        stack = self._stack()
        sid = f"{os.getpid()}-{next(self._ids)}"
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.time()
        try:
            yield attrs
        finally:
            stack.pop()
            self._spans.append(
                {"id": sid, "name": name, "start": start, "end": time.time(),
                 "parent": parent, **attrs}
            )

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        """A span measured elsewhere (e.g. a Spark progress duration)."""
        if self.enabled:
            stack = self._stack()
            self._spans.append(
                {"id": f"{os.getpid()}-{next(self._ids)}", "name": name, "start": start,
                 "end": end, "parent": stack[-1] if stack else None, **attrs}
            )

    def flush(self) -> None:
        if not self.enabled:
            return
        with self._lock:
            spans, self._spans = self._spans, []
            if not spans:
                return
            os.makedirs(self.directory, exist_ok=True)
            with open(os.path.join(self.directory, f"spans-{os.getpid()}.jsonl"), "a") as fh:
                for s in spans:
                    fh.write(json.dumps(s) + "\n")


_WORKER_TRACERS: dict[str, Tracer] = {}


def worker_tracer(directory: str | None) -> Tracer:
    """The per-process tracer for code running inside a Spark worker."""
    if directory is None:
        return Tracer(None)
    if directory not in _WORKER_TRACERS:
        _WORKER_TRACERS[directory] = Tracer(directory)
    return _WORKER_TRACERS[directory]


def load_spans(directory: str) -> list[dict]:
    spans = []
    if not os.path.isdir(directory):
        return spans
    for name in sorted(os.listdir(directory)):
        if name.endswith(".jsonl"):
            with open(os.path.join(directory, name)) as fh:
                spans.extend(json.loads(line) for line in fh if line.strip())
    return spans


def spans_named(spans: list[dict], name: str) -> list[dict]:
    return [s for s in spans if s["name"] == name]


def busy_s(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def max_overlap(spans: list[dict]) -> int:
    """Most spans open at one instant."""
    events = sorted([(s["start"], 1) for s in spans] + [(s["end"], -1) for s in spans])
    best = cur = 0
    for _, step in events:
        cur += step
        best = max(best, cur)
    return best


# -- statistics and output ----------------------------------------------------


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty sequence."""
    ordered = sorted(values)
    k = max(0, min(len(ordered) - 1, int(-(-q * len(ordered) // 100)) - 1))
    return float(ordered[k])


def median(values) -> float:
    return float(statistics.median(values))


def load_info() -> dict:
    one, five, _ = os.getloadavg()
    return {"nproc": cores(), "loadavg_1m": one, "loadavg_5m": five}


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def emit_result(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}), flush=True)


def note(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
