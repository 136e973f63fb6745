"""Benchmark-side wrappers around the package's layer boundaries.

Each wrapper calls the package's public surface and, when given a trace
directory, records one span per call (see :class:`perfbench.harness.Tracer`).
With no trace directory they only delegate. Spark runs the source readers
and the sink transport in its own Python worker processes, so every wrapper
here is picklable and takes its trace directory as plain data.

* :class:`TracedLiveDataSource` (format ``perfbench_live``) wraps
  ``kinesis_live``: ``live_source.read`` / ``live_source.commit`` and the
  reader's ``lease.sync``.
* :func:`traced_localdir_transport` is a ``module:attr`` transport factory
  for ``kinesis_live`` that times ``consumer_aws`` GetShardIterator /
  GetRecords calls on a ``LocalDirGetRecordsTransport``.
* :class:`TracedReplayDataSource` (format ``perfbench_replay``) wraps
  ``kinesis_replay``: planning (``latestOffset``) and the executor-side
  shard-slice reads.
* :class:`FlakyTransport` is the relay workload's PutRecords transport: a
  ``sink.LocalDirTransport`` that refuses a fixed, seed-chosen 1% of entries
  on their first attempt, optionally recording each request as a span.
"""

from __future__ import annotations

import threading
import time
import zlib

from pyspark.sql.datasource import DataSourceStreamReader, SimpleDataSourceStreamReader

from reactive_kinesis_spark.streaming.consumer_aws import LocalDirGetRecordsTransport
from reactive_kinesis_spark.streaming.live_source import KinesisLiveDataSource
from reactive_kinesis_spark.streaming.replay_source import KinesisReplayDataSource
from reactive_kinesis_spark.streaming.sink import LocalDirTransport

from perfbench.harness import worker_tracer

TRACE_OPTION = "perfbenchtracedir"


# -- live source --------------------------------------------------------------


class _TimedLease:
    def __init__(self, lease, tracer):
        self._lease = lease
        self._tracer = tracer

    def sync(self, shards):
        with self._tracer.span("lease.sync", shards=len(shards)):
            return self._lease.sync(shards)

    def __getattr__(self, name):
        if name in ("_lease", "_tracer"):  # not yet set while unpickling
            raise AttributeError(name)
        return getattr(self._lease, name)


class _TracedLiveReader(SimpleDataSourceStreamReader):
    def __init__(self, inner, trace_dir):
        self._inner = inner
        self._tracer = worker_tracer(trace_dir)
        lease = getattr(inner, "_lease", None)
        if lease is not None and self._tracer.enabled:
            inner._lease = _TimedLease(lease, self._tracer)

    def initialOffset(self):
        return self._inner.initialOffset()

    def read(self, start):
        with self._tracer.span("live_source.read") as attrs:
            rows, end = self._inner.read(start)
            rows = list(rows)
            attrs["records"] = len(rows)
        self._tracer.flush()
        return iter(rows), end

    def readBetweenOffsets(self, start, end):
        return self._inner.readBetweenOffsets(start, end)

    def commit(self, end):
        with self._tracer.span("live_source.commit"):
            self._inner.commit(end)
        self._tracer.flush()


class TracedLiveDataSource(KinesisLiveDataSource):
    @classmethod
    def name(cls) -> str:
        return "perfbench_live"

    def simpleStreamReader(self, schema):
        inner = super().simpleStreamReader(schema)
        trace_dir = {k.lower(): v for k, v in self.options.items()}.get(TRACE_OPTION)
        return _TracedLiveReader(inner, trace_dir)


class _TracedGetRecords:
    def __init__(self, inner, tracer):
        self._inner = inner
        self._tracer = tracer

    def list_shards(self, stream_name):
        return self._inner.list_shards(stream_name)

    def get_shard_iterator(self, stream_name, shard_id, position, **kw):
        with self._tracer.span("consumer_aws.get_shard_iterator", shard=shard_id):
            return self._inner.get_shard_iterator(stream_name, shard_id, position, **kw)

    def get_records(self, shard_iterator, limit):
        with self._tracer.span("consumer_aws.get_records") as attrs:
            page = self._inner.get_records(shard_iterator, limit)
            attrs["records"] = len(page.records)
        return page


def traced_localdir_transport(options: dict):
    """``transport=perfbench.layers:traced_localdir_transport``."""
    path = options.get("transportpath")
    if not path:
        raise ValueError("requires option 'transportPath'")
    return _TracedGetRecords(LocalDirGetRecordsTransport(path), worker_tracer(options.get(TRACE_OPTION)))


# -- replay source ------------------------------------------------------------


def _read_traced(inner, partition, trace_dir):
    tracer = worker_tracer(trace_dir)
    rows = nbytes = 0
    t0 = time.time()
    for batch in inner.read(partition):
        rows += batch.num_rows
        nbytes += batch.nbytes
        yield batch
    tracer.record("replay_source.read", t0, time.time(), rows=rows, bytes=nbytes)
    tracer.flush()


class _TracedReplayReader(DataSourceStreamReader):
    def __init__(self, inner, trace_dir):
        self._inner = inner
        self._trace_dir = trace_dir

    def initialOffset(self):
        return self._inner.initialOffset()

    def latestOffset(self):
        return self._inner.latestOffset()

    def partitions(self, start, end):
        return self._inner.partitions(start, end)

    def read(self, partition):
        return _read_traced(self._inner, partition, self._trace_dir)

    def commit(self, end):
        self._inner.commit(end)

    def stop(self):
        self._inner.stop()


class TracedReplayDataSource(KinesisReplayDataSource):
    @classmethod
    def name(cls) -> str:
        return "perfbench_replay"

    def streamReader(self, schema):
        inner = super().streamReader(schema)
        trace_dir = {k.lower(): v for k, v in self.options.items()}.get(TRACE_OPTION)
        return _TracedReplayReader(inner, trace_dir)


# -- producer transport -------------------------------------------------------


def refused_first(seed: int, data: bytes) -> bool:
    """Whether an entry is refused on its first attempt: a fixed 1% chosen
    by a seeded hash of the entry's bytes."""
    return zlib.crc32(data, seed & 0xFFFFFFFF) % 100 == 0


class FlakyTransport:
    """PutRecords-shaped transport over ``sink.LocalDirTransport`` with
    partial failures: an entry for which :func:`refused_first` holds is
    refused the first time this transport sees it and accepted on retry
    (the per-entry failure path of a real PutRecords call)."""

    def __init__(self, directory: str, seed: int, trace_dir: str | None = None):
        self._inner = LocalDirTransport(directory)
        self._seed = seed
        self._trace_dir = trace_dir
        self._refused: set[bytes] = set()
        self._lock = threading.Lock()

    def __getstate__(self):
        state = dict(self.__dict__)
        del state["_lock"]
        return state

    def __setstate__(self, state):
        self.__dict__.update(state)
        self._lock = threading.Lock()

    def read_back(self) -> list[tuple[str, bytes]]:
        return self._inner.read_back()

    def __call__(self, stream_name: str, entries: list[tuple[str, bytes]]) -> list[bool]:
        t0 = time.time()
        accept = []
        with self._lock:
            for _, data in entries:
                refuse = refused_first(self._seed, data) and data not in self._refused
                if refuse:
                    self._refused.add(data)
                accept.append(not refuse)
        sent = [e for e, ok in zip(entries, accept) if ok]
        stored = iter(self._inner(stream_name, sent)) if sent else iter(())
        results = [ok and next(stored) for ok in accept]
        if self._trace_dir is not None:
            tracer = worker_tracer(self._trace_dir)
            with self._lock:
                tracer.record(
                    "sink.put_records", t0, time.time(), entries=len(entries),
                    refused=len(entries) - sum(results),
                    bytes=sum(len(pk) + len(d) for pk, d in sent),
                )
                tracer.flush()
        return results
