"""``replay_relay`` — closed-loop consume → process → produce of a backlog.

Input: four per-shard parquet files for ``kinesis_replay``, staged from the
seed. Each Kinesis record is an aggregate of 8-12 user records built with
``deaggregate.pack_records``; user payloads are 50-1,000 bytes and partition
keys are Zipf-skewed over 1,000 keys. One user record in every block of
1,000 (seed-chosen position) carries the flag that fails the predicate.

Pipeline: ``maxRecordsPerBatch`` paging → ``deaggregate`` →
``tolerant_foreach_batch`` (failing rows go to the DLQ) → ``write_batch``
with aggregation on and ``max_outstanding`` 4, over a transport that
refuses a seed-chosen 1% of entries on their first attempt.

The run pages through the backlog for the measured window, then lets the
batch in flight finish and stops; batches after the window are skipped and
excluded from the check.
"""

from __future__ import annotations

import os
import threading
import time
import zlib

from perfbench import checks
from perfbench.harness import fresh_dir, median, note, percentile
from perfbench.layers import FlakyTransport

SHARDS = 4
KEYS = 1000
ZIPF_A = 1.2
USERS_PER_AGG = (8, 12)
PAYLOAD_BYTES = (50, 1000)
FAIL_BLOCK = 1000
#: Kinesis records per shard per micro-batch
PAGE = 100
#: staged Kinesis records per shard (the backlog)
RECORDS_PER_SHARD = 3000
#: micro-batches run before the measured window opens
WARMUP_BATCHES = 5
TOLERANCE_PCT = 0.25
MAX_OUTSTANDING = 4


def shard_file(i: int) -> str:
    return f"shard-{i:04d}"


def user_digest(pk: str, data: bytes) -> tuple:
    return (pk, data[:10], len(data), zlib.crc32(data))


class Backlog:
    """The staged input: parquet files plus, per shard and Kinesis record,
    the digests of its user records (the check's ground truth)."""

    def __init__(self, directory: str, users: list[list[list[tuple]]]):
        self.directory = directory
        self.users = users

    def user_count(self, ranges: dict[str, tuple[int, int]]) -> int:
        return sum(
            len(self.users[int(sid.split("-")[1])][k])
            for sid, (lo, hi) in ranges.items()
            for k in range(lo, hi)
        )

    def expected(self, ranges_list: list[dict[str, tuple[int, int]]]):
        sent, dlq = [], []
        for ranges in ranges_list:
            for sid, (lo, hi) in ranges.items():
                for k in range(lo, hi):
                    for d in self.users[int(sid.split("-")[1])][k]:
                        (dlq if d[4] else sent).append(d[:4])
        return sent, dlq


def stage(seed: int, records_per_shard: int, directory: str) -> Backlog:
    """Write the backlog; returns its ground truth."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from reactive_kinesis_spark.schemas import EVENT_SCHEMA
    from reactive_kinesis_spark.streaming.deaggregate import pack_records

    rng = np.random.default_rng(seed)
    letters = rng.integers(97, 123, size=1 << 20, dtype=np.uint8).tobytes()
    keys = [f"key-{i:04d}" for i in range(KEYS)]
    key_shard = [zlib.crc32(k.encode()) % SHARDS for k in keys]
    by_shard = [[k for k in range(KEYS) if key_shard[k] == s] for s in range(SHARDS)]
    schema = to_arrow_schema(EVENT_SCHEMA)
    users: list[list[list[tuple]]] = []
    uid = 0
    base_us = 1_700_000_000_000_000
    for s in range(SHARDS):
        n_users = rng.integers(USERS_PER_AGG[0], USERS_PER_AGG[1] + 1, size=records_per_shard)
        total = int(n_users.sum())
        # Zipf ranks over this shard's keys, so skew survives the routing
        ranks = np.minimum(rng.zipf(ZIPF_A, size=total), len(by_shard[s])) - 1
        sizes = rng.integers(PAYLOAD_BYTES[0], PAYLOAD_BYTES[1] + 1, size=total)
        offsets = rng.integers(0, len(letters) - PAYLOAD_BYTES[1], size=total)
        fail_at = {
            b * FAIL_BLOCK + int(rng.integers(FAIL_BLOCK))
            for b in range(total // FAIL_BLOCK + 1)
        }
        shard_users: list[list[tuple]] = []
        payloads, pks = [], []
        j = 0
        for k in range(records_per_shard):
            subs, digests = [], []
            for _ in range(int(n_users[k])):
                pk = keys[by_shard[s][int(ranks[j])]]
                flag = b"X" if j in fail_at else b"K"
                head = b"%010d|" % uid + flag + b"|"
                body = letters[int(offsets[j]) : int(offsets[j]) + int(sizes[j]) - len(head)]
                data = head + body
                subs.append((pk, data))
                digests.append((*user_digest(pk, data), flag == b"X"))
                uid += 1
                j += 1
            payloads.append(pack_records(subs))
            pks.append(subs[0][0])
            shard_users.append(digests)
        users.append(shard_users)
        n = records_per_shard
        table = pa.table(
            {
                "stream_name": pa.array(["relay-in"] * n),
                "shard_id": pa.array([shard_file(s)] * n),
                "partition_key": pa.array(pks),
                "sequence_number": pa.array([f"{k:020d}" for k in range(n)]),
                "sub_sequence_number": pa.array([0] * n, pa.int64()),
                "payload": pa.array(payloads, pa.binary()),
                "approximate_arrival_timestamp": pa.array(
                    [base_us + k * 1000 for k in range(n)], pa.timestamp("us", tz="UTC")
                ),
            }
        ).cast(schema)
        pq.write_table(table, os.path.join(directory, f"{shard_file(s)}.parquet"), row_group_size=PAGE)
    return Backlog(directory, users)


def _offset_log(ckpt: str, batch_id: int) -> dict[str, int]:
    """End offsets of a batch from Spark's offset log (the source's JSON is
    the last line)."""
    import json

    with open(os.path.join(ckpt, "offsets", str(batch_id))) as fh:
        return {k: int(v) for k, v in json.loads(fh.read().splitlines()[-1]).items()}


class _Relay:
    """foreachBatch target around the tolerant pipeline: times each batch
    and, once the window has closed, skips further batches."""

    def __init__(self, run, tracer):
        self._run = run
        self._tracer = tracer
        self.closed = False
        self.lock = threading.Lock()
        self.done: list[tuple[int, float, float]] = []
        self.progress = threading.Condition()

    def __call__(self, df, batch_id: int) -> None:
        with self.lock:
            if self.closed:
                return
            t0 = time.time()
            with self._tracer.span("relay.batch", batch_id=batch_id):
                self._run(df, batch_id)
            with self.progress:
                self.done.append((batch_id, t0, time.time()))
                self.progress.notify_all()


def _weighted_percentile(lat: list[tuple[float, int]], q: float) -> float:
    """Percentile of per-record latencies given as (batch cycle, records)."""
    return percentile([v for v, n in lat for _ in range(n)], q) if lat else float("nan")


def _p99_of_thirds(lat: list[tuple[float, int]]) -> float:
    """Median of the p99s of the window's three consecutive thirds. With a
    few batches per third each p99 is that third's slowest cycle, so one
    stray slow batch moves one third, not the result."""
    k = len(lat) // 3
    if k == 0:
        return _weighted_percentile(lat, 99)
    return median([_weighted_percentile(part, 99) for part in (lat[:k], lat[k:2 * k], lat[2 * k:])])


def run_pass(spark, backlog: Backlog, seed: int, seconds: float, tag: str, tracer) -> dict:
    """Relay the backlog for ``seconds`` after the warm-up batches; returns
    the pass's measurements and check outcome."""
    from pyspark.sql import functions as F

    from reactive_kinesis_spark.config import ProducerConfig
    from reactive_kinesis_spark.streaming.deaggregate import deaggregate, unpack_records
    from reactive_kinesis_spark.streaming.sink import write_batch
    from reactive_kinesis_spark.streaming.tolerance import tolerant_foreach_batch

    work = fresh_dir("replay_relay", tag)
    ckpt, out = os.path.join(work, "ckpt"), os.path.join(work, "out")
    trace_dir = tracer.directory
    transport = FlakyTransport(out, seed, trace_dir)
    conf = ProducerConfig(stream_name="relay-out", aggregation_enabled=True)
    dlq_rows: list[tuple] = []

    def dlq(bad, _batch_id):
        with tracer.span("tolerance.dlq"):
            rows = bad.select("partition_key", "payload").collect()
        dlq_rows.extend(user_digest(r.partition_key, bytes(r.payload)) for r in rows)

    def process(good, _batch_id):
        with tracer.span("sink.write_batch"):
            write_batch(good, conf, transport, max_outstanding=MAX_OUTSTANDING)

    ok = F.substring(F.col("payload").cast("string"), 12, 1) != F.lit("X")
    relay = _Relay(tolerant_foreach_batch(ok, process, dlq, tolerance_pct=TOLERANCE_PCT), tracer)
    reader = (
        spark.readStream.format("perfbench_replay" if trace_dir else "kinesis_replay")
        .option("path", backlog.directory)
        .option("maxRecordsPerBatch", str(PAGE))
        .option("cursorPath", os.path.join(work, "cursor.json"))
    )
    if trace_dir:
        reader = reader.option("perfbenchTraceDir", trace_dir)
    query = (
        deaggregate(reader.load())
        .writeStream.foreachBatch(relay)
        .trigger(processingTime="0 seconds")
        .option("checkpointLocation", ckpt)
        .start()
    )
    total_records = len(backlog.users[0])
    started = time.time()
    try:
        window_end = None
        with relay.progress:
            while True:
                if query.exception() is not None:
                    raise RuntimeError(f"relay query failed: {query.exception()}")
                n = len(relay.done)
                if window_end is None and n >= WARMUP_BATCHES:
                    window_end = relay.done[WARMUP_BATCHES - 1][2] + seconds
                if window_end is not None and time.time() >= window_end:
                    break
                if n * PAGE >= total_records:
                    note("replay_relay: backlog exhausted before the window closed")
                    break
                relay.progress.wait(0.05)
        with relay.lock:
            relay.closed = True
    finally:
        query.stop()

    done = sorted(relay.done)
    prev = {shard_file(i): 0 for i in range(SHARDS)}
    by_id = {}
    for batch_id in range(done[-1][0] + 1):
        end = _offset_log(ckpt, batch_id)
        by_id[batch_id] = {sid: (prev.get(sid, 0), off) for sid, off in end.items()}
        prev = {**prev, **end}
    processed = [by_id[b] for b, _, _ in done]
    exp_sent, exp_dlq = backlog.expected(processed)
    sent = [user_digest(pk, data) for _, blob in transport.read_back()
            for pk, data in unpack_records(blob)]
    failed, attempted = checks.relay_failures(exp_sent, exp_dlq, sent, dlq_rows)

    counted = done[WARMUP_BATCHES:]
    lat, n_users = [], 0
    for (b, _, end), (_, _, prev_end) in zip(counted, done[WARMUP_BATCHES - 1:]):
        n = backlog.user_count(by_id[b])
        n_users += n
        lat.append((end - prev_end, n))
    window = counted[-1][2] - done[WARMUP_BATCHES - 1][2] if counted else float("nan")
    kinesis_records = sum(hi - lo for r in processed for lo, hi in r.values())
    tracer.record("relay.pass", done[0][1], done[-1][2], users=len(exp_sent) + len(exp_dlq),
                  kinesis_records=kinesis_records, dlq_rows=len(dlq_rows))
    return {
        "started": started,
        "ended": time.time(),
        "attempted": attempted,
        "failed": failed,
        "users": n_users,
        "window_s": window,
        "batches": len(counted),
        "latency_p50_s": _weighted_percentile(lat, 50),
        "latency_p99_s": _p99_of_thirds(lat),
        "dlq_rows": len(dlq_rows),
        "rows_in": len(exp_sent) + len(exp_dlq),
    }


def end_to_end(res: dict) -> dict:
    rps = res["users"] / res["window_s"]
    return {
        "latency_p50_s": res["latency_p50_s"],
        "latency_p99_s": res["latency_p99_s"],
        "throughput_rps": rps,
        "sustained_rps": rps,
        "wall_s": res["window_s"] / res["batches"],
    }


def kpl_probe(backlog: Backlog, tracer, records: int = 2000, repeats: int = 5) -> None:
    """Time the wire-format functions the pipeline runs on every record:
    ``unpack_records`` over staged aggregates and ``pack_records`` of the
    unpacked user records, ``repeats`` times each."""
    import pyarrow.parquet as pq

    from reactive_kinesis_spark.streaming.deaggregate import pack_records, unpack_records

    blobs = pq.read_table(
        os.path.join(backlog.directory, f"{shard_file(0)}.parquet"), columns=["payload"]
    ).column("payload").to_pylist()[:records]
    for _ in range(repeats):
        with tracer.span("kpl.unpack") as attrs:
            unpacked = [unpack_records(b) for b in blobs]
            attrs["users"] = sum(len(u) for u in unpacked)
        with tracer.span("kpl.pack") as attrs:
            for subs in unpacked:
                pack_records(subs)
            attrs["users"] = sum(len(u) for u in unpacked)
