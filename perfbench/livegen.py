"""Open-loop record generator for the ``live_tail`` workload.

Runs as its own single-threaded process, apart from the Spark process under
test. It appends records to ``<dir>/<shard>.jsonl`` in the line format of
``streaming.consumer_aws.LocalDirGetRecordsTransport`` on a fixed schedule
that never waits for the consumer: record ``k`` of a step at ``rate`` rec/s
is due at ``step_start + k / rate``. Each record carries its due time (the
creation stamp latency is measured from) and a per-shard sequence number
0, 1, 2, ... in a ~100-byte payload; partition keys are uniform over 1,000
keys and route to shards by hash.

Like a KPL producer (``RecordMaxBufferedTime`` 100 ms), the generator
buffers records and appends everything due every ``FLUSH_S``; a record's
latency still counts from its due time, so the buffering wait is included.

A write never crosses a 4 KiB page boundary (the gap is filled with blank
lines, which the transport skips), so a concurrent reader never sees half a
line.

Usage: ``python3 livegen.py --dir D --seed S --shards 4 --plan 1000:3,2000:5
--start EPOCH_S --out stats.json``; a step with rate 0 is a pause.
"""

from __future__ import annotations

import argparse
import base64
import json
import os
import random
import time
import zlib

PAGE = 4096
FLUSH_S = 0.1
PAYLOAD_BYTES = 100
N_KEYS = 1000


def shard_name(i: int) -> str:
    return f"shardId-{i:012d}"


def shard_of(pk: str, shards: int) -> int:
    return zlib.crc32(pk.encode()) % shards


def fillers(rng: random.Random, n: int = 256) -> list[str]:
    alphabet = "abcdefghijklmnopqrstuvwxyz"
    return ["".join(rng.choice(alphabet) for _ in range(PAYLOAD_BYTES)) for _ in range(n)]


def payload(due_us: int, shard: int, seq: int, filler: str) -> bytes:
    head = f"{due_us:016d}|{shard}|{seq:010d}|"
    return (head + filler[: PAYLOAD_BYTES - len(head)]).encode()


def encode_line(seq: int, pk: str, data: bytes, ts_us: int) -> bytes:
    return (
        json.dumps({"seq": f"{seq:012d}", "pk": pk,
                    "data": base64.b64encode(data).decode("ascii"), "ts_us": ts_us})
        + "\n"
    ).encode()


class PageAlignedAppender:
    """Appends lines so that no single write spans two pages."""

    def __init__(self, path: str):
        self._fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
        self._offset = os.fstat(self._fd).st_size

    def write_lines(self, lines: list[bytes]) -> None:
        chunk = b""
        for line in lines:
            room = PAGE - (self._offset + len(chunk)) % PAGE
            if len(line) > room:
                chunk += b"\n" * room
                self._flush(chunk)
                chunk = b""
            chunk += line
        self._flush(chunk)

    def _flush(self, chunk: bytes) -> None:
        if chunk:
            os.write(self._fd, chunk)
            self._offset += len(chunk)

    def close(self) -> None:
        os.close(self._fd)


def run(directory: str, seed: int, shards: int, plan: list[tuple[int, float]], start: float) -> dict:
    rng = random.Random(seed)
    fill = fillers(rng)
    os.makedirs(directory, exist_ok=True)
    appenders = [PageAlignedAppender(os.path.join(directory, f"{shard_name(i)}.jsonl"))
                 for i in range(shards)]
    next_seq = [0] * shards
    lateness: list[float] = []
    steps = []
    step_start = start
    try:
        for rate, seconds in plan:
            n = int(rate * seconds)
            sent = 0
            flush_at = step_start
            while sent < n:
                flush_at = min(flush_at + FLUSH_S, step_start + seconds)
                time.sleep(max(0.0, flush_at - time.time()))
                now = time.time()
                due_upto = min(n, int((now - step_start) * rate) + 1)
                if due_upto <= sent:
                    continue
                pending: list[list[bytes]] = [[] for _ in range(shards)]
                stamp_us = int(now * 1_000_000)
                for k in range(sent, due_upto):
                    due = step_start + k / rate
                    pk = f"pk-{rng.randrange(N_KEYS):04d}"
                    s = shard_of(pk, shards)
                    seq = next_seq[s]
                    next_seq[s] += 1
                    data = payload(int(due * 1_000_000), s, seq, fill[rng.randrange(len(fill))])
                    pending[s].append(encode_line(seq, pk, data, stamp_us))
                    lateness.append(now - due)
                for s, lines in enumerate(pending):
                    if lines:
                        appenders[s].write_lines(lines)
                sent = due_upto
            steps.append({"rate": rate, "start": step_start, "end": step_start + seconds, "records": n})
            step_start += seconds
    finally:
        for a in appenders:
            a.close()
    lateness.sort()
    return {
        "steps": steps,
        "per_shard": {shard_name(i): next_seq[i] for i in range(shards)},
        "late_p99_s": lateness[int(0.99 * (len(lateness) - 1))] if lateness else 0.0,
        "late_max_s": lateness[-1] if lateness else 0.0,
        "finished": time.time(),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--shards", type=int, default=4)
    ap.add_argument("--plan", required=True, help="rate:seconds,rate:seconds,...")
    ap.add_argument("--start", type=float, required=True, help="epoch seconds of the first due time")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    plan = [(int(r), float(s)) for r, s in (p.split(":") for p in args.plan.split(","))]
    stats = run(args.dir, args.seed, args.shards, plan, args.start)
    tmp = args.out + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(stats, fh)
    os.replace(tmp, args.out)


if __name__ == "__main__":
    main()
