"""``live_tail`` — open-loop live consumption through ``kinesis_live``.

A separate generator process (:mod:`perfbench.livegen`) appends records to
four ``LocalDirGetRecordsTransport`` shard files on a fixed schedule that
steps through a rate ladder, in rounds that each start a fresh stream. A
``kinesis_live`` query per round (lease directory set, ``processingTime``
trigger) reads them into a light ``foreachBatch`` sink
that computes, in Spark, the per-shard count, min, max, sum and sum of
squares of the sequence numbers plus every record's creation stamp. The
driver stamps the end of each batch, which gives every record's latency.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import threading
import time

from perfbench import checks
from perfbench.harness import BENCH_DIR, fresh_dir, note, percentile
from perfbench.livegen import FLUSH_S, shard_name

SHARDS = 4
#: The rungs sit well clear of the consumer's capacity, so each rung
#: classifies the same way on every run: the base rate below it, the top
#: rung above both the consumer's speed and the page cap's ceiling
#: (``MAX_RECORDS_PER_SHARD`` per shard per trigger period, 5.3k rec/s).
LADDER = (1000, 2000, 10000)
BASE_RATE = LADDER[1]
#: A batch starts every ``TRIGGER_S`` seconds, on multiples of it since the
#: epoch. At the base rate a batch (3,000 records) took 0.5-1 s on a 4-core
#: VM, so it ends before the next is due even when the host runs well below
#: its usual speed. Batch size and start times then do not depend on how
#: long the batch before took, and host contention moves latency only
#: through the batch's own duration.
TRIGGER_S = 1.5
#: The pass is split into rounds, each on a fresh stream and a fresh query.
#: Each round runs the first two rungs; the last round then runs the top
#: rung. Every round starts from empty shard files, so the base rung sees
#: the same stream length on every run. Rungs last whole trigger periods
#: and start on a trigger boundary (plus half a generator flush).
ROUNDS = 2
#: extra trigger periods of the first rung in the first round: the first
#: query of a process runs its first batches slower while the JVM and the
#: reader process warm up
WARMUP_PERIODS = 1
#: seconds of the top rung
TOP_S = 1.0
#: Each rung is cut by due time into trigger periods (windows), one batch
#: each. Host contention only ever adds time, so a rung's p50 and p99 are
#: a low quantile (nearest rank) of its windows' figures over all rounds:
#: the rung as the less disturbed windows saw it, which a stall in a few
#: windows does not move.
WINDOW_QUANTILE = 50
#: p99 latency limit a ladder step must meet to count as sustained
P99_LIMIT_S = 5.0
#: a step also fails if its backlog, sampled right after each batch,
#: grows faster than this share of the step's rate
GROWTH_LIMIT = 0.1
#: the generator counts as behind schedule beyond this lateness
LATE_LIMIT_S = 0.5
DRAIN_TIMEOUT_S = 90.0
#: per-shard page cap per micro-batch (the KCL maxRecords analog): twice
#: what one trigger period brings a shard at the base rate
MAX_RECORDS_PER_SHARD = 2000


class _Sink:
    """foreachBatch target: one small aggregate per batch, collected."""

    def __init__(self):
        self.batches: list[dict] = []
        self.delivered = 0
        self.lock = threading.Lock()

    def __call__(self, df, batch_id: int) -> None:
        from pyspark.sql import functions as F

        seq = F.col("sequence_number").cast("long")
        due = F.substring(F.col("payload").cast("string"), 1, 16).cast("long")
        aggs = [F.collect_list("due_us").alias("due_us")]
        for i in range(SHARDS):
            mine = F.col("shard_id") == shard_name(i)
            s = F.when(mine, F.col("seq"))
            aggs += [
                F.count(s).alias(f"n_{i}"),
                F.min(s).alias(f"min_seq_{i}"),
                F.max(s).alias(f"max_seq_{i}"),
                F.sum(s).alias(f"sum_seq_{i}"),
                F.sum(s * s).alias(f"sum_sq_{i}"),
            ]
        row = df.select("shard_id", seq.alias("seq"), due.alias("due_us")).agg(*aggs).collect()[0]
        end = time.time()
        shards = [
            {"shard_id": shard_name(i), **{k: row[f"{k}_{i}"] for k in ("n", "min_seq", "max_seq", "sum_seq", "sum_sq")}}
            for i in range(SHARDS)
            if row[f"n_{i}"]
        ]
        with self.lock:
            self.batches.append({"batch_id": batch_id, "end": end, "due_us": row["due_us"], "shards": shards})
            self.delivered += len(row["due_us"])


def _plans(seconds: float) -> list[list[tuple[int, float]]]:
    """Per round, the (rate, seconds) steps; together they fill about
    ``seconds``, the warm-up included."""
    fixed = TOP_S + (WARMUP_PERIODS + ROUNDS) * TRIGGER_S
    base = max(1, int((seconds - fixed) / (ROUNDS * TRIGGER_S)))
    plans = [[(LADDER[0], TRIGGER_S), (LADDER[1], base * TRIGGER_S)] for _ in range(ROUNDS)]
    plans[0][0] = (LADDER[0], (1 + WARMUP_PERIODS) * TRIGGER_S)
    plans[-1].append((LADDER[2], TOP_S))
    return plans


def run_pass(spark, seed: int, seconds: float, tag: str, tracer) -> dict:
    """The ladder, as :data:`ROUNDS` rounds; returns the pass's
    measurements (see :func:`combine`)."""
    rounds = [
        _run_round(spark, seed * 1000 + r, plan, f"{tag}-{r}", tracer)
        for r, plan in enumerate(_plans(seconds))
    ]
    return combine(rounds)


def _run_round(spark, seed: int, plan: list[tuple[int, float]], tag: str, tracer) -> dict:
    """One round of ``plan`` through a fresh stream and query (see
    :func:`summarize`)."""
    trace_dir = tracer.directory
    work = fresh_dir("live_tail", tag)
    stream, lease, ckpt = (os.path.join(work, d) for d in ("stream", "lease", "ckpt"))
    os.makedirs(stream)
    for i in range(SHARDS):
        open(os.path.join(stream, f"{shard_name(i)}.jsonl"), "w").close()

    reader = spark.readStream.format("perfbench_live" if trace_dir else "kinesis_live")
    reader = (
        reader.option("streamName", "perfbench")
        .option("transport", "perfbench.layers:traced_localdir_transport" if trace_dir else "localdir")
        .option("transportPath", stream)
        .option("leaseDir", lease)
        .option("workerId", "perfbench-worker")
        .option("startingPosition", "trim_horizon")
        .option("maxRecordsPerBatch", str(MAX_RECORDS_PER_SHARD))
    )
    if trace_dir:
        reader = reader.option("perfbenchTraceDir", trace_dir)
    sink = _Sink()
    query = (
        reader.load()
        .writeStream.foreachBatch(sink)
        .trigger(processingTime=f"{TRIGGER_S} seconds")
        .option("checkpointLocation", ckpt)
        .start()
    )
    stats_path = os.path.join(work, "generator.json")
    started = time.time()
    try:
        # the first (empty) polls construct the reader and take the leases
        deadline = time.time() + 30
        while not query.recentProgress and query.status["message"] != "Waiting for data to arrive":
            if time.time() > deadline or query.exception() is not None:
                raise RuntimeError(f"live query did not start: {query.exception()}")
            time.sleep(0.05)
        start = (math.floor((time.time() + 0.5) / TRIGGER_S) + 1) * TRIGGER_S + FLUSH_S / 2
        gen = subprocess.Popen(
            [sys.executable, os.path.join(BENCH_DIR, "livegen.py"), "--dir", stream,
             "--seed", str(seed), "--shards", str(SHARDS),
             "--plan", ",".join(f"{r}:{s}" for r, s in plan),
             "--start", repr(start), "--out", stats_path],
        )
        try:
            rc = gen.wait(timeout=sum(s for _, s in plan) + 60)
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
        if rc != 0:
            raise RuntimeError(f"generator exited with {rc}")
        with open(stats_path) as fh:
            gen_stats = json.load(fh)
        total = sum(gen_stats["per_shard"].values())
        deadline = time.time() + DRAIN_TIMEOUT_S
        while sink.delivered < total and time.time() < deadline:
            if query.exception() is not None:
                raise RuntimeError(f"live query failed: {query.exception()}")
            time.sleep(0.05)
        drained = sink.delivered >= total
    finally:
        query.stop()
    if not drained:
        note(f"live_tail: drain timed out, {sink.delivered} of {total} delivered")
    return {**summarize(sink.batches, gen_stats, drained), "started": started, "ended": time.time()}


def summarize(batches: list[dict], gen: dict, drained: bool) -> dict:
    steps = gen["steps"]
    # latencies per step and window, by due time
    lats: list[list[list[float]]] = [
        [[] for _ in range(math.ceil((st["end"] - st["start"]) / TRIGGER_S - 1e-6))] for st in steps]
    shard_stats = {}
    deliveries = []
    for b in batches:
        n_batch = 0
        for s in b["shards"]:
            acc = shard_stats.setdefault(s["shard_id"], checks.MomentAccumulator())
            acc.add(s["n"], s["min_seq"], s["max_seq"], s["sum_seq"], s["sum_sq"])
            n_batch += s["n"]
        for due_us in b["due_us"]:
            due = due_us / 1e6
            for i, st in enumerate(steps):
                if st["start"] <= due < st["end"] or (i == len(steps) - 1 and due >= st["start"]):
                    w = int((due - st["start"]) / TRIGGER_S)
                    lats[i][min(w, len(lats[i]) - 1)].append(b["end"] - due)
                    break
        deliveries.append((b["end"], n_batch))
    deliveries.sort()

    def delivered_by(t: float) -> int:
        return sum(n for end, n in deliveries if end <= t)

    def due_by(t: float) -> int:
        out = 0
        for st in steps:
            if t >= st["end"]:
                out += st["records"]
            elif t > st["start"]:
                out += min(st["records"], int((t - st["start"]) * st["rate"]) + 1)
        return out

    step_out = []
    for st, windows in zip(steps, lats):
        if not st["rate"]:
            continue
        step_out.append({
            "rate": st["rate"], "windows": windows,
            # backlog right after each batch that ended inside the step
            "points": [(end, due_by(end) - delivered_by(end)) for end, _ in deliveries
                       if st["start"] <= end <= st["end"]],
        })
    failed, attempted = checks.live_failures(shard_stats, gen["per_shard"])
    last_end = max((e for e, _ in deliveries), default=steps[-1]["end"])
    return {
        "steps": step_out,
        "attempted": attempted,
        "failed": failed,
        "drained": drained,
        "total": sum(gen["per_shard"].values()),
        "first_due": steps[0]["start"],
        "schedule_end": steps[-1]["end"],
        "last_delivery": last_end,
        "late_p99_s": gen["late_p99_s"],
        "late_max_s": gen["late_max_s"],
        "batches": len(batches),
    }


def combine(rounds: list[dict]) -> dict:
    """The pass from its rounds. A rung's p50 and p99 are the
    ``WINDOW_QUANTILE`` of its windows' figures over all rounds; its backlog growth is the slope pooled
    within rounds. Wall time sums the rounds' first due time → last
    delivery."""
    by_rate: dict[int, list[dict]] = {}
    for rd in rounds:
        for st in rd["steps"]:
            by_rate.setdefault(st["rate"], []).append(st)
    steps = []
    for rate, sts in sorted(by_rate.items()):
        windows = [w for st in sts for w in st["windows"] if w]
        p50 = percentile([percentile(w, 50) for w in windows], WINDOW_QUANTILE) if windows else float("inf")
        p99 = percentile([percentile(w, 99) for w in windows], WINDOW_QUANTILE) if windows else float("inf")
        growth = _slope([st["points"] for st in sts])
        steps.append({
            "rate": rate, "rounds": len(sts), "samples": sum(len(w) for w in windows),
            "p50_s": p50, "p99_s": p99, "backlog_growth_per_s": growth,
            "sustained": p99 <= P99_LIMIT_S and growth <= GROWTH_LIMIT * rate,
        })
    return {
        "steps": steps,
        "rounds": len(rounds),
        "attempted": sum(rd["attempted"] for rd in rounds),
        "failed": sum(rd["failed"] for rd in rounds),
        "drained": all(rd["drained"] for rd in rounds),
        "total": sum(rd["total"] for rd in rounds),
        "wall_s": sum(rd["last_delivery"] - rd["first_due"] for rd in rounds),
        "first_due": rounds[0]["first_due"],
        "schedule_end": rounds[-1]["schedule_end"],
        "late_p99_s": max(rd["late_p99_s"] for rd in rounds),
        "late_max_s": max(rd["late_max_s"] for rd in rounds),
        "batches": sum(rd["batches"] for rd in rounds),
        "started": rounds[0]["started"],
        "ended": rounds[-1]["ended"],
    }


def _slope(groups: list[list[tuple[float, float]]]) -> float:
    """Least-squares slope pooled within groups (each group centred on its
    own means). Fewer than three samples in all cannot show a trend and
    count as growing."""
    sxy = sxx = 0.0
    n = 0
    for points in groups:
        if not points:
            continue
        n += len(points)
        mx = sum(x for x, _ in points) / len(points)
        my = sum(y for _, y in points) / len(points)
        sxx += sum((x - mx) ** 2 for x, _ in points)
        sxy += sum((x - mx) * (y - my) for x, y in points)
    return sxy / sxx if n >= 3 and sxx else float("inf")


def end_to_end(res: dict) -> dict:
    base = next(s for s in res["steps"] if s["rate"] == BASE_RATE)
    sustained = [s["rate"] for s in res["steps"] if s["sustained"]]
    wall = res["wall_s"]
    return {
        "latency_p50_s": base["p50_s"],
        "latency_p99_s": base["p99_s"],
        "sustained_rps": float(max(sustained)) if sustained else 0.0,
        "throughput_rps": res["total"] / wall,
        "wall_s": wall,
    }
