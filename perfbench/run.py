"""Benchmark entry point.

    python3 perfbench/run.py --workload live_tail --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``. With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` the run also repeats the measurement
with spans recorded at every layer boundary and prints the per-layer
metrics derived from them. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import curation_batch, harness  # noqa: E402

#: set-ups per untraced run; ``setup_s`` is their median (a traced run,
#: which does not report it, sets up once)
SETUPS = 3


class LiveTail:
    name = "live_tail"
    #: The driver-side poll does the work here, so Spark gets half the
    #: cores: the rest go to the generator, the stream reader's own Python
    #: process and the driver's foreachBatch, which would otherwise contend
    #: with the scan tasks and turn scheduler noise into latency.
    master = f"local[{max(1, harness.cores() // 2)}]"

    def setup(self, spark, seed):
        from reactive_kinesis_spark.streaming.live_source import register_live_source

        from perfbench.layers import TracedLiveDataSource

        register_live_source(spark)
        spark.dataSource.register(TracedLiveDataSource)
        return None

    def measure(self, spark, state, seed, seconds, tracer, tag):
        from perfbench import live_tail

        res = live_tail.run_pass(spark, seed, seconds, tag, tracer)
        if res["late_max_s"] > live_tail.LATE_LIMIT_S:
            harness.note(
                f"live_tail: FLAGGED: generator ran {res['late_max_s']:.3f} s behind its "
                f"schedule (limit {live_tail.LATE_LIMIT_S} s); offered load was not as planned"
            )
        tracer.record("generator", res["first_due"], res["schedule_end"],
                      late_p99_s=res["late_p99_s"], late_max_s=res["late_max_s"])
        return res, live_tail.end_to_end(res)

    def probes(self, spark, state, seed, seconds, tracer):
        """The curation queries run here as a layer probe (see README)."""
        data = harness.fresh_dir("curation", "data")
        curation_batch.generate(seed, data)
        frames = curation_batch.run_pass(spark, data, tracer)
        return curation_batch.check(frames, data)


class ReplayRelay:
    name = "replay_relay"
    master = None

    @staticmethod
    def _register(spark):
        from reactive_kinesis_spark.streaming.replay_source import register_replay_source

        from perfbench.layers import TracedReplayDataSource

        register_replay_source(spark)
        spark.dataSource.register(TracedReplayDataSource)

    def setup(self, spark, seed):
        from perfbench import replay_relay

        self._register(spark)
        return replay_relay.stage(seed, replay_relay.RECORDS_PER_SHARD, harness.fresh_dir("relay_backlog"))

    def measure(self, spark, state, seed, seconds, tracer, tag):
        from perfbench import replay_relay

        res = replay_relay.run_pass(spark, state, seed, seconds, tag, tracer)
        return res, replay_relay.end_to_end(res)

    def probes(self, spark, state, seed, seconds, tracer):
        """The wire-format probe, then the single-core baseline: the same
        relay at ``local[1]``."""
        from perfbench import replay_relay

        replay_relay.kpl_probe(state, tracer)
        spark.stop()
        spark, _ = harness.start_spark(master="local[1]")
        self._register(spark)
        t0 = time.time()
        res, e2e = self.measure(spark, state, seed, seconds / 3, harness.Tracer(None), "single_core")
        tracer.record("relay.single_core", t0, time.time(), rps=e2e["throughput_rps"])
        return res["failed"], res["attempted"]


WORKLOADS = {w.name: w for w in (LiveTail(), ReplayRelay())}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not harness.package_present():
        harness.note("perfbench: the reactive_kinesis_spark package is not in this checkout")
        return 2
    harness.prepare_process_env()
    wl = WORKLOADS[args.workload]

    setups, session_cold = [], None
    try:
        for i in range(1 if args.trace else SETUPS):
            if i:
                spark.stop()
            t0 = PROCESS_START if i == 0 else time.time()
            started = time.time()
            spark, session_s = harness.start_spark(master=wl.master)
            session_cold = session_cold or (started, started + session_s)
            state = wl.setup(spark, args.seed)
            setups.append(time.time() - t0)
        setup_s = harness.median(setups)

        off = harness.Tracer(None)
        res, e2e = wl.measure(spark, state, args.seed, args.seconds, off, "untraced")
        attempted, failed = res["attempted"], res["failed"]
        if not args.trace:
            metrics = {k: harness.metric(v, UNITS[k]) for k, v in e2e.items()}
            metrics["setup_s"] = harness.metric(setup_s, "s")
        else:
            trace_dir = harness.fresh_dir("trace", wl.name)
            tracer = harness.Tracer(trace_dir)
            reporter = _progress_reporter(spark, tracer)
            try:
                res_t, e2e_t = wl.measure(spark, state, args.seed, args.seconds, tracer, "traced")
            finally:
                reporter.detach(spark)
            attempted += res_t["attempted"]
            failed += res_t["failed"]
            tracer.record("session.start", *session_cold)
            tracer.record("trace.overhead", res["started"], res_t["ended"], **_overhead(wl.name, e2e, e2e_t))
            f, a = wl.probes(spark, state, args.seed, args.seconds, tracer)
            failed += f
            attempted += a
            tracer.flush()
            metrics = layer_metrics(harness.load_spans(trace_dir))
    finally:
        harness.stop_spark()
    harness.emit_result(failed == 0, attempted, failed, metrics)
    return 0


UNITS = {
    "latency_p50_s": "s",
    "latency_p99_s": "s",
    "sustained_rps": "rec/s",
    "throughput_rps": "rec/s",
    "wall_s": "s",
}


def _overhead(workload: str, untraced: dict, traced: dict) -> dict:
    """Relative cost of tracing on the workload's primary metric (positive
    = the traced run was slower)."""
    if workload == "live_tail":
        return {"ratio": traced["latency_p50_s"] / untraced["latency_p50_s"] - 1.0}
    return {"ratio": untraced["throughput_rps"] / traced["throughput_rps"] - 1.0}


def _progress_reporter(spark, tracer):
    """The package's ``MetricsReporter`` at ``detailed``, turning each
    micro-batch's progress into a span."""
    from reactive_kinesis_spark.streaming.metrics import MetricsReporter

    pending: dict = {}

    def emit(m: dict) -> None:
        key = (m.get("query_id"), m.get("batch_id"))
        if m["metric"] == "batch_records":
            pending[key] = m["value"]
        elif m["metric"] == "batch_duration_ms":
            d = m["durations_ms"]
            end = time.time()
            tracer.record("microbatch", end - d.get("triggerExecution", 0) / 1000.0, end,
                          records=pending.pop(key, 0), durations_ms=d)

    return MetricsReporter(level="detailed", granularity="global", emit=emit).attach(spark)


def layer_metrics(spans: list[dict]) -> dict:
    """Every per-layer metric, derived from the spans. A layer the workload
    does not exercise reports 0."""
    S = harness.spans_named
    m: dict[str, tuple[float, str]] = {}

    batches = [s for s in S(spans, "microbatch") if s["records"] > 0]
    nb = len(batches)

    def per_batch(phase: str) -> float:
        return sum(b["durations_ms"].get(phase, 0) for b in batches) / 1000.0 / nb if nb else 0.0

    live = S(spans, "live_source.read")
    m["live_source.poll_s"] = (per_batch("latestOffset") if live else 0.0, "s")
    m["live_source.records_per_batch"] = (
        sum(b["records"] for b in batches) / nb if live and nb else 0.0, "count")
    pages = S(spans, "consumer_aws.get_records")
    iters = S(spans, "consumer_aws.get_shard_iterator")
    m["consumer_aws.get_records_calls"] = (len(pages), "count")
    m["consumer_aws.get_records_s"] = (harness.busy_s(pages) / nb if nb else 0.0, "s")
    m["consumer_aws.get_shard_iterator_s"] = (harness.busy_s(iters) / nb if nb else 0.0, "s")
    m["consumer_aws.useful_page_ratio"] = (
        sum(1 for p in pages if p["records"]) / len(pages) if pages else 0.0, "ratio")
    syncs = S(spans, "lease.sync")
    m["lease.sync_s"] = (harness.busy_s(syncs) / len(syncs) if syncs else 0.0, "s")

    m["microbatch.batches"] = (nb, "count")
    m["microbatch.query_planning_s"] = (per_batch("queryPlanning"), "s")
    m["microbatch.add_batch_s"] = (per_batch("addBatch"), "s")
    m["checkpoint.wal_commit_s"] = (per_batch("walCommit"), "s")
    m["checkpoint.commit_offsets_s"] = (per_batch("commitOffsets"), "s")

    reads = S(spans, "replay_source.read")
    read_busy = harness.busy_s(reads)
    m["replay_source.read_rps"] = (sum(r["rows"] for r in reads) / read_busy if read_busy else 0.0, "rec/s")
    m["replay_source.bytes_read"] = (sum(r["bytes"] for r in reads), "B")

    for fn in ("unpack", "pack"):
        probe = S(spans, f"kpl.{fn}")
        rates = [p["users"] / (p["end"] - p["start"]) for p in probe if p["end"] > p["start"]]
        m[f"kpl.{fn}_rps"] = (harness.median(rates) if rates else 0.0, "rec/s")
    relay = S(spans, "relay.pass")
    kinesis = sum(r["kinesis_records"] for r in relay)
    users = sum(r["users"] for r in relay)
    m["deaggregate.fanout"] = (users / kinesis if kinesis else 0.0, "ratio")

    dlq_rows = sum(r["dlq_rows"] for r in relay)
    m["tolerance.dlq_rows"] = (dlq_rows, "count")
    m["tolerance.dlq_ratio"] = (dlq_rows / users if users else 0.0, "ratio")
    relay_batches = S(spans, "relay.batch")
    inner = harness.busy_s(S(spans, "sink.write_batch")) + harness.busy_s(S(spans, "tolerance.dlq"))
    m["tolerance.split_s"] = (
        (harness.busy_s(relay_batches) - inner) / len(relay_batches) if relay_batches else 0.0, "s")

    puts = S(spans, "sink.put_records")
    entries = sum(p["entries"] for p in puts)
    resent = sum(p["refused"] for p in puts)
    m["sink.requests"] = (len(puts), "count")
    m["sink.records_per_request"] = (entries / len(puts) if puts else 0.0, "count")
    m["sink.retry_ratio"] = (resent / (entries - resent) if entries > resent else 0.0, "ratio")
    m["sink.transport_busy_s"] = (
        harness.busy_s(puts) / len(relay_batches) if relay_batches else 0.0, "s")
    m["sink.max_inflight"] = (harness.max_overlap(puts), "count")
    m["sink.bytes_sent"] = (sum(p["bytes"] for p in puts), "B")
    single = S(spans, "relay.single_core")
    m["relay.single_core_rps"] = (single[0]["rps"] if single else 0.0, "rec/s")

    for name in curation_batch.QUERIES:
        q = S(spans, f"query.{name}")
        m[f"query.{name}_s"] = (harness.median([s["end"] - s["start"] for s in q]) if q else 0.0, "s")

    session = S(spans, "session.start")
    m["session.start_s"] = (harness.busy_s(session), "s")
    gen = S(spans, "generator")
    m["generator.late_p99_s"] = (max((g["late_p99_s"] for g in gen), default=0.0), "s")
    m["generator.late_max_s"] = (max((g["late_max_s"] for g in gen), default=0.0), "s")
    overhead = S(spans, "trace.overhead")
    m["trace.overhead_ratio"] = (overhead[0]["ratio"] if overhead else 0.0, "ratio")
    for key, value in harness.load_info().items():
        m[f"host.{key}"] = (value, "count" if key == "nproc" else "load")
    return {k: harness.metric(v, u) for k, (v, u) in m.items()}


if __name__ == "__main__":
    sys.exit(main())
