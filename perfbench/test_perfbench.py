"""Self-tests of the benchmark's checkers and plumbing; no Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import random

import numpy as np
import pandas as pd
import pytest

from perfbench import checks, harness, live_tail, livegen
from perfbench.layers import FlakyTransport, refused_first


def _acc(seqs) -> checks.MomentAccumulator:
    acc = checks.MomentAccumulator()
    seqs = list(seqs)
    if seqs:
        acc.add(len(seqs), min(seqs), max(seqs), sum(seqs), sum(s * s for s in seqs))
    return acc


def _live(delivered: dict[str, list[int]], generated: dict[str, int]) -> int:
    return checks.live_failures({s: _acc(v) for s, v in delivered.items()}, generated)[0]


def test_live_check_passes_exact_delivery():
    assert _live({"a": list(range(50)), "b": list(range(7))}, {"a": 50, "b": 7}) == 0


def test_live_check_counts_dropped_record():
    seqs = list(range(50))
    del seqs[17]
    assert _live({"a": seqs}, {"a": 50}) == 1


def test_live_check_counts_duplicated_record():
    assert _live({"a": list(range(50)) + [3]}, {"a": 50}) == 1


def test_live_check_catches_drop_hidden_by_duplicate():
    seqs = list(range(50))
    seqs[17] = 18  # 17 lost, 18 twice: same count, same bounds
    assert _live({"a": seqs}, {"a": 50}) >= 1


def test_live_check_counts_undelivered_shard_and_batches_merge():
    acc = _acc(range(0, 20))
    acc.add(20, 20, 39, sum(range(20, 40)), sum(s * s for s in range(20, 40)))
    assert acc.contiguous(40)
    assert checks.live_failures({"a": acc}, {"a": 40, "b": 5})[0] == 5


def _relay_items(n=200):
    sent = [("k", i) for i in range(n)]
    dlq = [("k", 10_000 + i) for i in range(3)]
    return sent, dlq


def test_relay_check_passes_exact_output():
    sent, dlq = _relay_items()
    assert checks.relay_failures(sent, dlq, list(reversed(sent)), dlq) == (0, 203)


def test_relay_check_counts_dropped_and_duplicated():
    sent, dlq = _relay_items()
    assert checks.relay_failures(sent, dlq, sent[1:], dlq)[0] == 1
    assert checks.relay_failures(sent, dlq, sent + sent[:2], dlq)[0] == 2


def test_relay_check_counts_dlq_row_that_was_sent():
    sent, dlq = _relay_items()
    assert checks.relay_failures(sent, dlq, sent + dlq[:1], dlq[1:])[0] == 2


def test_frames_equal_is_order_free_and_bit_exact():
    a = pd.DataFrame({"id": [1, 2], "x": [0.5, 0.25]})
    assert checks.frames_equal(a, a.iloc[::-1])
    b = a.copy()
    b.loc[0, "x"] = np.nextafter(0.5, 1.0)
    assert not checks.frames_equal(a, b)
    assert not checks.frames_equal(a, a.rename(columns={"x": "y"}))


def test_generator_lines_read_back_through_the_transport(tmp_path):
    from reactive_kinesis_spark.streaming.consumer_aws import LocalDirGetRecordsTransport

    path = tmp_path / "shardId-000000000000.jsonl"
    app = livegen.PageAlignedAppender(str(path))
    rng = random.Random(0)
    fill = livegen.fillers(rng, 4)
    lines = [
        livegen.encode_line(i, f"pk-{i}", livegen.payload(1_000_000 + i, 0, i, fill[i % 4]), 5)
        for i in range(200)
    ]
    for i in range(0, 200, 7):
        app.write_lines(lines[i : i + 7])
    app.close()
    raw = path.read_bytes()
    pos = 0
    for line in raw.split(b"\n"):
        if line:
            assert pos // livegen.PAGE == (pos + len(line)) // livegen.PAGE
        pos += len(line) + 1
    t = LocalDirGetRecordsTransport(str(tmp_path))
    page = t.get_records(t.get_shard_iterator("s", "shardId-000000000000", "trim_horizon"), 10_000)
    assert [r["SequenceNumber"] for r in page.records] == [f"{i:012d}" for i in range(200)]
    assert all(len(r["Data"]) == livegen.PAYLOAD_BYTES for r in page.records)
    assert int(page.records[5]["Data"][:16]) == 1_000_005


def test_flaky_transport_refuses_once_then_accepts(tmp_path):
    entries = [("pk", b"entry-%d" % i) for i in range(2000)]
    refused = [e for e in entries if refused_first(7, e[1])]
    assert 5 < len(refused) < 60
    t = FlakyTransport(str(tmp_path), seed=7)
    first = t("s", entries)
    assert [e for e, ok in zip(entries, first) if not ok] == refused
    assert all(t("s", refused))
    assert sorted(t.read_back()) == sorted(entries)


def test_tracer_records_parents_and_flushes(tmp_path):
    tracer = harness.Tracer(str(tmp_path))
    with tracer.span("outer"):
        with tracer.span("inner", n=3) as attrs:
            attrs["extra"] = 1
    tracer.flush()
    spans = {s["name"]: s for s in harness.load_spans(str(tmp_path))}
    assert spans["inner"]["parent"] == spans["outer"]["id"]
    assert spans["inner"]["n"] == 3 and spans["inner"]["extra"] == 1
    assert harness.max_overlap(list(spans.values())) == 2
    off = harness.Tracer(None)
    with off.span("x"):
        pass
    off.flush()


def test_layer_metrics_report_every_metric_from_no_spans():
    import json

    from perfbench.run import layer_metrics

    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as fh:
        names = {m["name"] for m in json.load(fh)["per_layer"]}
    assert set(layer_metrics([])) == names


@pytest.mark.parametrize("values,q,expected", [([3, 1, 2], 50, 2), (list(range(1, 101)), 99, 99)])
def test_percentile_nearest_rank(values, q, expected):
    assert harness.percentile(values, q) == expected


def _live_round(extra_s: list[float], per_window: int = 10) -> dict:
    """A one-shard base rung of ``len(extra_s)`` trigger periods; the batch
    of period ``w`` ends ``extra_s[w]`` after the period."""
    period = live_tail.TRIGGER_S
    n = per_window * len(extra_s)
    batches, seq = [], 0
    for w, extra in enumerate(extra_s):
        due = [w * period + (j + 0.5) * period / per_window for j in range(per_window)]
        seqs = list(range(seq, seq + per_window))
        seq += per_window
        batches.append({
            "end": (w + 1) * period + extra, "due_us": [int(d * 1e6) for d in due],
            "shards": [{"shard_id": "s0", "n": len(seqs), "min_seq": seqs[0], "max_seq": seqs[-1],
                        "sum_seq": sum(seqs), "sum_sq": sum(x * x for x in seqs)}],
        })
    gen = {"steps": [{"rate": live_tail.BASE_RATE, "start": 0.0, "end": period * len(extra_s), "records": n}],
           "per_shard": {"s0": n}, "late_p99_s": 0.0, "late_max_s": 0.0}
    return {**live_tail.summarize(batches, gen, True), "started": 0.0, "ended": 1.0}


def test_live_rung_figures_ignore_a_stalled_window():
    steady = live_tail.end_to_end(live_tail.combine([_live_round([0.5, 0.5, 0.5]), _live_round([0.5, 0.5, 0.5])]))
    stalled = live_tail.end_to_end(live_tail.combine([_live_round([0.5, 0.5, 0.5]), _live_round([0.5, 0.5, 3.0])]))
    period = live_tail.TRIGGER_S
    assert steady["latency_p50_s"] == pytest.approx(period / 2 + 0.5, abs=period / 10)
    assert stalled["latency_p50_s"] == steady["latency_p50_s"]
    assert stalled["latency_p99_s"] == steady["latency_p99_s"]
    assert steady["sustained_rps"] == live_tail.BASE_RATE


def test_live_rung_figures_follow_a_slower_batch_everywhere():
    fast = live_tail.end_to_end(live_tail.combine([_live_round([0.5, 0.5, 0.5])] * 2))
    slow = live_tail.end_to_end(live_tail.combine([_live_round([0.8, 0.8, 0.8])] * 2))
    assert slow["latency_p50_s"] == pytest.approx(fast["latency_p50_s"] + 0.3)


def test_live_plans_fill_the_window_in_whole_trigger_periods():
    plans = live_tail._plans(15)
    assert len(plans) == live_tail.ROUNDS
    assert sum(s for plan in plans for _, s in plan) <= 15
    for plan in plans:
        assert [r for r, _ in plan[:2]] == list(live_tail.LADDER[:2])
        for _, s in plan[:2]:
            assert (s / live_tail.TRIGGER_S) == pytest.approx(round(s / live_tail.TRIGGER_S))
    assert plans[-1][-1][0] == live_tail.LADDER[-1]
