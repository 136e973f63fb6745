"""Output checks. Each returns ``(failed, attempted)``: records (or
queries) lost, duplicated, unsent or mismatching, against the number the
workload attempted. They are plain Python so the self-tests can feed them
injected faults without Spark."""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass


@dataclass
class MomentAccumulator:
    """Per-shard count, min, max and first two moments of the delivered
    sequence numbers, merged over batches."""

    n: int = 0
    min_seq: int | None = None
    max_seq: int | None = None
    sum_seq: int = 0
    sum_sq: int = 0

    def add(self, n: int, min_seq: int, max_seq: int, sum_seq: int, sum_sq: int) -> None:
        self.n += n
        self.min_seq = min_seq if self.min_seq is None else min(self.min_seq, min_seq)
        self.max_seq = max_seq if self.max_seq is None else max(self.max_seq, max_seq)
        self.sum_seq += sum_seq
        self.sum_sq += sum_sq

    def contiguous(self, expected: int) -> bool:
        """Exactly the multiset {0, ..., expected-1}: count, bounds and the
        first two moments pin it, since swapping a missing value for a
        duplicate shifts the sum or the sum of squares."""
        if expected == 0:
            return self.n == 0
        p = expected
        return (
            self.n == p
            and self.min_seq == 0
            and self.max_seq == p - 1
            and self.sum_seq == p * (p - 1) // 2
            and self.sum_sq == (p - 1) * p * (2 * p - 1) // 6
        )


def live_failures(delivered: dict[str, MomentAccumulator], generated: dict[str, int]) -> tuple[int, int]:
    """Per shard: a shard whose delivered sequence numbers are not exactly
    0..n-1 counts its count difference as failed, and at least one."""
    attempted = sum(generated.values())
    failed = 0
    for shard, n in generated.items():
        acc = delivered.get(shard, MomentAccumulator())
        if not acc.contiguous(n):
            failed += max(1, abs(acc.n - n))
    for shard, acc in delivered.items():
        if shard not in generated:
            failed += acc.n
    return failed, max(attempted, 1)


def multiset_failures(expected, actual) -> int:
    """Size of the multiset symmetric difference: every lost, duplicated or
    altered item counts once."""
    exp, act = Counter(expected), Counter(actual)
    return sum(((exp - act) + (act - exp)).values())


def relay_failures(expected_sent, expected_dlq, sent, dlq) -> tuple[int, int]:
    """The transport output must equal the input minus the DLQ, and the DLQ
    must equal the rows failing the predicate. Items are hashable record
    digests."""
    expected_sent, expected_dlq = list(expected_sent), list(expected_dlq)
    failed = multiset_failures(expected_sent, sent) + multiset_failures(expected_dlq, dlq)
    return failed, max(len(expected_sent) + len(expected_dlq), 1)


def frames_equal(spark_df, oracle_df) -> bool:
    """Row-set equality of two pandas frames, floats compared bit for bit
    (the engine's numeric policy makes Spark match the DuckDB oracle
    exactly)."""
    import numpy as np

    if sorted(spark_df.columns) != sorted(oracle_df.columns) or len(spark_df) != len(oracle_df):
        return False
    cols = sorted(spark_df.columns)
    a = spark_df[cols].sort_values(cols, ignore_index=True)
    b = oracle_df[cols].sort_values(cols, ignore_index=True)
    for c in cols:
        if a[c].dtype.kind == "f" or b[c].dtype.kind == "f":
            if not np.array_equal(a[c].to_numpy(dtype="float64"), b[c].to_numpy(dtype="float64"), equal_nan=True):
                return False
        elif a[c].astype(str).tolist() != b[c].astype(str).tolist():
            return False
    return True
