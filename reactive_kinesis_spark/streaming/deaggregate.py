"""Record aggregation / deaggregation (O2/O3 in SURVEY.md §2.1).

The reference consumes KPL-aggregated records: the KCL explodes each Kinesis
record into ``UserRecord``s carrying a ``subSequenceNumber``
(consumer/ConsumerProcessingManager.scala:82-89; explicit deaggregation in
it/.../common/KinesisTestConsumer.scala:83-90), and the KPL packs user
records up to AggregationMaxCount/AggregationMaxSize (reference.conf:57-91).

Two wire formats, auto-detected by magic on the consumer side:

* **KPL protobuf** (:mod:`reactive_kinesis_spark.streaming.kpl`) — the
  published format real Kinesis producers emit (magic F3899AC2 +
  AggregatedRecord + md5), hand-coded dependency-free, so the engine
  deaggregates genuine KPL data;
* **RKSA1** — the engine's own deterministic format (simpler framing,
  kept as the producer default and for pre-existing test fixtures):

    RKSA1 | u32 count | repeat: u16 pk_len | pk utf8 | u32 data_len | data

Both directions are Arrow-batched ``mapInPandas`` (binary parsing is the
genuinely-Python part; everything around it stays JVM-side).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reactive_kinesis_spark.schemas import EVENT_SCHEMA

MAGIC = b"RKSA1"


def pack_records(records: list[tuple[str, bytes]]) -> bytes:
    """Pack (partition_key, payload) user records into one aggregated blob."""
    out = [MAGIC, struct.pack(">I", len(records))]
    for pk, data in records:
        pk_b = pk.encode("utf-8")
        out.append(struct.pack(">H", len(pk_b)))
        out.append(pk_b)
        out.append(struct.pack(">I", len(data)))
        out.append(data)
    return b"".join(out)


def is_aggregate(blob: bytes) -> bool:
    """True if ``blob`` carries either aggregate magic (RKSA1 or KPL) —
    the one deaggregation decision both :func:`deaggregate` and the live
    source make."""
    from reactive_kinesis_spark.streaming.kpl import is_kpl_aggregate

    return blob.startswith(MAGIC) or is_kpl_aggregate(blob)


class CorruptAggregateError(ValueError):
    """An RKSA1-magic blob whose body doesn't parse — surface clearly so
    callers can route the record to a DLQ (tolerance.py) instead of
    debugging a struct error."""


def unpack_records(blob: bytes) -> list[tuple[str, bytes]]:
    """Inverse of :func:`pack_records`; also transparently unpacks
    KPL-protobuf aggregates (magic-dispatched); non-aggregated blobs
    return themselves as a single record with an empty partition key
    marker."""
    from reactive_kinesis_spark.streaming.kpl import is_kpl_aggregate, unpack_kpl_records

    if is_kpl_aggregate(blob):
        return unpack_kpl_records(blob)
    if not blob.startswith(MAGIC):
        return [("", bytes(blob))]
    try:
        off = len(MAGIC)
        (count,) = struct.unpack_from(">I", blob, off)
        off += 4
        out = []
        for _ in range(count):
            (pk_len,) = struct.unpack_from(">H", blob, off)
            off += 2
            pk = blob[off : off + pk_len].decode("utf-8")
            off += pk_len
            (data_len,) = struct.unpack_from(">I", blob, off)
            off += 4
            if off + data_len > len(blob):
                raise CorruptAggregateError(
                    f"aggregated record truncated: need {off + data_len} bytes, have {len(blob)}"
                )
            out.append((pk, bytes(blob[off : off + data_len])))
            off += data_len
        return out
    except (struct.error, UnicodeDecodeError) as e:
        raise CorruptAggregateError(f"aggregated record corrupt: {e}") from e


def aggregate_records(
    df: DataFrame,
    max_count: int = 100,
    max_size: int = 51_200,
    wire_format: str = "rksa1",
) -> DataFrame:
    """Producer-side aggregation: pack EVENT_SCHEMA rows into aggregated
    records per (shard_id, partition_key), respecting AggregationMaxCount /
    AggregationMaxSize (reference.conf:57-91). Rows are packed in
    (sequence_number, sub_sequence_number) order; output keeps the FIRST
    packed record's sequence number (the Kinesis-visible one).

    ``wire_format``: ``"rksa1"`` (engine format, default) or ``"kpl"``
    (the published KPL protobuf aggregate — what a real KCL consumer
    deaggregates). The consumer side auto-detects either.

    Runs per partition after a hash repartition on the grouping key —
    map-side packing, one shuffle, no driver involvement.
    """
    import pandas as pd

    if wire_format == "kpl":
        from reactive_kinesis_spark.streaming.kpl import pack_kpl_records

        pack_blob = pack_kpl_records
    elif wire_format == "rksa1":
        pack_blob = pack_records
    else:
        raise ValueError(f"unknown wire_format {wire_format!r}; use 'rksa1' or 'kpl'")

    def pack(batches: Iterator) -> Iterator:
        for pdf in batches:
            rows = []
            pdf = pdf.sort_values(["shard_id", "partition_key", "sequence_number", "sub_sequence_number"])
            for (shard, pk), grp in pdf.groupby(["shard_id", "partition_key"], sort=False):
                buf: list[tuple[str, bytes]] = []
                size = 0
                first = None
                for r in grp.itertuples(index=False):
                    data = bytes(r.payload)
                    if buf and (len(buf) >= max_count or size + len(data) > max_size):
                        rows.append((r.stream_name, shard, pk, first.sequence_number, 0, pack_blob(buf), first.approximate_arrival_timestamp))
                        buf, size, first = [], 0, None
                    if first is None:
                        first = r
                    buf.append((pk, data))
                    size += len(data) + len(pk.encode()) + 6
                if buf:
                    rows.append((first.stream_name, shard, pk, first.sequence_number, 0, pack_blob(buf), first.approximate_arrival_timestamp))
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "stream_name",
                        "shard_id",
                        "partition_key",
                        "sequence_number",
                        "sub_sequence_number",
                        "payload",
                        "approximate_arrival_timestamp",
                    ],
                )

    return (
        df.repartition("shard_id", "partition_key")
        .mapInPandas(pack, EVENT_SCHEMA)
    )


def deaggregate(df: DataFrame) -> DataFrame:
    """Consumer-side deaggregation: explode aggregated payloads back into
    user records with ``sub_sequence_number`` 0..k-1 (the KCL
    ``UserRecord.deaggregate`` analog). Non-aggregated records pass through
    with their original sub-sequence. Narrow transform — no shuffle."""
    import pandas as pd

    def unpack(batches: Iterator) -> Iterator:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                blob = bytes(r.payload)
                if is_aggregate(blob):
                    for sub, (pk, data) in enumerate(unpack_records(blob)):
                        rows.append(
                            (r.stream_name, r.shard_id, pk or r.partition_key,
                             r.sequence_number, sub, data, r.approximate_arrival_timestamp)
                        )
                else:
                    rows.append(tuple(r))
            if rows:
                yield pd.DataFrame(rows, columns=list(pdf.columns))

    return df.select(*[f.name for f in EVENT_SCHEMA.fields]).mapInPandas(unpack, EVENT_SCHEMA)


def deaggregated_payload_strings(df: DataFrame) -> DataFrame:
    """Convenience: deaggregate + decode payloads to strings
    (payloadAsString parity, models/ConsumerEvent.scala:60-61)."""
    return deaggregate(df).withColumn("payload_str", F.col("payload").cast("string"))
