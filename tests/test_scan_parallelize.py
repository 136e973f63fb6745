"""Pins for the round-14 deficient-scan repartition and the per-session
table memo (reactive_kinesis_spark.tables).

The optimization (guide §2.5 "input skew — one huge unsplittable file …
otherwise repartition immediately after the read"): a parquet layout with
fewer row groups than ``defaultParallelism`` cannot feed every core — the
scan is effectively serial — so ``load_table`` repartitions fact tables by
their canonical key right after the read. The condition is derived from the
input layout, so on any production layout (row groups >= cores) the plan is
untouched; ``tests/test_plans.py`` asserts those production shapes with the
kill-switch set.
"""

from __future__ import annotations

import os

import pytest

from reactive_kinesis_spark import tables
from reactive_kinesis_spark.tables import load_table


@pytest.fixture(autouse=True)
def _fresh_memo():
    tables._TABLE_MEMO.clear()
    os.environ.pop("SPARK_GRAFT_SCAN_PARALLELIZE", None)
    yield
    tables._TABLE_MEMO.clear()
    os.environ.pop("SPARK_GRAFT_SCAN_PARALLELIZE", None)


def _plan(df) -> str:
    jdf = df._jdf
    jvm = df.sparkSession._jvm
    return jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_fires_on_deficient_layout_with_canonical_key(spark, sf_dir):
    # the committed testdata is single-row-group → deficient on local[N>1]
    plan = _plan(load_table(spark, sf_dir, "lineitem"))
    assert "Exchange" in plan and "hashpartitioning(l_partkey" in plan


def test_kill_switch_disables_injection(spark, sf_dir):
    os.environ["SPARK_GRAFT_SCAN_PARALLELIZE"] = "0"
    tables._TABLE_MEMO.clear()
    plan = _plan(load_table(spark, sf_dir, "lineitem"))
    assert "Exchange" not in plan


def test_dimensions_are_never_repartitioned(spark, sf_dir):
    for dim in ("region", "nation", "customer", "supplier", "part"):
        assert "Exchange" not in _plan(load_table(spark, sf_dir, dim))


def test_production_layout_is_untouched(spark, sf_dir, tmp_path):
    """A layout with row groups >= defaultParallelism must not gain an
    exchange — the injection is scale-adaptive, not a local[32] constant."""
    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, "lineitem.parquet")
    tbl = pq.read_table(src)
    rg_rows = max(1, tbl.num_rows // (spark.sparkContext.defaultParallelism + 1))
    dst = tmp_path / "lineitem.parquet"
    pq.write_table(tbl, str(dst), row_group_size=rg_rows)
    assert pq.ParquetFile(str(dst)).metadata.num_row_groups >= (
        spark.sparkContext.defaultParallelism
    )
    plan = _plan(load_table(spark, str(tmp_path), "lineitem"))
    assert "Exchange" not in plan


def test_pushdown_and_pruning_reach_scan_through_repartition(spark, sf_dir):
    from pyspark.sql import functions as F

    df = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") < 5)
        .select("l_orderkey")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,5.0)]" in plan
    import re

    read = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    cols = {c.split(":")[0] for c in read.split(",")}
    # the repartition key is read in addition to the query's columns —
    # that, and nothing else
    assert cols == {"l_orderkey", "l_quantity", "l_partkey"}


def test_parallelize_false_opts_out(spark, sf_dir):
    plan = _plan(load_table(spark, sf_dir, "documents", parallelize=False))
    assert "Exchange" not in plan


def test_memo_returns_same_frame_and_respects_flags(spark, sf_dir):
    a = load_table(spark, sf_dir, "documents")
    b = load_table(spark, sf_dir, "documents")
    assert a is b  # per-session memo: one read/analysis per table
    c = load_table(spark, sf_dir, "documents", parallelize=False)
    assert c is not a
    assert "Exchange" in _plan(a)
    assert "Exchange" not in _plan(c)


def test_memoized_frame_still_recomputes_from_parquet(spark, sf_dir):
    """The memo caches a LAZY plan, never data: no InMemoryRelation may
    appear, and a second action re-reads the scan (values identical)."""
    df = load_table(spark, sf_dir, "lineitem")
    assert "InMemoryRelation" not in _plan(df)
    n1 = df.count()
    n2 = load_table(spark, sf_dir, "lineitem").count()
    assert n1 == n2 > 0


def test_scan_layout_skips_hidden_and_staging_directories(tmp_path):
    """Parquet under ``_tmp/`` or ``.staging/`` is not part of the table
    and must not inflate the layout the repartition is sized from; a
    Hive-partitioned subdirectory still counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({"x": list(range(100))})
    root = tmp_path / "t"
    for sub in ("", "k=1", "_tmp", ".staging"):
        (root / sub).mkdir(parents=True, exist_ok=True)
        pq.write_table(table, str(root / sub / "part.parquet"))
    one_rgs, one_bytes = tables._scan_layout(str(root / "part.parquet"))
    assert tables._scan_layout(str(root)) == (2 * one_rgs, 2 * one_bytes)
