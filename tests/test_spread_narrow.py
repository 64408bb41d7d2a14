"""Focused tests for helpers.spread_narrow (r14 optimization): the
scale-adaptive parallelism guard must fire on narrow inputs, stay a no-op
on wide ones, and never change results."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ir_analyses_spark.ops.helpers import _parse_bytes, input_bytes, spread_narrow
from ir_analyses_spark.registry import all_queries


def test_parse_bytes_forms():
    forms = {
        "134217728": 128 << 20,
        "128m": 128 << 20,
        "128MB": 128 << 20,
        "1g": 1 << 30,
        " 4194304 ": 4 << 20,
        "1.5g": 3 << 29,
        # the forms io.sources' scan-split bound parsed before the merge
        "134217728b": 128 << 20,
        "4194304b": 4 << 20,
        "128mib": 128 << 20,
        "64KiB": 64 << 10,
        "1p": 1 << 50,
    }
    for raw, want in forms.items():
        assert _parse_bytes(raw) == want, raw
    with pytest.raises(ValueError):
        _parse_bytes("not-a-size")


def test_scan_split_bound_degrades_on_unparsable_conf():
    """Spark rejects a bad size conf on set, so a stub session carries it:
    the scan-split bound degrades to 0, the order-safe non-splittable
    path, where the shared parser raises."""
    from types import SimpleNamespace

    from ir_analyses_spark.io.sources import _no_split_limit

    stub = SimpleNamespace(conf=SimpleNamespace(get=lambda k, d: "not-a-size"))
    assert _no_split_limit(stub) == 0


def test_directory_table_keeps_gate_off_at_scale(spark, sf_dir, tmp_path):
    """A Spark-written table is a DIRECTORY: its input size is the summed
    part files, not the ~4 KB directory inode — sizing it by the inode
    would REBALANCE an arbitrarily large corpus. With the split confs
    lowered so the real bytes plan defaultParallelism splits, the gate
    (and pricing_summary over that table) must stay a no-op."""
    import glob
    import os

    sf = tmp_path / "sf"
    table = str(sf / "lineitem.parquet")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").repartition(4).write.parquet(
        table
    )
    parts = glob.glob(os.path.join(table, "*.parquet"))
    nbytes = input_bytes(table)
    assert nbytes == sum(os.path.getsize(p) for p in parts)
    assert nbytes != os.path.getsize(table)
    par = spark.sparkContext.defaultParallelism
    split = nbytes // par
    assert split > os.path.getsize(table)  # the inode size would look narrow
    keys = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    old = [spark.conf.get(k) for k in keys]
    try:
        for k in keys:
            spark.conf.set(k, str(split))
        df = spark.range(10)
        assert spread_narrow(df, approx_input_bytes=nbytes) is df
        assert spread_narrow(df, approx_input_bytes=os.path.getsize(table)) is not df
        plan = all_queries()["pricing_summary"](spark, str(sf))._jdf
        assert "rebalance" not in plan.queryExecution().logical().toString().lower()
    finally:
        for k, v in zip(keys, old):
            spark.conf.set(k, v)


def test_gate_fires_on_narrow_input(spark):
    df = spark.range(1000)
    # tiny input → estimated splits < parallelism → REBALANCE hint applied
    out = spread_narrow(df, approx_input_bytes=10 << 20)
    assert "rebalance" in out._jdf.queryExecution().logical().toString().lower()


def test_gate_noop_on_wide_input(spark):
    df = spark.range(1000)
    # 100 TB-ish input → ≥ parallelism full-size splits → untouched plan
    out = spread_narrow(df, approx_input_bytes=100 << 40)
    assert out is df


def test_gate_rdd_fallback(spark):
    # no size hint → RDD partition-count gate; a 1-partition frame on a
    # multi-core master must be widened
    df = spark.range(1000).coalesce(1)
    if spark.sparkContext.defaultParallelism > 1:
        out = spread_narrow(df)
        assert (
            "rebalance"
            in out._jdf.queryExecution().logical().toString().lower()
        )


def test_pricing_summary_result_unchanged_by_guard(spark, sf_dir):
    """The guard must be result-invariant: compare the registry query
    (guard active at the test SF) against the same aggregation computed
    without the guard."""
    got = (
        all_queries()["pricing_summary"](spark, sf_dir)
        .orderBy("l_returnflag", "l_linestatus")
        .collect()
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    dec = lambda c: F.sum(F.expr(f"CAST({c} AS DECIMAL(38,6))")).cast("double")  # noqa: E731
    plain = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec("l_quantity").alias("sum_qty"),
            dec("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price.cast("decimal(38,6)")).cast("double").alias("sum_disc_price"),
            F.sum(charge.cast("decimal(38,6)")).cast("double").alias("sum_charge"),
            (dec("l_quantity") / F.count("l_quantity")).alias("avg_qty"),
            (dec("l_extendedprice") / F.count("l_extendedprice")).alias("avg_price"),
            (dec("l_discount") / F.count("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in plain]
