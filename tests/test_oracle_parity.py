"""Differential correctness: every registered query with an oracle must
match DuckDB exactly at sf0.001 (the driver runs the same check at sf0.01).

Queries without an oracle entry are still executed (rows-only smoke)."""

from __future__ import annotations

import os
import re
import tempfile

import pytest

from ir_analyses_spark.registry import all_oracles, all_queries

from .compare import assert_matches_oracle, duckdb_conn

QUERIES = all_queries()
ORACLES = all_oracles()


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_conn(sf_dir)
    yield c
    c.close()


def test_approx_sketches_error_bounded(spark, sf_dir):
    """The rows-only sketch query still has checkable semantics: HLL
    distinct within 5% of exact, approx quantiles inside the exact
    neighborhood (percentile_approx's accuracy contract)."""
    from pyspark.sql import functions as F

    from ir_analyses_spark.io.sources import load_table

    li = load_table(spark, "lineitem", sf_dir)
    approx = {
        r["l_returnflag"]: r
        for r in QUERIES["approx_sketches"](spark, sf_dir).collect()
    }
    exact = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("parts"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("q50"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for flag, e in exact.items():
        a = approx[flag]
        # bound = 3× the sketch's default relative standard error (5%):
        # a 1×rsd bound would fail ~1/3 of groups on a CORRECT
        # implementation at some scale factor
        assert abs(a["approx_parts"] - e["parts"]) <= 0.15 * e["parts"], flag
        # percentile_approx returns a true data value near the quantile
        assert e["lo"] <= a["price_q50"] <= e["hi"], flag
        assert abs(a["price_q50"] - e["q50"]) <= 0.2 * (e["hi"] - e["lo"]), flag
        assert a["price_q50"] <= a["price_q95"] <= a["price_q99"], flag


def test_hll_union_partition_independent_and_bounded(spark, sf_dir):
    """The properties that make sketch rollups valid at any scale:

    1. PARTITION INDEPENDENCE — unioning per-cell sketches gives exactly
       the same estimate no matter how the data was split (register-max is
       associative/commutative): the registry's (flag, linestatus) cells
       must agree with an arbitrary salted 7-way split.
    2. BOUNDED ERROR — the union estimate stays within 3× the sketch's
       relative standard error of the exact distinct count.

    (Union-of-parts is NOT compared against a directly-built single
    sketch: a direct sketch answers with the HIP estimator, which any
    union invalidates — both are within the bound, but they are not
    numerically identical once past exact list mode.)"""
    from pyspark.sql import functions as F

    from ir_analyses_spark.io.sources import load_table

    li = load_table(spark, "lineitem", sf_dir)
    merged = {
        r["l_returnflag"]: r["approx_parts"]
        for r in QUERIES["hll_mergeable_rollup"](spark, sf_dir).collect()
    }
    salted = {
        r["l_returnflag"]: r["approx_parts"]
        for r in li.withColumn("_salt", F.pmod(F.xxhash64("l_orderkey"), F.lit(7)))
        .groupBy("l_returnflag", "_salt")
        .agg(F.hll_sketch_agg("l_partkey").alias("sketch"))
        .groupBy("l_returnflag")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("approx_parts"))
        .collect()
    }
    assert merged == salted  # any partitioning, same union result
    exact = {
        r["l_returnflag"]: r["parts"]
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("parts"))
        .collect()
    }
    for flag, est in merged.items():
        assert abs(est - exact[flag]) <= 0.05 * 3 * exact[flag], flag


#: rows-only queries pin their column lists here so a silent schema change
#: (renamed/dropped column) fails even without an oracle
ROWS_ONLY_SCHEMAS = {
    "approx_sketches": ["l_returnflag", "approx_parts", "price_q50", "price_q95", "price_q99"],
    "hll_mergeable_rollup": ["l_returnflag", "approx_parts"],
    "ann_ml_brp_lsh": ["v1", "v2", "dist"],
}


def test_rows_only_schema_registry_in_sync():
    assert set(ROWS_ONLY_SCHEMAS) == set(QUERIES) - set(ORACLES)


#: registry rows that run a real stream: staged sources, checkpoints and
#: sink tables are theirs to delete, so repeated sweeps accrete nothing
STREAM_CERTIFICATES = {
    "stateful_user_totals",
    "stream_dedup_watermark",
    "stream_static_enrich",
    "stream_stream_interval_join",
    "stream_incremental_rollup",
    "stream_index_append",
    "stream_txn_sink",
}

#: what the JVM leaves in the temp dir ONCE per process on first use — the
#: extracted snappy/lz4/RocksDB native libraries and the session's artifact
#: directory — is not a run's residue
_ONCE_PER_PROCESS = re.compile(r".*\.so(\.lck)?|artifacts-[0-9a-f-]+")


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, sf_dir, con):
    before = set(os.listdir(tempfile.gettempdir()))
    df = QUERIES[name](spark, sf_dir)
    if name in ORACLES:
        assert_matches_oracle(df, con, ORACLES[name], name=name)
    else:
        # rows-only: must execute AND keep its declared schema
        assert df.columns == ROWS_ONLY_SCHEMAS[name], name
        df.count()
    if name in STREAM_CERTIFICATES:
        residue = {
            e for e in set(os.listdir(tempfile.gettempdir())) - before
            if not _ONCE_PER_PROCESS.fullmatch(e)
        }
        assert not residue, (name, sorted(residue))
