"""Shared helpers for the operator library.

Oracle-exact aggregation: the driver hash-compares our results against a
DuckDB oracle. Floating-point SUM is not associative, and Spark's partial/
final aggregation adds doubles in a different order than DuckDB's sequential
scan — the low-order bits would diverge and the value-hash would miss. So
every headline SUM/AVG over a double column routes through an exact decimal
accumulator (associative, order-insensitive) and casts the final result back
to double. The per-row double→decimal cast happens inside whole-stage
codegen; at 100 TB this is the price of a reproducible answer, and it is the
same trick TPC-H kit queries use (decimal money types) expressed on parquet
double columns.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import Column, DataFrame, functions as F


def local_df(spark, rows, schema) -> DataFrame:
    """A DataFrame over a small driver-local list of PRIMITIVE-typed
    rows that plans as a pure-JVM ``LocalRelation`` instead of a
    Python-RDD scan.

    ``spark.createDataFrame(list, schema)`` yields a ``LogicalRDD``
    whose EVERY action round-trips a Python worker — measured 5-7 s per
    job for a ONE-ROW frame on this box (r14, guide §4: the Python
    boundary), paid by every metadata write and literal lookup table
    sitting on a query path. Routing the same rows through a pandas
    frame takes Spark's Arrow conversion into a ``LocalRelation``: same
    rows, same schema, pure JVM execution (~0.2 s per job).

    Scope guard: cells must be int / float / str / bool / None and rows
    tuples or lists (positional against ``schema``). Richer cells
    (timestamps, decimals, nested) have conversion semantics that can
    differ between the two paths — keep those on ``createDataFrame``.
    """
    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], schema)
    for r in rows:
        for c in r:
            if c is not None and not isinstance(c, (int, float, str, bool)):
                raise TypeError(
                    f"local_df cells must be primitives, got {type(c)!r}"
                )
    import pandas as pd

    # dtype=object keeps ints exact (no int->float NaN promotion when a
    # column mixes None) — Arrow casts each cell straight to the schema
    # field's type, exactly like the row-based path
    pdf = pd.DataFrame(rows, dtype=object)
    return spark.createDataFrame(pdf, schema=schema)


def spread_narrow(df: DataFrame, approx_input_bytes: int | None = None) -> DataFrame:
    """Scale-adaptive parallelism guard for expensive aggregation work over
    a NARROW scan (guide §2.5/§2.6 shape; the dedup module's ``_spread``
    discipline applied to the relational side).

    A small parquet input arrives as ONE split (single row group), so the
    map-side partial aggregation — e.g. pricing_summary's five exact
    decimal(38,6) sums, measured ~1.5 s single-threaded at sf0.1 vs ~0.3 s
    for the bare scan — runs on one core while the rest of the cluster
    idles. When the scan has fewer partitions than the cluster's
    parallelism, a REBALANCE exchange of the (projected) rows fans the
    aggregation out; measured 2.5-3× on pricing_summary (guide §1.2 step 1:
    fix the distributed shape first).

    At real scale the scan already has ≥ defaultParallelism splits and this
    is a NO-OP — no exchange is added, so it is not a local-only tuning.
    Row→partition assignment is not deterministic under fetch-failure
    retries (round-robin), which is safe here exactly because every
    consumer is an order-insensitive aggregation (the decimal-accumulator
    discipline this module exists for); do NOT reuse this in front of
    order-sensitive operators.

    Gate cost matters: ``df.rdd.getNumPartitions()`` (the dedup module's
    gate) re-plans the query and measured ~0.1 s per call — most of the
    win. When the caller knows the input's on-disk size
    (:func:`input_bytes`) it passes ``approx_input_bytes`` and the split
    count is estimated Python-side (:func:`estimated_splits`) for a ~0-cost
    gate; the RDD-based gate stays as the fallback.
    """
    spark = df.sparkSession
    n_splits = (
        None if approx_input_bytes is None
        else estimated_splits(spark, approx_input_bytes)
    )
    if n_splits is None:  # no size evidence or unparsable conf → RDD gate
        n_splits = df.rdd.getNumPartitions()
    narrow = n_splits < spark.sparkContext.defaultParallelism
    return df.hint("REBALANCE") if narrow else df


def input_bytes(path: str) -> int | None:
    """On-disk bytes of a parquet input — the ~0-cost evidence for the
    split-count gates. A directory (a Spark-written table, a staged stream
    source) sums its ``*.parquet`` files, following symlinks and skipping
    ``_``/``.``-hidden subdirectories as Spark does; a file is its size; a
    remote URI or a missing path is None. Never a directory's own
    ``getsize``: its ~4 KB inode size makes any table look narrow and
    inverts a gate's no-op-at-scale contract."""
    if "://" in path:
        return None
    try:
        if os.path.isfile(path):
            return os.path.getsize(path)
        if not os.path.isdir(path):
            return None
        total = 0
        for root, dirs, files in os.walk(path, followlinks=True):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files
                if f.endswith(".parquet")
            )
        return total
    except OSError:
        return None


def estimated_splits(spark, nbytes: int) -> int | None:
    """The number of splits a file scan of ``nbytes`` plans, mirroring
    ``FilePartition.maxSplitBytes``: split size = min(maxPartitionBytes,
    max(openCostInBytes, bytes / defaultParallelism)). None when either
    conf is unparsable."""
    get = spark.conf.get
    try:
        max_pb = _parse_bytes(get("spark.sql.files.maxPartitionBytes", "128m"))
        open_cost = _parse_bytes(get("spark.sql.files.openCostInBytes", "4m"))
    except ValueError:
        return None
    par = max(spark.sparkContext.defaultParallelism, 1)
    split = min(max_pb, max(open_cost, nbytes // par))
    return max(1, -(-nbytes // max(split, 1)))


_BYTE_SIZE = re.compile(r"(\d+(?:\.\d+)?)\s*([kmgtp]?)i?b?")
_BYTE_SHIFT = {"": 0, "k": 10, "m": 20, "g": 30, "t": 40, "p": 50}


def _parse_bytes(v: str) -> int:
    """Spark size-conf string → bytes, binary units as Spark reads them:
    '134217728', '134217728b', '128m', '128MB', '128mib', '1.5g', '1p'.
    Raises ValueError on anything else."""
    m = _BYTE_SIZE.fullmatch(str(v).strip().lower())
    if m is None:
        raise ValueError(f"not a byte size: {v!r}")
    num, shift = m.group(1), _BYTE_SHIFT[m.group(2)]
    return int(float(num) * (1 << shift)) if "." in num else int(num) << shift


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dsum(col: Column | str, scale: int = 6) -> Column:
    """Order-insensitive SUM of a double column, returned as double."""
    return F.sum(_c(col).cast(f"decimal(38,{scale})")).cast("double")


def davg(col: Column | str, scale: int = 6) -> Column:
    """Order-insensitive AVG: exact decimal sum, double division by count."""
    c = _c(col)
    return F.sum(c.cast(f"decimal(38,{scale})")).cast("double") / F.count(c)


def sql_dsum(expr: str, scale: int = 6) -> str:
    """DuckDB-side twin of :func:`dsum` for oracle SQL strings."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(38,{scale}))) AS DOUBLE)"


def sql_davg(expr: str, scale: int = 6) -> str:
    """DuckDB-side twin of :func:`davg`."""
    return (
        f"CAST(SUM(CAST(({expr}) AS DECIMAL(38,{scale}))) AS DOUBLE)"
        f" / COUNT({expr})"
    )
