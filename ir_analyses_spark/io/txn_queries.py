"""Driver-visible queries over the transaction-log table format
(``io/txn.py``): real multi-commit table lifecycles — overwrite, keyed
partition-scoped MERGE, exactly-once additive batches with replays — whose
final snapshot read must hash-match a plain SQL restatement. This puts the
txn format's end state (not just its pytest invariants) under the driver's
oracle gate, the same treatment every other operator gets.

Each run builds its table under a fresh ``tempfile.mkdtemp`` directory; the
files must outlive the function (the driver collects the returned DataFrame
afterwards), so cleanup is left to /tmp hygiene — except ``stream_txn_sink``,
which materializes its result and removes its staging, table and checkpoint.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..ops.helpers import dsum, local_df
from ..streaming.pipeline import run_available_now
from . import txn
from .sources import load_table


def _orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # via load_table so types are pinned to the declared TESTDATA schema
    # like every ops/ module (review-caught: a raw parquet read would
    # silently pick up physical-type drift in regenerated testdata)
    return load_table(spark, "orders", sf_dir)


def _base_slice(orders: DataFrame) -> DataFrame:
    """The lifecycle queries' shared base load: 2/3 of orders keyed by
    priority class with a double price — defined ONCE so the four
    consumers (snapshot merge, time travel, change apply, history) and
    their oracles cannot drift apart."""
    return orders.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey",
        F.substring("o_orderpriority", 1, 1).alias("prio"),
        F.col("o_totalprice").cast("double").alias("price"),
    )


def txn_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-commit lifecycle on a partitioned txn table: load a base slice
    of ``orders`` partitioned by priority class, then MERGE an updates
    slice (doubled price) scoped to partitions '1' and '2' — untouched
    partitions carry over file-verbatim (zero I/O), and the final snapshot
    read returns the serialized result of both commits. Equivalent SQL:
    updates win per key, non-updated base rows survive."""
    table = tempfile.mkdtemp(prefix="txn_snapshot_merge_")
    orders = _orders(spark, sf_dir).withColumn(
        "prio", F.substring("o_orderpriority", 1, 1)
    )
    base = _base_slice(orders)
    txn.overwrite(base, table, partition_by="prio")
    updates = orders.filter(
        (F.col("o_orderkey") % 2 == 0) & F.col("prio").isin("1", "2")
    ).select(
        "o_orderkey",
        "prio",
        (F.col("o_totalprice") * 2).cast("double").alias("price"),
    )
    txn.merge_upsert(updates, table, keys=["o_orderkey"], partition_col="prio")
    return txn.read(spark, table)


def txn_exactly_once_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive month-rollup fed in three batches WITH replays: batches
    0, 1, then 1 again, 2, then 0 again. Replays must be exact no-ops
    (their batch_id is already in the manifest ledger), so the final
    table equals the one-shot aggregate over all rows — which is the
    oracle. Decimal accumulators keep the sums partition- and
    batch-order-exact."""
    table = tempfile.mkdtemp(prefix="txn_exactly_once_")
    orders = _orders(spark, sf_dir)
    # r14 probe, REJECTED: checkpointing this 4-column projection (each
    # merge consumes it twice → 10 orders scans) measured 1.35× SLOWER
    # at sf0.01 warm interleaved — the materialized RDD's 8 partitions
    # turn every tiny downstream job from one pruned-parquet task into
    # 8 task launches, and at certificate SF the scan it saves is one
    # already-cached split. Left as the lazy pushdown-pruned scans.
    delta_all = orders.select(
        F.substring(F.col("o_orderdate").cast("string"), 1, 7).alias("omonth"),
        F.lit(1).cast("long").alias("cnt"),
        F.col("o_totalprice").cast("decimal(30,2)").alias("total"),
        (F.col("o_orderkey") % 3).alias("_b"),
    )
    for batch_id in (0, 1, 1, 2, 0):
        delta = delta_all.filter(F.col("_b") == batch_id).drop("_b")
        txn.additive_merge(
            delta,
            table,
            partition_col="omonth",
            group_cols=["omonth"],
            sum_cols=["cnt", "total"],
            batch_id=batch_id,
        )
    out = txn.read(spark, table)
    return out.select(
        "omonth", "cnt", F.col("total").cast("double").alias("total")
    )


def txn_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical-version read (time travel) on the txn table format: after
    an overwrite (v1) and a doubling MERGE (v2), read BOTH versions —
    ``at_version=1`` must return the base exactly as committed, pinned by
    version in the manifest log, while the default read sees the merge.
    The rollup of each snapshot is returned side by side; the oracle
    restates both from the source table, so a time-travel read that leaks
    post-v1 files (or a merge that rewrote an untouched partition) breaks
    the hash.

    Scale note: version resolution reads ONE manifest file; the historical
    read lists the v1 file set directly — no log replay, no diffing
    against v2."""
    table = tempfile.mkdtemp(prefix="txn_time_travel_")
    orders = _orders(spark, sf_dir).withColumn(
        "prio", F.substring("o_orderpriority", 1, 1)
    )
    base = _base_slice(orders)
    txn.overwrite(base, table, partition_by="prio")
    updates = base.filter(F.col("o_orderkey") % 2 == 0).withColumn(
        "price", F.col("price") * 2
    )
    txn.merge_upsert(updates, table, keys=["o_orderkey"], partition_col="prio")

    def _rollup(df: DataFrame, version: int) -> DataFrame:
        return df.groupBy("prio").agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("price").alias("total_price"),
        ).withColumn("version", F.lit(version))

    v1 = _rollup(txn.read(spark, table, at_version=1), 1)
    v2 = _rollup(txn.read(spark, table), 2)
    return v1.unionByName(v2).select(
        "version", "prio", "n_orders", "total_price"
    )


TXN_TIME_TRAVEL_SQL = """
WITH base AS (
  SELECT o_orderkey,
         substr(o_orderpriority, 1, 1) AS prio,
         CAST(o_totalprice AS DOUBLE) AS price
  FROM orders WHERE o_orderkey % 3 <> 0
),
merged AS (
  SELECT o_orderkey, prio,
         CASE WHEN o_orderkey % 2 = 0 THEN price * 2 ELSE price END AS price
  FROM base
)
SELECT 1 AS version, prio, COUNT(*) AS n_orders,
       CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE) AS total_price
FROM base GROUP BY prio
UNION ALL
SELECT 2 AS version, prio, COUNT(*) AS n_orders,
       CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE) AS total_price
FROM merged GROUP BY prio
"""


def txn_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level change feed (Delta CDF semantics) computed from the
    manifest diff of two commits: overwrite a base slice of orders (v1),
    MERGE an updates slice that doubles prices and introduces new keys
    (v2), then ``read_changes(v1→v2)`` must report exactly the inserts
    (update keys absent from base) and the update pre/post-image pairs
    (keys present in both with a price that actually changed — price-0
    rows rewrite identically and must NOT appear). The oracle restates
    the classification straight from the source table, so a diff that
    leaks unchanged rewritten rows, drops a side of an update pair, or
    misclassifies an insert breaks the hash."""
    table = tempfile.mkdtemp(prefix="txn_change_feed_")
    orders = _orders(spark, sf_dir)
    base = orders.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("price")
    )
    txn.overwrite(base, table)
    updates = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice").cast("double") * 2).alias("price"),
    )
    txn.merge_upsert(updates, table, keys=["o_orderkey"])
    return txn.read_changes(
        spark, table, keys=["o_orderkey"], from_version=1, to_version=2
    )


TXN_CHANGE_FEED_SQL = """
WITH base AS (
  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
  FROM orders WHERE o_orderkey % 3 <> 0
),
upd AS (
  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) * 2 AS price
  FROM orders WHERE o_orderkey % 2 = 0
)
SELECT u.o_orderkey, u.price,
       'insert' AS _change_type, 2 AS _commit_version
FROM upd u LEFT JOIN base b ON u.o_orderkey = b.o_orderkey
WHERE b.o_orderkey IS NULL
UNION ALL
SELECT b.o_orderkey, b.price, 'update_preimage', 2
FROM base b JOIN upd u ON u.o_orderkey = b.o_orderkey
WHERE b.price <> u.price
UNION ALL
SELECT u.o_orderkey, u.price, 'update_postimage', 2
FROM base b JOIN upd u ON u.o_orderkey = b.o_orderkey
WHERE b.price <> u.price
"""


def txn_change_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance off the change feed: a per-priority
    aggregate (cnt, total) is built ONCE from the v1 snapshot, then kept
    current across two further commits by folding each commit's
    ``read_changes`` rows into signed deltas — insert/update_postimage
    count +1/+price, delete/update_preimage count −1/−price — and
    merging them in. The table itself is never re-scanned after v1: the
    feed reads only replaced/added files, so at 100 TB maintaining the
    downstream aggregate costs IO proportional to the CHANGED partitions,
    not the table (the Delta-CDF consumption pattern; the decimal delta
    fold is associative, so incremental == recompute exactly).

    Lifecycle: v1 overwrite (base slice of orders) → v2 MERGE (doubled
    prices, new keys) → v3 transform deleting priority class '3'
    entirely — so the maintained aggregate must apply inserts, update
    pairs, AND deletes, including dropping a group whose count reaches
    zero. Oracle = the aggregate recomputed from the restated v3 state."""
    table = tempfile.mkdtemp(prefix="txn_change_apply_")
    orders = _orders(spark, sf_dir)
    base = _base_slice(orders)
    txn.overwrite(base, table)
    maintained = (
        txn.read(spark, table, at_version=1)
        .groupBy("prio")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("price").cast("decimal(30,2)")).alias("total"),
        )
    )
    updates = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.substring("o_orderpriority", 1, 1).alias("prio"),
        (F.col("o_totalprice").cast("double") * 2).alias("price"),
    )
    txn.merge_upsert(updates, table, keys=["o_orderkey"])
    txn.transform_commit(spark, table, lambda cur: cur.filter(F.col("prio") != "3"))
    feed = txn.read_changes(
        spark, table, keys=["o_orderkey"], from_version=1, to_version=2
    ).unionByName(
        txn.read_changes(
            spark, table, keys=["o_orderkey"], from_version=2, to_version=3
        )
    )
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    deltas = feed.groupBy("prio").agg(
        F.sum(sign).alias("d_cnt"),
        F.sum(sign.cast("decimal(30,2)") * F.col("price").cast("decimal(30,2)")).alias(
            "d_total"
        ),
    )
    zero = F.lit(0).cast("decimal(30,2)")
    merged = (
        maintained.join(deltas, "prio", "full_outer")
        .select(
            "prio",
            (F.coalesce("cnt", F.lit(0)) + F.coalesce("d_cnt", F.lit(0))).alias("cnt"),
            (F.coalesce("total", zero) + F.coalesce("d_total", zero)).alias("total"),
        )
        .filter(F.col("cnt") > 0)
    )
    return merged.select(
        "prio", "cnt", F.col("total").cast("double").alias("total")
    )


TXN_CHANGE_APPLY_SQL = """
WITH base AS (
  SELECT o_orderkey, substr(o_orderpriority, 1, 1) AS prio,
         CAST(o_totalprice AS DOUBLE) AS price
  FROM orders WHERE o_orderkey % 3 <> 0
),
upd AS (
  SELECT o_orderkey, substr(o_orderpriority, 1, 1) AS prio,
         CAST(o_totalprice AS DOUBLE) * 2 AS price
  FROM orders WHERE o_orderkey % 2 = 0
),
v2 AS (
  SELECT * FROM upd
  UNION ALL
  SELECT b.* FROM base b LEFT JOIN upd u ON b.o_orderkey = u.o_orderkey
  WHERE u.o_orderkey IS NULL
),
v3 AS (SELECT * FROM v2 WHERE prio <> '3')
SELECT prio, COUNT(*) AS cnt,
       CAST(SUM(CAST(price AS DECIMAL(30,2))) AS DOUBLE) AS total
FROM v3 GROUP BY prio
"""


def txn_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-history metadata query (DESCRIBE HISTORY): run the full
    lifecycle — overwrite (v1), MERGE with inserts+updates (v2), a
    transform deleting priority class '3' (v3), then a compaction (v4) —
    and read the history back from MANIFESTS ONLY (``txn.history``: zero
    data IO; per-file row counts were harvested from parquet footers at
    write time). The history is bounded metadata (#versions rows), so
    driver-side construction is the correct shape — this is the one
    place a "collect" is the design, same as Delta's DESCRIBE HISTORY.

    Oracle: operations are the deterministic lifecycle script; row
    counts restate each version's state from the source table —
    compaction must preserve v3's count exactly while rewriting files."""
    table = tempfile.mkdtemp(prefix="txn_history_")
    orders = _orders(spark, sf_dir)
    base = _base_slice(orders)
    txn.overwrite(base, table)
    updates = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.substring("o_orderpriority", 1, 1).alias("prio"),
        (F.col("o_totalprice").cast("double") * 2).alias("price"),
    )
    txn.merge_upsert(updates, table, keys=["o_orderkey"])
    txn.transform_commit(spark, table, lambda cur: cur.filter(F.col("prio") != "3"))
    txn.compact(spark, table)
    rows = [
        (h["version"], h["operation"], h["n_rows"])
        for h in txn.history(table)
    ]
    return local_df(
        spark, rows, "version INT, operation STRING, n_rows BIGINT"
    )


TXN_HISTORY_SQL = """
WITH base AS (
  SELECT o_orderkey, substr(o_orderpriority, 1, 1) AS prio
  FROM orders WHERE o_orderkey % 3 <> 0
),
upd AS (
  SELECT o_orderkey, substr(o_orderpriority, 1, 1) AS prio
  FROM orders WHERE o_orderkey % 2 = 0
),
v2 AS (
  SELECT o_orderkey, prio FROM upd
  UNION ALL
  SELECT b.o_orderkey, b.prio FROM base b
  LEFT JOIN upd u ON b.o_orderkey = u.o_orderkey
  WHERE u.o_orderkey IS NULL
),
v3 AS (SELECT * FROM v2 WHERE prio <> '3')
SELECT 1 AS version, 'overwrite' AS operation,
       (SELECT COUNT(*) FROM base) AS n_rows
UNION ALL
SELECT 2, 'merge_upsert', (SELECT COUNT(*) FROM v2)
UNION ALL
SELECT 3, 'transform', (SELECT COUNT(*) FROM v3)
UNION ALL
SELECT 4, 'compact', (SELECT COUNT(*) FROM v3)
"""


def txn_pyds_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch write THROUGH the Spark DataSource API
    (``df.write.format("txn_table")`` → ``io/txn_stream.py``
    ``TxnTableArrowWriter``): two appended slices of orders, committed by
    the writer's two-phase protocol (executor tasks write invisible
    files + report footer row counts, the driver publishes one manifest
    per job). The snapshot read must equal the plain union — and the
    history must show two appends whose manifest row counts match,
    folded into the output so the driver hash covers BOTH the data and
    the metadata path."""
    from .txn_stream import TxnTableStreamDataSource

    spark.dataSource.register(TxnTableStreamDataSource)
    table = tempfile.mkdtemp(prefix="txn_pyds_write_")
    orders = _orders(spark, sf_dir)
    for r in (0, 1):
        orders.filter(F.col("o_orderkey") % 3 == r).select(
            "o_orderkey", F.col("o_totalprice").cast("double").alias("price")
        ).write.format("txn_table").mode("append").option("path", table).save()
    hist = txn.history(table)
    rows = txn.read(spark, table)
    meta = local_df(
        spark,
        [(h["version"], h["operation"], h["n_rows"]) for h in hist],
        "version INT, operation STRING, n_rows BIGINT",
    )
    return rows.groupBy().agg(
        F.count(F.lit(1)).alias("n_rows_read"),
        dsum("price", scale=2).alias("total_price"),
    ).crossJoin(
        meta.groupBy().agg(
            F.count(F.lit(1)).alias("n_commits"),
            F.max("n_rows").alias("final_manifest_rows"),
        )
    )


TXN_PYDS_WRITE_SQL = """
WITH s AS (
  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
  FROM orders WHERE o_orderkey % 3 IN (0, 1)
)
SELECT COUNT(*) AS n_rows_read,
       CAST(SUM(CAST(price AS DECIMAL(30,2))) AS DOUBLE) AS total_price,
       2 AS n_commits,
       COUNT(*) AS final_manifest_rows
FROM s
"""


def stream_txn_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exactly-once streaming SINK under the driver's oracle gate: a
    real file stream over a 3-file staging of an orders slice
    (maxFilesPerTrigger=1 → three micro-batches) writes through
    ``writeStream.format("txn_table")`` — each epoch's files commit with
    the epoch id in one manifest publication — and the final snapshot
    plus the manifest history (one stream_append per epoch, counts
    summing to the slice) is what gets hashed. Oracle = the slice
    restated; a double-applied epoch or a torn commit breaks the count
    and the sum."""
    from .txn_stream import TxnTableStreamDataSource

    spark.dataSource.register(TxnTableStreamDataSource)
    tmp = tempfile.mkdtemp(prefix="stream_txn_")
    src, table = os.path.join(tmp, "src"), os.path.join(tmp, "table")
    try:
        base = _orders(spark, sf_dir).filter(F.col("o_orderkey") % 4 == 1).select(
            "o_orderkey",
            F.substring("o_orderpriority", 1, 1).alias("prio"),
            F.col("o_totalprice").cast("double").alias("price"),
        )
        base.repartition(3).write.parquet(src)
        run_available_now(
            spark.readStream.schema("o_orderkey long, prio string, price double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.format("txn_table")
            .option("path", table),
            staged=(src,),
        )
        hist = txn.history(table)
        if any(h["operation"] != "stream_append" for h in hist):
            raise RuntimeError(f"unexpected operations in history: {hist}")
        rows = txn.read(spark, table)
        return rows.groupBy("prio").agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("price", scale=2).alias("total_price"),
        ).crossJoin(
            F.broadcast(local_df(spark, [(len(hist),)], "n_epochs INT"))
        ).localCheckpoint(eager=True)  # materialize before the table goes
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


STREAM_TXN_SINK_SQL = """
SELECT substr(o_orderpriority, 1, 1) AS prio,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(CAST(o_totalprice AS DOUBLE) AS DECIMAL(30,2)))
            AS DOUBLE) AS total_price,
       3 AS n_epochs
FROM orders WHERE o_orderkey % 4 = 1
GROUP BY prio
"""


def txn_maintenance_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r6 maintenance STATEMENT surface (``io/txn_maint.py``) driven
    end-to-end under the oracle gate: after an overwrite (v1) and a MERGE
    (v2), the remaining lifecycle runs purely through Delta-style SQL —
    ``OPTIMIZE … ZORDER BY (o_orderkey, price)`` (v3, layout-only),
    ``RESTORE … TO VERSION AS OF 1`` (v4, state back to the base), then
    ``VACUUM … RETAIN 3 VERSIONS`` (retires v1's manifest; v1's FILES
    stay live because the restore manifest names them), and finally
    ``DESCRIBE HISTORY`` read back through the same surface. Output =
    the surviving history (a contiguous suffix starting at v2, with the
    statement-driven operation labels) × the restored table's rollup.

    Oracle: the lifecycle is a deterministic script, so versions and
    labels are literals; row counts and the restored total restate from
    the source table. A parser that mis-dispatches, an OPTIMIZE that
    drops rows, a RESTORE that leaks v2 state, or a VACUUM that retires
    the wrong manifests all break the hash."""
    from .txn_maint import run_maintenance_sql

    table = tempfile.mkdtemp(prefix="txn_maint_sql_")
    orders = _orders(spark, sf_dir)
    base = _base_slice(orders)
    txn.overwrite(base, table)
    updates = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.substring("o_orderpriority", 1, 1).alias("prio"),
        (F.col("o_totalprice").cast("double") * 2).alias("price"),
    )
    txn.merge_upsert(updates, table, keys=["o_orderkey"])
    run_maintenance_sql(
        spark, f"OPTIMIZE '{table}' ZORDER BY (o_orderkey, price)"
    )
    run_maintenance_sql(spark, f"RESTORE TABLE '{table}' TO VERSION AS OF 1")
    run_maintenance_sql(spark, f"VACUUM '{table}' RETAIN 3 VERSIONS")
    hist = run_maintenance_sql(spark, f"DESCRIBE HISTORY '{table}'").select(
        "version", "operation", "n_rows"
    )
    state = txn.read(spark, table).groupBy().agg(
        F.count(F.lit(1)).alias("n_rows_read"),
        dsum("price", scale=2).alias("total_price"),
    )
    return hist.crossJoin(F.broadcast(state))


TXN_MAINTENANCE_SQL_SQL = """
WITH base AS (
  SELECT o_orderkey, substr(o_orderpriority, 1, 1) AS prio,
         CAST(o_totalprice AS DOUBLE) AS price
  FROM orders WHERE o_orderkey % 3 <> 0
),
upd AS (
  SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0
),
v2_n AS (
  SELECT (SELECT COUNT(*) FROM upd)
       + (SELECT COUNT(*) FROM base b
          LEFT JOIN upd u ON b.o_orderkey = u.o_orderkey
          WHERE u.o_orderkey IS NULL) AS n
),
state AS (
  SELECT COUNT(*) AS n_rows_read,
         CAST(SUM(CAST(price AS DECIMAL(38,2))) AS DOUBLE) AS total_price
  FROM base
)
SELECT h.version, h.operation, h.n_rows, s.n_rows_read, s.total_price
FROM (
  SELECT 2 AS version, 'merge_upsert' AS operation,
         (SELECT n FROM v2_n) AS n_rows
  UNION ALL
  SELECT 3, 'zorder', (SELECT n FROM v2_n)
  UNION ALL
  SELECT 4, 'restore', (SELECT COUNT(*) FROM base)
) h CROSS JOIN state s
"""


QUERIES = {
    "txn_snapshot_merge": txn_snapshot_merge,
    "txn_exactly_once_rollup": txn_exactly_once_rollup,
    "txn_time_travel": txn_time_travel,
    "txn_change_feed": txn_change_feed,
    "txn_change_apply": txn_change_apply,
    "txn_history": txn_history,
    "txn_pyds_write": txn_pyds_write,
    "stream_txn_sink": stream_txn_sink,
    "txn_maintenance_sql": txn_maintenance_sql,
}

ORACLES = {
    "txn_snapshot_merge": """
        SELECT o_orderkey,
               substr(o_orderpriority, 1, 1) AS prio,
               CAST(o_totalprice * 2 AS DOUBLE) AS price
        FROM orders
        WHERE o_orderkey % 2 = 0
          AND substr(o_orderpriority, 1, 1) IN ('1', '2')
        UNION ALL
        SELECT o_orderkey,
               substr(o_orderpriority, 1, 1) AS prio,
               CAST(o_totalprice AS DOUBLE) AS price
        FROM orders
        WHERE o_orderkey % 3 <> 0
          AND NOT (o_orderkey % 2 = 0
                   AND substr(o_orderpriority, 1, 1) IN ('1', '2'))
    """,
    "txn_time_travel": TXN_TIME_TRAVEL_SQL,
    "txn_change_feed": TXN_CHANGE_FEED_SQL,
    "txn_change_apply": TXN_CHANGE_APPLY_SQL,
    "txn_history": TXN_HISTORY_SQL,
    "txn_pyds_write": TXN_PYDS_WRITE_SQL,
    "stream_txn_sink": STREAM_TXN_SINK_SQL,
    "txn_exactly_once_rollup": """
        SELECT substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS omonth,
               COUNT(*) AS cnt,
               -- per-value decimal cast BEFORE summing, mirroring the
               -- engine's decimal accumulators: both sides sum exactly,
               -- so the final double is bit-identical
               CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total
        FROM orders
        GROUP BY 1
    """,
    "txn_maintenance_sql": TXN_MAINTENANCE_SQL_SQL,
}
