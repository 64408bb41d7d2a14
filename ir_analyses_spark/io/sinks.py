"""Sinks (SURVEY §2A S6/S7, A5–A7): batch table writes and MERGE emulation
on bare parquet.

The reference upserts row-at-a-time through an ORM session (reference
utils/repositories/base_repository.py:54-58); the engine's write unit is a
whole DataFrame. With Delta/Iceberg available these helpers become
``MERGE INTO`` / ``replaceWhere`` one-liners; on bare parquet the same
semantics are anti-join + union + staged directory swap (``_swap_in``).
All upserts key on *natural* keys (SURVEY §7.3.2) so reloads are
idempotent. Writes that are NOT idempotent under replay — the additive
rollup and the SCD2 dimension fed by streaming sinks — need an
applied-batch ledger committed with the data; they go through the
transaction-log format in ``io/txn.py`` instead.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, functions as F


def write_table(df: DataFrame, path: str, partition_by: list[str] | None = None):
    """Plain table write. At scale: partition pruning comes from
    ``partition_by`` (e.g. fiscal_year for the fact table)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def _swap_in(staging: str, target_dir: str) -> None:
    """Staged swap: move the old table aside, promote staging, drop the old
    copy. Guarantee: data is NEVER lost — a crash at any step leaves the
    complete old table (at ``target`` or ``__old``) and/or the complete new
    table (at ``__staging`` or ``target``) on disk, and a re-run converges
    (pinned by ``test_swap_in_crash_window_leaves_valid_copy``). There IS a
    brief no-target window between the two renames (plain filesystems lack
    an atomic exchange); readers that must never observe it need a
    transactional table format (Delta/Iceberg), where this helper becomes
    a ``MERGE``/``REPLACE`` one-liner.

    Callers that READ the target before staging a new version must call
    ``_recover_swap`` first — after a between-renames crash the only copy
    lives at ``__old``, and reading the absent target as "empty table"
    would silently drop it from the merged result."""
    old = target_dir.rstrip("/") + "__old"
    if os.path.exists(old):
        if not os.path.exists(target_dir):
            # between-renames crash remnant: ``old`` IS the table; the
            # caller should have recovered it, but never delete it here
            os.rename(old, target_dir)
        shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(target_dir):
        os.rename(target_dir, old)
    os.rename(staging, target_dir)
    if os.path.exists(old):
        shutil.rmtree(old)


def _recover_swap(target_dir: str) -> None:
    """Resolve a crashed ``_swap_in``: if a ``__old`` remnant exists with
    no live target, the crash hit between the two renames and ``__old`` is
    the authoritative table — restore it; with a live target, promotion
    succeeded and ``__old`` is garbage. Idempotent; call before reading a
    swap-managed directory you are about to rewrite."""
    old = target_dir.rstrip("/") + "__old"
    if os.path.exists(old):
        if os.path.exists(target_dir):
            shutil.rmtree(old)
        else:
            os.rename(old, target_dir)


def merge_upsert(
    updates: DataFrame,
    target_dir: str,
    keys: list[str],
    partition_col: str | None = None,
) -> None:
    """Keyed upsert into a parquet directory (MERGE emulation, §2A A5/A7).

    Contract (same as SQL MERGE): at most ONE row per key in ``updates`` —
    collapse a batch to latest-per-key first (A4) if the feed can repeat
    keys; with duplicates, all duplicate rows land in the target.

    Unpartitioned: current ⟕anti updates-by-key, union updates, stage, swap
    (the swap promotes a fully-written directory, see ``_swap_in``). On
    Delta this is exactly ``MERGE INTO t USING u ON keys``.

    With ``partition_col`` (the 100 TB path): the rewrite is scoped to the
    partitions that actually appear in ``updates`` — current is PRUNED to
    those partitions (partition filter, no full-table scan), merged, and
    written back with dynamic partition overwrite. Untouched partitions'
    files are never read or rewritten, so an upsert costs O(touched
    partitions), not O(table). Precondition: ``partition_col`` must be
    functionally dependent on ``keys`` (a key never moves between
    partition values) — an update that moved a key to a new partition
    would leave the old partition's row in place, because pruning never
    reads it. Same rule every partition-scoped MERGE engine imposes.
    """
    spark = updates.sparkSession
    _recover_swap(target_dir)
    if partition_col is not None and os.path.exists(target_dir):
        touched = [
            r[0]
            for r in updates.select(partition_col).distinct().collect()
        ]
        current = spark.read.parquet(target_dir).filter(
            F.col(partition_col).isin(touched)
        )
        kept = current.join(updates.select(*keys).distinct(), keys, "left_anti")
        # Materialize before the overwrite: the merged plan reads the same
        # path it is about to replace, so cut the lineage to the file scan
        # (and dodge Spark's self-overwrite guard) with an eager checkpoint.
        merged = kept.unionByName(updates).localCheckpoint(eager=True)
        # per-WRITE dynamic mode — never session-level conf.set, which would
        # leak into unrelated overwrites and stop them deleting partitions
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(target_dir)
        )
        return
    if os.path.exists(target_dir):
        current = spark.read.parquet(target_dir)
        kept = current.join(updates.select(*keys).distinct(), keys, "left_anti")
        merged = kept.unionByName(updates)
    else:
        merged = updates
    staging = target_dir.rstrip("/") + "__staging"
    merged.write.mode("overwrite").parquet(staging)
    _swap_in(staging, target_dir)


def append_missing(
    new_rows: DataFrame, target_dir: str, key: str | list[str]
) -> None:
    """Existence-check insert (§2A A6): append only rows whose key is not
    yet in the target — the set-oriented version of the reference's per-row
    find-or-create loop (reference utils/service/financial_service.py:209-219).

    Insert-only means no existing row changes, so this appends NEW parquet
    files into the live directory instead of rewriting the table: existing
    files are untouched (O(new rows), not O(table))."""
    keys = [key] if isinstance(key, str) else list(key)
    spark = new_rows.sparkSession
    if os.path.exists(target_dir):
        existing = spark.read.parquet(target_dir).select(*keys).distinct()
        to_add = new_rows.join(existing, keys, "left_anti")
        to_add.write.mode("append").parquet(target_dir)
    else:
        new_rows.write.parquet(target_dir)


def replace_partition(
    updates: DataFrame, target_dir: str, partition_col: str
) -> None:
    """Partition replace (the roadmap's 洗い替え delete-then-insert,
    reference documents/old/IR_Analysis_Roadmap_and_Design.md:61-64):
    overwrite only the partitions present in ``updates`` — Spark's dynamic
    partition overwrite, the idempotent way to reload one report/day.
    Dynamic mode is set per-write (never on the session, where it would
    leak into unrelated overwrites)."""
    (
        updates.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(target_dir)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
) -> None:
    """Bucketed managed table (SURVEY §7.3.6: "+ bucketing by report_id at
    100 TB"): co-locates rows by key at WRITE time so every later join or
    aggregation on the bucket key skips its shuffle entirely — the
    pay-once-shuffle-never-again layout for fact⋈fact joins.
    """
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .format("parquet")
        .saveAsTable(table)
    )


def scd2_apply(
    current: DataFrame | None,
    updates: DataFrame,
    key: str,
    change_cols: list[str],
    effective_col: str = "effective_from",
) -> DataFrame:
    """The SCD2 state transition as a pure transform: (current table or
    None, one-row-per-key updates) → next table; ``txn.scd2_merge_txn``
    commits it as one manifest."""
    upd = updates.select(
        F.col(key),
        *[F.col(c) for c in change_cols],
        F.col(effective_col).alias("_new_from"),
    )
    if current is None:
        return upd.select(
            key,
            *change_cols,
            F.col("_new_from").alias("effective_from"),
            F.lit(None).cast("date").alias("effective_to"),
            F.lit(True).alias("is_current"),
        )
    # null-safe change test: plain struct != returns NULL when a member is
    # NULL, which would silently skip NULL→value (and value→NULL) changes
    changed = ~(
        F.struct(*[f"cur.{c}" for c in change_cols]).eqNullSafe(
            F.struct(*[f"u.{c}" for c in change_cols])
        )
    )
    cur = current.alias("cur")
    u = upd.alias("u")
    joined = cur.join(u, F.col(f"cur.{key}") == F.col(f"u.{key}"), "left")
    # current rows: close if a differing update arrived, else keep as-is
    kept_or_closed = joined.select(
        F.col(f"cur.{key}").alias(key),
        *[F.col(f"cur.{c}").alias(c) for c in change_cols],
        F.col("cur.effective_from").alias("effective_from"),
        F.when(
            F.col("cur.is_current") & F.col("u._new_from").isNotNull() & changed,
            F.col("u._new_from"),
        )
        .otherwise(F.col("cur.effective_to"))
        .alias("effective_to"),
        F.when(
            F.col("cur.is_current") & F.col("u._new_from").isNotNull() & changed,
            F.lit(False),
        )
        .otherwise(F.col("cur.is_current"))
        .alias("is_current"),
    )
    # new versions: updates that differ from the key's current row, plus
    # brand-new keys
    cur_now = current.filter("is_current").alias("cur")
    new_rows = (
        u.join(cur_now, F.col(f"u.{key}") == F.col(f"cur.{key}"), "left")
        .filter(F.col(f"cur.{key}").isNull() | changed)
        .select(
            F.col(f"u.{key}").alias(key),
            *[F.col(f"u.{c}").alias(c) for c in change_cols],
            F.col("u._new_from").alias("effective_from"),
            F.lit(None).cast("date").alias("effective_to"),
            F.lit(True).alias("is_current"),
        )
    )
    return kept_or_closed.unionByName(new_rows)


def scd2_point_in_time_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    date_col: str,
) -> DataFrame:
    """Point-in-time join against an SCD2 dimension: each fact row picks
    the version whose [effective_from, effective_to) interval contains the
    fact date — the query the versioned history exists for. A half-open
    interval join; the optimizer runs it as an equi-join on the key with
    the interval as residual predicate, so it costs one shuffle per side
    (or none, if both are bucketed by the key)."""
    d = dim.alias("d")
    f = facts.alias("f")
    return f.join(
        d,
        (F.col(f"f.{key}") == F.col(f"d.{key}"))
        & (F.col("d.effective_from") <= F.col(f"f.{date_col}"))
        & (
            F.col("d.effective_to").isNull()
            | (F.col("d.effective_to") > F.col(f"f.{date_col}"))
        ),
        "left",
    ).drop(F.col(f"d.{key}"))


def compact_small_files(
    spark,
    target_dir: str,
    partition_col: str | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Small-file compaction (table maintenance, the OPTIMIZE of
    Delta/Iceberg on bare parquet): streaming upserts and per-batch appends
    accrete tiny files until scan planning, footer reads, and task
    scheduling dominate query time — at 100 TB a table with 10⁶ kilobyte
    files is unreadable regardless of its byte size.

    Rewrites the table (or, with ``partition_col``, each partition) into
    ``ceil(bytes / target_file_bytes)`` files via a staged atomic swap.
    Data is unchanged — only the file layout. Returns {files_before,
    files_after}. At scale you run this per-partition on the partitions a
    merge touched (the same pruning discipline as ``merge_upsert``).
    """
    import math

    def _data_files(d: str) -> list[str]:
        # prune _/.-prefixed dirs (mirrors llm/substring_dedup.
        # _committed_files): a write killed mid-job leaves _temporary
        # task-attempt dirs holding uncommitted parquet, and counting
        # that debris would inflate files_before/total — compaction
        # would size its output off bytes the table never committed
        # (r11 VERDICT item 2)
        out = []
        for root, dirs, files in os.walk(d):
            dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
            out += [
                os.path.join(root, f)
                for f in files
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            ]
        return out

    _recover_swap(target_dir)
    before = _data_files(target_dir)
    total = sum(os.path.getsize(f) for f in before)
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(target_dir)
    staging = target_dir.rstrip("/") + "__staging"
    if partition_col is not None:
        # Repartition by (partition value, row salt): keying by the value
        # alone would bound each directory to ONE task — and therefore one
        # file — so a hot partition could never split to the byte target.
        # The salt spreads each value over ceil(n_files / n_dirs) tasks;
        # the dynamic writer still emits one file per (task, value).
        n_dirs = max(
            1, len({os.path.dirname(f) for f in before})
        )
        spread = max(1, -(-n_files // n_dirs))
        salt = F.pmod(
            F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(spread)
        )
        (
            df.repartition(max(n_files, n_dirs), F.col(partition_col), salt)
            .write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(staging)
        )
    else:
        df.repartition(n_files).write.mode("overwrite").parquet(staging)
    _swap_in(staging, target_dir)
    return {"files_before": len(before), "files_after": len(_data_files(target_dir))}


def write_sorted_shards(
    df: DataFrame, path: str, sort_col: str, n_shards: int
) -> None:
    """Range-sharded sorted output: ``repartitionByRange`` samples the sort
    key to build balanced, NON-OVERLAPPING shard boundaries, then each
    shard sorts locally — a full distributed sort without any single
    machine seeing all data. This is both the training-shard layout
    (readers stream shard k independently, globally ordered across shards)
    and the precondition for min/max file skipping: disjoint per-file key
    ranges make a point query touch exactly one file."""
    (
        df.repartitionByRange(n_shards, F.col(sort_col))
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_value(col_a, col_b, bits: int = 16) -> "pyspark.sql.Column":  # noqa: F821
    """Morton (Z-order) interleave of two pre-scaled integer columns
    (each in [0, 2^bits)): bit i of ``col_a`` lands at position 2i+1, of
    ``col_b`` at 2i. Pure shift/and/or expressions — whole-stage codegen,
    no UDF. Locality property: keys close in EITHER dimension are close
    in z-value, so range-sharding by z bounds BOTH columns' per-file
    ranges (1-D sorting bounds only its own column)."""
    terms = []
    for i in range(bits):
        terms.append(
            F.shiftleft(F.shiftright(col_a, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
        terms.append(
            F.shiftleft(F.shiftright(col_b, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    z = terms[0]
    for t in terms[1:]:
        z = z.bitwiseOR(t)
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_shards: int,
    bits: int = 16,
) -> None:
    """Z-ordered two-dimensional layout (Delta's ``OPTIMIZE ZORDER BY``):
    scale both columns to ``bits``-bit ranks (min/max from one scalar
    aggregate, broadcast), interleave into a Morton key, range-shard and
    locally sort by it. Result: every file covers a small rectangle of
    (col_a, col_b) space, so min/max file skipping — parquet footers, or
    ``txn`` manifest stats — prunes selective predicates on EITHER
    column; a 1-D sorted layout can only ever prune its sort column.

    Production note: linear min/max scaling is rank-faithful enough for
    uniform-ish keys; heavily skewed keys want histogram/range-bin ranks
    (same z-interleave on top). Scaling constants come from the data in
    ONE extra scalar aggregate — no shuffle added beyond the range
    exchange every sorted layout needs.
    """
    (
        zorder_layout(df, col_a, col_b, n_shards, bits)
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_layout(
    df: DataFrame, col_a: str, col_b: str, n_shards: int, bits: int = 16
) -> DataFrame:
    """The reusable z-layout pipeline (shared by ``write_zordered`` and
    ``txn.compact(zorder_by=…)``): scale both columns to ``bits``-bit
    ranks, Morton-interleave, range-shard and locally sort. An EMPTY frame
    returns unchanged (no min/max to scale by); non-numeric or all-NULL
    z-columns raise a clear error instead of a deep TypeError or a
    silent not-actually-zordered commit."""
    lo_a, hi_a, lo_b, hi_b, n_rows = df.select(
        F.min(col_a), F.max(col_a), F.min(col_b), F.max(col_b),
        F.count(F.lit(1)),
    ).first()
    if n_rows == 0:
        return df  # empty input: nothing to lay out
    if lo_a is None or lo_b is None:
        # rows exist but a z-column is ALL NULL — silently skipping the
        # layout would commit a 'zorder'-labeled version that is neither
        # z-ordered nor resharded
        raise ValueError(
            f"z-order column {col_a if lo_a is None else col_b!r} is "
            "entirely NULL"
        )
    try:
        lo_af, span_af = float(lo_a), float(hi_a - lo_a) or 1.0
        lo_bf, span_bf = float(lo_b), float(hi_b - lo_b) or 1.0
    except (TypeError, ValueError) as exc:
        raise ValueError(
            f"z-order requires numeric columns, got {col_a!r}/{col_b!r}"
        ) from exc
    top = (1 << bits) - 1

    def scaled(c, lo, span):
        return F.floor(
            (F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * top
        ).cast("long")

    z = zorder_value(
        scaled(col_a, lo_af, span_af), scaled(col_b, lo_bf, span_bf), bits
    )
    return (
        df.withColumn("_z", z)
        .repartitionByRange(n_shards, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
    )


def surrogate_key(*cols) -> "pyspark.sql.Column":  # noqa: F821
    """Deterministic 64-bit surrogate key (SURVEY §7.3.1): xxhash64 of the
    natural key — stable across runs/executors, unlike
    monotonically_increasing_id, and needs no sequence/flush dance."""
    return F.xxhash64(*cols)
