"""Structured Streaming operators over the event stream (SURVEY §2B
Streaming; M6): file source → watermark → tumbling/sliding/session windows,
stateful dedup, custom per-key state, foreachBatch upsert sink.

Design notes for scale:
- every aggregation is bounded by a watermark, so state is O(open windows ×
  keys), never O(stream length);
- the same transformation functions run in batch mode (DataFrames are
  source-agnostic) — the registry exposes batch twins of each windowed agg,
  which is also how the DuckDB oracle can check streaming semantics;
- every stream the engine runs — memory sink, foreachBatch sink, the
  ``txn_table`` sink — starts through :func:`run_available_now`: one
  availableNow trigger, one timeout, one checkpoint/staging cleanup and
  one state-sizing policy derived from the staged input's bytes;
- sinks go through ``foreachBatch``, so a replay after failure never
  duplicates: the keyed upsert sink is idempotent by construction
  (``io.sinks.merge_upsert``); the ADDITIVE rollup and SCD2 sinks commit
  on the transaction-log format (``io/txn.py``), where the batch id rides
  in the same manifest as the data — a replayed batch is a no-op at the
  same table version, with no merge-vs-marker crash window.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..io import txn
from ..io.sources import events_ts_unit, load_table, narrow_ns_to_ts
from ..schemas import EVENTS_TS_NANOS_SCHEMA, TESTDATA_SCHEMAS


def has_tws_support(spark: SparkSession | None = None) -> bool:
    """Explicit capability probe for ``transformWithStateInPandas``: the
    Spark 4 worker protocol for that API serializes state over protobuf,
    so ``google.protobuf`` must be importable where the state protocol
    runs. The probe is a DRIVER-side import: empirically (this container)
    an executor-side import probe can succeed while the real
    transformWithState helper process still dies — importability in an
    RDD worker does not model the TWS runtime's own environment — so the
    driver import is the best cheap signal, correct wherever driver and
    workers share one Python environment (local mode, uniform clusters).
    On split-environment deployments, validate the API with a smoke
    stream at deploy time rather than trusting any import probe. Where
    the probe is false, the ``applyInPandasWithState`` twin provides
    identical semantics."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False

WATERMARK = "10 minutes"
TUMBLE = "15 minutes"
SLIDE_WIDTH = "10 minutes"
SLIDE_STEP = "5 minutes"
SESSION_GAP = "30 minutes"


# ---------------------------------------------------------------------------
# Sources
# ---------------------------------------------------------------------------

def stream_events(spark: SparkSession, src_dir: str) -> DataFrame:
    """File-source event stream: new parquet files under ``src_dir`` become
    micro-batches. Schema is declared (never inferred mid-stream); the ts
    unit is probed from the staged footers once at stream definition —
    MICROS reads straight into TimestampType, NANOS arrives as raw longs
    and narrows on entry (io.sources.narrow_ns_to_ts)."""
    from glob import glob as _glob

    if not _glob(os.path.join(src_dir, "**", "*.parquet"), recursive=True):
        # the unit probe would bake its empty-dir default into the
        # stream's fixed schema; NANOS files arriving later would then be
        # read 1000x off for the stream's whole lifetime — refuse loudly
        raise ValueError(
            f"stream_events: no parquet files under {src_dir} to probe the "
            "timestamp unit from; stage at least one file before defining "
            "the stream"
        )
    is_ns = events_ts_unit(src_dir) == "ns"
    raw = (
        spark.readStream.schema(
            EVENTS_TS_NANOS_SCHEMA if is_ns else TESTDATA_SCHEMAS["events"]
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    return narrow_ns_to_ts(raw) if is_ns else raw


# ---------------------------------------------------------------------------
# Windowed transformations — source-agnostic: run on stream or batch frames
# ---------------------------------------------------------------------------

def tumbling_counts(events: DataFrame) -> DataFrame:
    """Tumbling-window per-type aggregate with late-data watermark."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", TUMBLE).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_user_activity(events: DataFrame) -> DataFrame:
    """Sliding-window (10 min window, 5 min step) per-user event counts."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", SLIDE_WIDTH, SLIDE_STEP).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "user_id",
            "n_events",
        )
    )


def session_windows(events: DataFrame) -> DataFrame:
    """Session-window aggregation: a ≥30-minute silence closes the session.
    In streaming mode state merges adjacent sessions as late events arrive;
    in batch mode it is a single pass."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def dedup_within_watermark(events: DataFrame) -> DataFrame:
    """Stateful streaming dedup on event_id: duplicates arriving within the
    watermark horizon are dropped; state expires with the watermark, so the
    dedup index never grows unboundedly (unlike batch dropDuplicates)."""
    return events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


# ---------------------------------------------------------------------------
# Sinks
# ---------------------------------------------------------------------------

#: upper bound for every availableNow stream — a wedged micro-batch must
#: surface as an error row in the correctness sweep, not hang it forever
_STREAM_TIMEOUT_S = 600

#: serializes run_available_now's session-global set → run → restore
_RUN_LOCK = threading.Lock()


def run_available_now(
    writer: DataStreamWriter,
    staged: tuple[str, ...] = (),
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Run a configured stream to completion and return the terminated
    query — the one place the engine starts and awaits a stream.

    ``writer`` carries the caller's sink, query name, output mode and
    options; this adds the ``availableNow`` trigger and the checkpoint (a
    temp dir deleted afterwards, unless the caller passes its own — the
    foreachBatch sinks keep ``<target>__checkpoint`` so a restart
    resumes). ``staged`` are the caller's staged source directories,
    deleted afterwards too. A failed batch raises the stream's exception;
    a stream still running after ``_STREAM_TIMEOUT_S`` is stopped and
    raises RuntimeError.

    State sizing (derive partitioning from input size, never a constant):
    a stateful operator opens one state-store instance per shuffle
    partition, each paying a per-batch commit — measured (sf0.01) 32
    RocksDB commits of ~1.5 s each for the interval join's 3,987-row
    state, 4.80 → 2.74 s sized. So ``spark.sql.shuffle.partitions`` is
    lowered for the run to the staged bytes' estimated split count (floor
    2: state stays multi-instance) when that is below the session's
    value; at real scale it is not, and this is a no-op. The count is
    locked into the fresh checkpoint at batch 0; output values are
    partitioning-independent.

    Serial contract: the stream runs on the caller's session (a child
    ``newSession()`` would hide the memory sink's table and the stream's
    progress events from the caller), so the lowered count is visible to
    other work planned on that session meanwhile. Runs serialize on a
    module lock, so two runners never interleave their set/restore; do
    not plan other work on the session from another thread during a run.
    """
    from ..ops.helpers import estimated_splits, input_bytes

    spark = writer._spark  # the session of the writer's DataFrame
    cleanup = list(staged)
    with _RUN_LOCK:
        old = spark.conf.get("spark.sql.shuffle.partitions")
        nbytes = sum(input_bytes(d) or 0 for d in staged)
        splits = estimated_splits(spark, nbytes) if nbytes > 0 else None
        parts = max(2, splits or 0)
        sized = splits is not None and old.isdigit() and parts < int(old)
        try:
            if checkpoint is None:
                checkpoint = tempfile.mkdtemp(prefix="ir_spark_ckpt_")
                cleanup.append(checkpoint)
            if sized:
                spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            q = (
                writer.option("checkpointLocation", checkpoint)
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(_STREAM_TIMEOUT_S):
                q.stop()
                raise RuntimeError(
                    f"stream {q.name or q.id} did not finish in "
                    f"{_STREAM_TIMEOUT_S}s"
                )
        finally:
            if sized:
                spark.conf.set("spark.sql.shuffle.partitions", old)
            for d in cleanup:
                shutil.rmtree(d, ignore_errors=True)
    return q


def foreach_batch_upsert(
    df: DataFrame,
    target_dir: str,
    keys: list[str],
    partition_col: str | None = None,
):
    """Idempotent streaming sink: every micro-batch MERGEs into a parquet
    target by natural key (the bare-parquet MERGE emulation from io.sinks;
    with Delta this would be ``MERGE INTO``). Replayed batches upsert the
    same keys → exactly-once at the table level. Pass ``partition_col`` so
    each micro-batch rewrites ONLY the partitions it touches — without it
    the merge is O(table) per batch, the scale-killer in a streaming write
    path. Each batch is collapsed to one row per key first (MERGE's
    one-update-per-key contract; dropDuplicates keeps an arbitrary
    duplicate — feeds that care which row survives must collapse upstream
    with an explicit ordering, as foreach_batch_scd2 does)."""
    from ..io.sinks import merge_upsert

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        merge_upsert(
            batch_df.dropDuplicates(keys), target_dir, keys,
            partition_col=partition_col,
        )

    return run_available_now(
        df.writeStream.foreachBatch(_apply),
        checkpoint=f"{target_dir}__checkpoint",
    )


def foreach_batch_scd2(
    df: DataFrame,
    table: str,
    key: str,
    change_cols: list[str],
    effective_col: str = "effective_from",
):
    """Streaming CDC → SCD2: every micro-batch of change events versions
    the dimension table (close-and-append via ``io.txn.scd2_merge_txn``;
    read it with ``txn.read``). The batch is first collapsed to its latest
    row per key (SCD2's one-update-per-key contract; intermediate
    same-batch flips are sub-batch-granularity history by definition).
    Replay needs the batch-id ledger: re-merging only the LAST batch is a
    no-op (values already current), but a replay from batch 0 would see
    older values as "changes" against the final state and append stale
    versions. The batch id commits in the same manifest as the versioned
    table, so a replayed batch is a no-op at the same table version."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        # total order: effective date desc, then the change columns desc —
        # two same-key rows with equal effective_from (common at date
        # granularity) must pick the SAME survivor on every replay, or the
        # dimension's history differs between runs
        w = Window.partitionBy(key).orderBy(
            F.col(effective_col).desc(),
            *[F.col(c).desc() for c in change_cols],
        )
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        txn.scd2_merge_txn(
            latest, table, key, change_cols, effective_col,
            batch_id=batch_id,
        )

    return run_available_now(
        df.writeStream.foreachBatch(_apply),
        checkpoint=f"{table}__checkpoint",
    )


# ---------------------------------------------------------------------------
# Incremental rollup: a continuously-maintained pre-aggregate (the
# hypertable continuous-aggregate / materialized-rollup pattern)
# ---------------------------------------------------------------------------

def rollup_delta(events: DataFrame) -> DataFrame:
    """Per-(day, event_type) partial aggregate of one frame. Source-agnostic
    (micro-batch or bounded). Both measures are RE-AGGREGABLE — count and an
    integer-micros sum combine by addition — which is what makes the rollup
    incrementally maintainable without reprocessing history; avg/median
    would need their re-aggregable decompositions (sum+count / sketch).
    Day is a string so the partition value round-trips identically (the
    engine disables partition-column type inference)."""
    return events.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.floor(F.col("value") * 1_000_000.0 + F.lit(0.5)).cast("long")
        ).alias("value_micros"),
    )


def foreach_batch_rollup(df: DataFrame, table: str):
    """Streaming sink that keeps the rollup current: every micro-batch
    folds its partial aggregate into the rollup table. State lives in the
    table itself — no streaming-state store — so the rollup survives
    restarts and is queryable mid-stream at scan speed; read it with
    ``txn.read``.

    Addition is NOT naturally idempotent (a replayed batch would
    double-count), so each batch commits through ``io.txn.additive_merge``:
    ONE manifest publication carries the merged days and the batch id, so
    a replayed batch is a no-op at the same table version, crash-anywhere
    included, and a concurrent reader sees the whole batch or none of it.
    The rewrite stays pruned to the days the batch touches, never
    O(table)."""
    return run_available_now(
        df.writeStream.foreachBatch(_rollup_batch(table)),
        checkpoint=f"{table}__checkpoint",
    )


def _rollup_batch(table: str):
    """foreachBatch function of :func:`foreach_batch_rollup`."""
    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        txn.additive_merge(
            rollup_delta(batch_df),
            table,
            partition_col="day",
            group_cols=["day", "event_type"],
            sum_cols=["n_events", "value_micros"],
            batch_id=batch_id,
        )

    return _apply


# ---------------------------------------------------------------------------
# Custom stateful operator: per-user running totals via applyInPandasWithState
# ---------------------------------------------------------------------------

def stateful_running_totals(events: DataFrame) -> DataFrame:
    """Custom keyed state (§2B custom stateful): running event count + value
    sum per user, emitted once per micro-batch. GroupState holds two numbers
    per user — fixed-size state, the pattern for billions of keys."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id bigint, n_events bigint, total_value double"
    state_schema = "n bigint, total double"

    def update(key, pdf_iter, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_totals_tws(events: DataFrame) -> DataFrame:
    """Same running totals on the Spark 4 ``transformWithStateInPandas``
    API (§2B custom stateful, current-generation form): typed ValueState
    handles, explicit init/close lifecycle, TTL-capable — the successor of
    applyInPandasWithState and where new stateful operators should land.

    Environment note: the worker protocol of this API requires
    ``google.protobuf`` at runtime (and the RocksDB state store, enabled in
    session.py); where protobuf is absent the applyInPandasWithState twin
    above provides the same semantics."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    state_schema = StructType(
        [StructField("n", LongType()), StructField("total", DoubleType())]
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timerValues) -> "pd.DataFrame":
            n, total = self._state.get() if self._state.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].fillna(0.0).sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        RunningTotals(),
        outputStructType="user_id bigint, n_events bigint, total_value double",
        outputMode="Update",
        timeMode="None",
    )


def stateful_totals_micros(events: DataFrame) -> DataFrame:
    """Cross-engine-checkable variant of :func:`stateful_running_totals`:
    the per-user value sum accumulates in integer MICROS
    (``floor(value*1e6 + 0.5)``) so the total is order-independent and
    exactly reproducible by a SQL oracle — float accumulation order differs
    between engines and would drift the hash compare. Prefers the
    ``transformWithStateInPandas`` form when the worker protocol is
    available (see :func:`has_tws_support`), else the
    ``applyInPandasWithState`` twin — identical semantics either way."""
    import numpy as np
    import pandas as pd

    out_schema = "user_id bigint, n_events bigint, total_micros bigint"

    def fold(pdf_iter, n: int, micros: int):
        for pdf in pdf_iter:
            n += len(pdf)
            vals = pdf["value"].fillna(0.0).to_numpy(dtype="float64")
            micros += int(np.floor(vals * 1_000_000.0 + 0.5).astype("int64").sum())
        return n, micros

    if has_tws_support(events.sparkSession):
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )
        from pyspark.sql.types import LongType, StructField, StructType

        state_schema = StructType(
            [StructField("n", LongType()), StructField("micros", LongType())]
        )

        class MicroTotals(StatefulProcessor):
            def init(self, handle: StatefulProcessorHandle) -> None:
                self._state = handle.getValueState("micros", state_schema)

            def handleInputRows(self, key, rows, timerValues):
                n, micros = (
                    self._state.get() if self._state.exists() else (0, 0)
                )
                n, micros = fold(rows, n, micros)
                self._state.update((n, micros))
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        "n_events": [n],
                        "total_micros": [micros],
                    }
                )

            def close(self) -> None:
                pass

        return events.groupBy("user_id").transformWithStateInPandas(
            MicroTotals(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        n, micros = state.get if state.exists else (0, 0)
        n, micros = fold(pdf_iter, n, micros)
        state.update((n, micros))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_micros": [micros]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType="n bigint, micros bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Driver-checkable EXECUTIONS of the streaming operators: each runs a real
# readStream → stateful op → availableNow memory sink to completion inside
# the query function and returns the final table, so the driver's oracle
# compare covers the actual streaming machinery, not just a batch twin.
# ---------------------------------------------------------------------------


def _stage_events_dir(sf_dir: str) -> str:
    """The file stream source wants a DIRECTORY of files (its basePath);
    the testdata table is a single parquet file. Stage it into a temp dir
    by symlink — zero-copy, read-only on the source. The target is
    absolutized: a relative ``sf_dir`` would store a link that resolves
    against the TEMP directory and dangle."""
    d = tempfile.mkdtemp(prefix="ir_spark_stream_src_")
    os.symlink(
        os.path.abspath(os.path.join(sf_dir, "events.parquet")),
        os.path.join(d, "events.parquet"),
    )
    return d


def stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executes the custom-keyed-state operator (§2B custom stateful) as a
    real stream over the events parquet and returns final per-user totals.
    The last emit per user (largest n_events — the count strictly grows)
    is the final state; micros→value division by 1e6 is exact for integer
    micros < 2^53, so the double compares cleanly cross-engine."""
    src = _stage_events_dir(sf_dir)
    q = run_available_now(
        stateful_totals_micros(stream_events(spark, src))
        .writeStream.format("memory")
        .queryName(f"strq_{uuid.uuid4().hex[:10]}")
        .outputMode("update"),
        staged=(src,),
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        spark.table(q.name)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "n_events",
            (F.col("total_micros").cast("double") / F.lit(1_000_000.0)).alias(
                "total_value"
            ),
        )
    )


# COALESCE matches the stateful fold's fillna(0.0): a user whose values are
# all NULL totals 0, never NULL (SQL SUM over an all-NULL group would return
# NULL and diverge from the operator).
STATEFUL_USER_TOTALS_SQL = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(COALESCE(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)), 0)
            AS DOUBLE) / 1000000 AS total_value
FROM events
GROUP BY user_id
"""


def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executes :func:`dedup_within_watermark` as a real stream (stateful
    dedup with watermark-expiring state) and returns the admitted KEY SET.

    Only ``event_id`` is projected on purpose: among duplicates whose
    payload columns differ, ``dropDuplicatesWithinWatermark`` keeps an
    arbitrary (arrival-order-dependent) survivor, so payload columns are
    not engine-portable — the deterministic, checkable contract of the
    operator is exactly "each key admitted once". Payload-level survivor
    behavior is exercised in tests/test_streaming.py."""
    src = _stage_events_dir(sf_dir)
    q = run_available_now(
        dedup_within_watermark(stream_events(spark, src))
        .writeStream.format("memory")
        .queryName(f"strq_{uuid.uuid4().hex[:10]}"),
        staged=(src,),
    )
    return spark.table(q.name).select("event_id")


STREAM_DEDUP_SQL = """
SELECT DISTINCT event_id FROM events
"""


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join, executed as a REAL stream: each
    micro-batch of events joins the static ``nation`` dim (broadcast — the
    dim is re-readable per batch, never stateful) to attach a region
    label. The canonical lookup-enrichment every event pipeline runs;
    state cost is zero because only the stream side moves."""
    src = _stage_events_dir(sf_dir)
    events = stream_events(spark, src)
    nation = load_table(spark, "nation", sf_dir).select(
        "n_nationkey", "n_name"
    )
    enriched = events.join(
        F.broadcast(nation), events["user_id"] % 25 == nation["n_nationkey"]
    ).select("event_id", "user_id", "n_name", "event_type", "value")
    q = run_available_now(
        enriched.writeStream.format("memory")
        .queryName(f"strq_{uuid.uuid4().hex[:10]}"),
        staged=(src,),
    )
    return spark.table(q.name)


STREAM_STATIC_ENRICH_SQL = """
SELECT event_id, user_id, n_name, event_type, value
FROM events JOIN nation ON user_id % 25 = n_nationkey
"""


def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream INNER interval join, executed for real: clicks and
    purchases arrive as two independent file streams, and a purchase joins
    every click by the same user in the preceding 30 minutes. Watermarks
    on both sides bound the buffered state to the interval width — the
    piece that makes a stream-stream join runnable forever; inner-join
    matches emit as soon as both sides arrive. The elapsed gap is emitted
    in integer microseconds so the oracle compare is exact."""
    src_c = _stage_events_dir(sf_dir)
    src_p = _stage_events_dir(sf_dir)
    clicks = (
        stream_events(spark, src_c)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", WATERMARK)
    )
    purchases = (
        stream_events(spark, src_p)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("p_ts", WATERMARK)
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("click_ts"))
        & (F.col("p_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        (F.unix_micros("p_ts") - F.unix_micros("click_ts")).alias(
            "micros_to_purchase"
        ),
    )
    q = run_available_now(
        joined.writeStream.format("memory")
        .queryName(f"strq_{uuid.uuid4().hex[:10]}"),
        staged=(src_c, src_p),
    )
    return spark.table(q.name)


STREAM_STREAM_INTERVAL_JOIN_SQL = """
SELECT c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.user_id,
       EPOCH_US(p.ts) - EPOCH_US(c.ts) AS micros_to_purchase
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
"""


def stream_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executes the incremental-rollup sink over a REAL multi-batch stream:
    the events table is staged as three files (maxFilesPerTrigger=1 → three
    micro-batches), each batch's delta additively merges into the
    partitioned rollup table, and the final table is returned. The oracle
    is the one-shot batch aggregate — additivity means N incremental merges
    must equal the single full aggregation exactly (integer micros, no
    float drift)."""
    tmp = tempfile.mkdtemp(prefix="ir_spark_rollup_")
    src, target = os.path.join(tmp, "src"), os.path.join(tmp, "rollup")
    try:
        # split the source into 3 files so the staged dir looks like a
        # growing stream; load_table normalizes ts to TimestampType, so the
        # staged footers are MICROS regardless of the source's unit
        load_table(spark, "events", sf_dir).repartition(3).write.parquet(src)
        run_available_now(
            stream_events(spark, src).writeStream.foreachBatch(
                _rollup_batch(target)
            ),
            staged=(src,),
        )
        out = txn.read(spark, target).select(
            "day", "event_type", "n_events", "value_micros"
        )
        # materialize before the temp dir vanishes
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


STREAM_INCREMENTAL_ROLLUP_SQL = """
SELECT STRFTIME(ts, '%Y-%m-%d') AS day,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
           AS value_micros
FROM events
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Batch twins (driver-checkable oracle surface for the same semantics)
# ---------------------------------------------------------------------------

def stream_tumbling_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of :func:`tumbling_counts` — identical transformation on
    the same data as a bounded frame (window alignment is epoch-based in
    both engines)."""
    return tumbling_counts(load_table(spark, "events", sf_dir))


STREAM_TUMBLING_SQL = """
SELECT time_bucket(INTERVAL 15 MINUTE, ts) AS window_start,
       time_bucket(INTERVAL 15 MINUTE, ts) + INTERVAL 15 MINUTE AS window_end,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2, 3
"""


def stream_sliding_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of :func:`sliding_user_activity`: every event lands in
    width/step = 2 overlapping windows."""
    return sliding_user_activity(load_table(spark, "events", sf_dir))


STREAM_SLIDING_SQL = """
WITH expanded AS (
  SELECT user_id,
         time_bucket(INTERVAL 5 MINUTE, ts) - k * (INTERVAL 5 MINUTE) AS window_start
  FROM events, UNNEST([0, 1]) AS t(k)
)
SELECT window_start, user_id, COUNT(*) AS n_events
FROM expanded
GROUP BY 1, 2
"""


def stream_session_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of :func:`session_windows` (session_window works on
    bounded frames too)."""
    return session_windows(load_table(spark, "events", sf_dir))


STREAM_SESSION_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR EPOCH(ts) - EPOCH(LAG(ts) OVER w) >= 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts, value,
         CAST(SUM(new_session) OVER (
              PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS session_seq
  FROM flagged

)
SELECT MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
FROM sessions
GROUP BY user_id, session_seq
"""


QUERIES = {
    "stream_tumbling_batch": stream_tumbling_batch,
    "stream_sliding_batch": stream_sliding_batch,
    "stream_session_batch": stream_session_batch,
    "stateful_user_totals": stateful_user_totals,
    "stream_dedup_watermark": stream_dedup_watermark,
    "stream_incremental_rollup": stream_incremental_rollup,
    "stream_static_enrich": stream_static_enrich,
    "stream_stream_interval_join": stream_stream_interval_join,
}

ORACLES = {
    "stream_tumbling_batch": STREAM_TUMBLING_SQL,
    "stream_sliding_batch": STREAM_SLIDING_SQL,
    "stream_session_batch": STREAM_SESSION_SQL,
    "stateful_user_totals": STATEFUL_USER_TOTALS_SQL,
    "stream_dedup_watermark": STREAM_DEDUP_SQL,
    "stream_incremental_rollup": STREAM_INCREMENTAL_ROLLUP_SQL,
    "stream_static_enrich": STREAM_STATIC_ENRICH_SQL,
    "stream_stream_interval_join": STREAM_STREAM_INTERVAL_JOIN_SQL,
}
