"""Streaming curation (streaming/curate_stream.py): real readStream
runs checked against the identical batch transformation."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from ir_analyses_spark.streaming.curate_stream import (
    curate_stream,
    dedup_docs_within_watermark,
    quality_gate,
    stream_documents,
)
from ir_analyses_spark.streaming.pipeline import run_available_now

GOOD = (
    "the quick brown fox jumps over the lazy dog and runs to the river "
    "bank where the evening light settles over the water and that is the "
    "whole story of the day with nothing else to tell beyond the quiet end"
)
BAD = "tiny"
T0 = datetime(2024, 3, 1, 12, 0, 0)


def _docs():
    rows = []
    for i in range(6):
        rows.append((i, f"{GOOD} variant {i}", T0))
    rows.append((6, BAD, T0))
    rows.append((7, "", T0))
    # byte-identical re-crawl of doc 0 under a new id
    rows.append((8, f"{GOOD} variant 0", T0))
    return rows


@pytest.fixture(scope="module")
def docs_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("doc_stream"))
    df = spark.createDataFrame(
        _docs(), "doc_id long, text string, ingest_ts timestamp"
    )
    # single file → single micro-batch (same rationale as the certified
    # event-stream dedup test: multiple unordered files would test
    # lateness, not dedup)
    df.coalesce(1).write.mode("overwrite").parquet(path)
    return path


def _run(stream, name):
    run_available_now(stream.writeStream.format("memory").queryName(name))


def test_streaming_gate_matches_batch(spark, docs_dir):
    stream = quality_gate(
        stream_documents(spark, docs_dir), thresholds={"min_words": 10}
    )
    _run(stream, "t_gate")
    got = {r["doc_id"] for r in spark.table("t_gate").collect()}
    batch = quality_gate(
        spark.read.parquet(docs_dir), thresholds={"min_words": 10}
    )
    want = {r["doc_id"] for r in batch.collect()}
    assert got == want
    assert got == {0, 1, 2, 3, 4, 5, 8}  # short + empty fail


def test_streaming_gate_plan_is_stateless(spark, docs_dir):
    stream = quality_gate(stream_documents(spark, docs_dir))
    assert stream.isStreaming
    plan = stream._jdf.queryExecution().analyzed().toString()
    assert "Join" not in plan  # projection-only gate: no state, no join


def test_streaming_curate_dedups_recrawl(spark, docs_dir):
    stream = curate_stream(
        stream_documents(spark, docs_dir), thresholds={"min_words": 10}
    )
    _run(stream, "t_curate")
    rows = spark.table("t_curate").collect()
    # 7 gate survivors, but docs 0 and 8 are byte-identical → 6 remain
    assert len(rows) == 6
    hashes = [r["content_hash"] for r in rows]
    assert len(set(hashes)) == 6
    kept_ids = {r["doc_id"] for r in rows}
    assert len(kept_ids & {0, 8}) == 1  # exactly one of the twins
    assert {1, 2, 3, 4, 5} <= kept_ids


def test_batch_twin_of_dedup(spark, docs_dir):
    """dropDuplicatesWithinWatermark degrades to plain content dedup on
    a batch frame — the batch twin the streaming oracle rests on."""
    batch = dedup_docs_within_watermark(spark.read.parquet(docs_dir))
    assert batch.count() == 8  # 9 rows, one exact duplicate pair


# slow: streaming-vs-batch parity for the model gate; the rule-gate parity twin stays fast in-suite
@pytest.mark.slow
def test_streaming_classifier_gate_matches_batch(spark, docs_dir):
    """r8: the MLlib classifier gate is stateless, so it runs on a
    stream and must equal the identical batch transformation."""
    from ir_analyses_spark.llm.quality_clf import train_quality_classifier
    from ir_analyses_spark.streaming.curate_stream import classifier_gate

    pos = spark.createDataFrame(
        [(f"{GOOD} sample {i}",) for i in range(40)], "text string"
    )
    neg = spark.createDataFrame(
        [("zxq kpl brrt glrb snnk " * 10,) for _ in range(40)], "text string"
    )
    model = train_quality_classifier(pos, neg, n_features=1 << 12, max_iter=15)
    stream = classifier_gate(stream_documents(spark, docs_dir), model)
    assert stream.isStreaming
    _run(stream.select("doc_id"), "t_clf_gate")
    got = {r["doc_id"] for r in spark.table("t_clf_gate").collect()}
    batch = spark.read.schema(
        "doc_id long, text string, ingest_ts timestamp"
    ).parquet(docs_dir)
    want = {
        r["doc_id"] for r in classifier_gate(batch, model).collect()
    }
    assert got == want
    # the gate did something real: GOOD variants pass, gibberish fails
    assert {0, 1, 2}.issubset(got) and 6 not in got
