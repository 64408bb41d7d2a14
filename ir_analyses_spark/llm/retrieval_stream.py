"""Streaming index maintenance: grow the stored retrieval index from a
document stream, exactly once per micro-batch.

The batch side already has the pieces — `retrieval.write_retrieval_index`
builds, `retrieval.append_retrieval_index` merges a batch
BYTE-IDENTICALLY to a full rebuild behind a staged swap — so the
streaming form is a ``foreachBatch`` sink over them (the
`streaming/pipeline.py` foreachBatch-MERGE posture): each micro-batch
appends with ``batch_marker="epoch-<id>"``, and because the marker
lands INSIDE the staged index it commits in the SAME rename as the
data. Checkpoint-recovery replays therefore short-circuit to no-ops
at the marker check — the `io/txn_stream.py` exactly-once argument,
without the txn table: one promotion rename is the single commit
point for data + ledger. The FIRST batch bootstraps the index through
the same machinery (``bootstrap_seg_width``), so there is no separate
create step with its own crash window.

Scale shape: per epoch, the merge re-aggregates ONLY the
(token, segment) keys the batch touches (untouched rows pass through
unparsed); the rewrite cost is the full postings parquet — the same
sequential IO an OPTIMIZE-style maintenance pass budgets — so size
micro-batches in minutes-of-crawl, not per-document. SINGLE-WRITER by
contract (one stream owns one index), like the fingerprint store.

New module per the evidence-ledger rule (stales nothing); the driver
row executes a REAL file stream and oracles the stored postings
against the segmented-postings SQL over the same documents — valid
whatever the batching, because append == rebuild is byte-identical
(pinned in tests/test_retrieval.py).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..io.sources import load_table
from ..ops.helpers import local_df
from ..streaming.pipeline import run_available_now
from .retrieval import append_retrieval_index, read_retrieval_index


def index_stream_sink(path: str, seg_width: int = 1 << 52):
    """``foreachBatch`` function: append each micro-batch
    (doc_id, text) into the stored index at ``path`` exactly once.
    Epoch ids become applied-batch markers; a replayed epoch is a
    no-op, a NEW epoch carrying already-indexed doc_ids refuses loudly
    (the duplicate-doc guard — upstream dedup owns doc identity)."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        append_retrieval_index(
            batch_df.select("doc_id", "text"),
            path,
            batch_marker=f"epoch-{batch_id}",
            bootstrap_seg_width=seg_width,
        )

    return _apply


def stream_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: a real 3-file document stream
    (maxFilesPerTrigger=1 → three micro-batches) grows the stored
    index through the exactly-once sink; the result is the postings
    read back FROM STORAGE plus the applied-epoch count. Oracle = the
    segmented-postings SQL over the same documents (+ the literal
    epoch count): a double-applied epoch would double every touched
    doc's tf, a torn commit would drop rows — either breaks the
    hash."""
    import shutil

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="stream_ridx_")
    src, idx = os.path.join(tmp, "src"), os.path.join(tmp, "index")
    try:
        docs.repartition(3).write.parquet(src)
        run_available_now(
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(index_stream_sink(idx, seg_width=256)),
            staged=(src,),
        )
        postings, _, _meta = read_retrieval_index(spark, idx)
        n_epochs = len(os.listdir(os.path.join(idx, "_applied")))
        return postings.select(
            "token", "segment", "df_seg", "total_tf", "postings"
        ).crossJoin(
            F.broadcast(local_df(spark, [(n_epochs,)], "n_epochs int"))
        ).localCheckpoint(eager=True)  # materialize before the index goes
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# the batch certificate's oracle (INVERTED_INDEX_POSTINGS_SHARDED_SQL,
# same seg_width 256) restated with the epoch-count column appended:
# the stream processed exactly the 3 staged files
STREAM_INDEX_APPEND_SQL = """
WITH pos AS (
  SELECT doc_id, w[CAST(i AS INT)] AS w, CAST(i AS INT) AS p
  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents),
       UNNEST(range(1, LEN(w) + 1)) AS t(i)
),
per_doc AS (
  SELECT w, doc_id, doc_id // 256 AS seg,
         doc_id || ':' || STRING_AGG(p, ',' ORDER BY p) AS entry,
         COUNT(*) AS tf
  FROM pos GROUP BY w, doc_id
)
SELECT w AS token, seg AS segment, COUNT(*) AS df_seg,
       CAST(SUM(tf) AS BIGINT) AS total_tf,
       STRING_AGG(entry, ';' ORDER BY doc_id) AS postings,
       3 AS n_epochs
FROM per_doc GROUP BY w, seg
"""

QUERIES = {"stream_index_append": stream_index_append}
ORACLES = {"stream_index_append": STREAM_INDEX_APPEND_SQL}
