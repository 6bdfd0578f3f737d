"""Streaming maintenance of the searchable inverted index: each micro-batch
of documents lands its postings and stats partial in their own ``batch=<id>``
partitions of a published text index (operators/text.py:text_index_publish),
so the BM25 serve path (``bm25_from_index``) sees new documents one trigger
after they arrive — the near-real-time-search face of the batch index
lifecycle. Postings and stats are two stores under the
:mod:`parqueryd_spark.streaming.state` contract. Corpus stats are mergeable
partials summed at serve time, which is what makes the maintenance
write-only — no read-modify-rewrite of a stats row, hence nothing to corrupt
mid-crash.

Batch-id spaces are disjoint by construction: the stream owns the
NONNEGATIVE ids its checkpoint assigns, manual ``text_index_append`` counts
NEGATIVE generations down from the published ``batch=-1`` — so appends and
stream micro-batches can never overwrite each other on the same index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parqueryd_spark.operators.text import _index_land
from parqueryd_spark.streaming import state


def stream_index_text(
    doc_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Start an availableNow foreachBatch query that indexes each micro-batch
    of documents into the published index at ``index_dir`` (which must exist:
    ``text_index_publish`` an initial corpus first, possibly empty). Returns
    the started StreamingQuery (callers ``awaitTermination()``).

    Precondition (as for text_index_append): incoming doc ids are new to the
    index — dedup upstream (streaming/dedup.stream_near_dedup composes: its
    survivors are exactly the docs worth indexing)."""
    return state.drain(
        doc_stream,
        checkpoint_dir,
        lambda df, batch_id: _index_land(index_dir, df, id_col, text_col, batch_id),
    )


def compact_text_index(spark, index_dir: str, target_partitions: int = 8) -> int:
    """Compact both stores: postings are a disjoint union (doc ids are new to
    the index), re-bucketed into ``target_partitions`` files per bucket;
    stats partials are sums, folded to a single row. Returns the compacted
    posting count."""
    root = index_dir.rstrip("/")
    n_buckets = spark.read.parquet(root + "/_stats").head()["n_buckets"]
    n = state.compact(
        spark,
        root + "/postings",
        # without the repartition the rewrite keeps the accumulated
        # per-micro-batch file spray — the exact thing compaction exists to fix
        lambda parts: parts.select("token", "doc", "tf", "dl", "bucket").repartition(
            target_partitions, "bucket"
        ),
        partition_by=["bucket"],
    )
    state.compact(
        spark,
        root + "/_stats",
        lambda parts: parts.agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("sum_dl").cast("long").alias("sum_dl"),
            F.lit(n_buckets).alias("n_buckets"),
        ),
    )
    return n
