"""Streaming NEAR-duplicate filtering: each micro-batch of documents is
deduped against a parquet-published minhash index (plus itself), and the
surviving docs' index rows are added for the next batch — the streaming face
of :func:`parqueryd_spark.operators.dedup.incremental_minhash_pairs`.

Why foreachBatch instead of stateful operators: the dedup "state" here is the
corpus signature index, which must (a) outlive the stream, (b) be shared with
batch pipelines, and (c) scale past executor state stores. A parquet dataset
partitioned by batch id gives all three; its replay and compaction contract
is :mod:`parqueryd_spark.streaming.state`'s.

Scale posture: per trigger the work is |batch| signature builds + a
band-bucket join against the stored index — the index is never re-shingled,
and the join reads only matching band buckets. Exact duplicates of docs seen
in PRIOR batches are dropped too (Jaccard 1.0 >= any threshold).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parqueryd_spark.operators.dedup import incremental_minhash_pairs, minhash_index
from parqueryd_spark.streaming import state


def stream_near_dedup(
    doc_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    k: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
):
    """Start an availableNow foreachBatch query that filters each micro-batch
    of documents against the published index at ``index_dir`` and grows the
    index with the survivors. Returns the started StreamingQuery (callers
    ``awaitTermination()``).

    Drop policy per batch: a new doc near-duplicating an INDEXED doc is
    dropped (the indexed copy already serves); between two new dups the
    larger id is dropped (keep-smallest, matching the batch operators).
    """

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        new_idx = minhash_index(
            batch_df.select(id_col, text_col), id_col, text_col, k, num_hashes
        ).persist()
        try:
            corpus = state.standing(spark, index_dir, batch_id)
            if corpus is None:
                corpus = spark.createDataFrame([], new_idx.schema)
            else:
                corpus = corpus.select("doc", "sh", "sig")
            pairs = incremental_minhash_pairs(
                new_idx, corpus, num_hashes, bands, threshold
            )
            new_ids = new_idx.select(F.col("doc").alias("nid"))
            flagged = (
                pairs.join(
                    new_ids.select(F.col("nid").alias("id_a"), F.lit(1).alias("_an")),
                    "id_a",
                    "left",
                ).join(
                    new_ids.select(F.col("nid").alias("id_b"), F.lit(1).alias("_bn")),
                    "id_b",
                    "left",
                )
            )
            drop = flagged.select(
                F.when(F.col("_an").isNull(), F.col("id_b"))  # only b is new
                .when(F.col("_bn").isNull(), F.col("id_a"))  # only a is new
                .otherwise(F.col("id_b"))  # both new: drop the larger
                .alias("doc")
            ).distinct()
            state.land(new_idx.join(drop, "doc", "left_anti"), index_dir, batch_id)
        finally:
            new_idx.unpersist()

    return state.drain(doc_stream, checkpoint_dir, _process)


def read_index(spark, index_dir: str) -> DataFrame:
    """The published index as one DataFrame (doc, sh, sig) — what batch
    pipelines join against, and what a compaction pass rewrites."""
    return spark.read.parquet(index_dir).select("doc", "sh", "sig")


def compact_index(spark, index_dir: str, target_partitions: int = 8) -> int:
    """Compact the minhash index. Index rows are a SET of survivors (one row
    per kept doc), so the merge is the union itself — re-spread over
    ``target_partitions`` files — and the stream's index probe and per-batch
    overwrite contract still hold afterwards. Returns the compacted row
    count."""
    return state.compact(
        spark, index_dir, lambda parts: parts.select("doc", "sh", "sig").repartition(target_partitions)
    )


def stream_substring_dedup(
    doc_stream: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 16,
):
    """Streaming SUB-document dedup — the streaming face of
    :func:`parqueryd_spark.operators.dedup.substring_dedup_increment`: per
    micro-batch, every document is rebuilt with the tokens covered by
    already-seen (standing-index or in-batch duplicated) >= ``min_tokens``-
    token windows removed, the rebuilt batch lands in ``out_dir/batch=<id>``
    and the batch's NEW window digests append to the index at ``index_dir``
    — both idempotent ``batch=<id>`` overwrites (replays rewrite themselves),
    and historical text is never re-read (the digest index IS the state,
    same argument as the minhash face above).

    Batch-by-batch output equals the one-shot ``substring_dedup`` over the
    concatenated corpus restricted to each batch's docs, provided ingest
    order matches id order (pytest-pinned)."""
    from parqueryd_spark.operators.dedup import (
        apply_token_droplist,
        substring_dedup_increment,
        substring_index,
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        docs = batch_df.select(id_col, text_col)
        raw = state.standing(spark, index_dir, batch_id)
        if raw is None:
            standing = spark.createDataFrame([], "digest binary")
        else:
            # keep the recorded window length so a restart at the wrong
            # min_tokens raises instead of silently matching nothing
            standing = raw.select("digest", *(["n"] if "n" in raw.columns else []))
        drops = substring_dedup_increment(
            docs, standing, id_col, text_col, min_tokens, mode="droplist"
        )
        state.land(apply_token_droplist(docs, drops, id_col, text_col), out_dir, batch_id)
        new_digests = substring_index(docs, id_col, text_col, min_tokens).join(
            standing, "digest", "left_anti"
        )
        state.land(new_digests, index_dir, batch_id)

    return state.drain(doc_stream, checkpoint_dir, _process)


def stream_substring_decontaminate(
    doc_stream: DataFrame,
    contamination_index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 16,
):
    """Streaming benchmark decontamination at SUBSTRING grain (VERDICT r11
    item #7) — the streaming face of
    :func:`parqueryd_spark.operators.dedup.substring_decontaminate`: each
    micro-batch of training documents is scrubbed against the FROZEN
    contamination index (the benchmark set's published substring_index at
    ``contamination_index_dir``) and every affected document lands rebuilt in
    idempotent ``out_dir/batch=<id>`` partitions. Stateless per batch — the
    benchmark index is frozen-model state exactly like streaming/lm.py's
    scorer (it only moves when the benchmark set is republished), so batch N
    of the stream equals substring_decontaminate on batch N's docs
    (pytest-pinned), with no cross-batch coupling at all. Benchmark text is
    never read here — only its digests."""
    from parqueryd_spark.operators.dedup import substring_decontaminate

    def _partial(batch_df: DataFrame) -> DataFrame:
        taint = batch_df.sparkSession.read.parquet(contamination_index_dir)
        return substring_decontaminate(
            batch_df.select(id_col, text_col), taint, id_col, text_col, min_tokens
        )

    return state.maintain(doc_stream, out_dir, checkpoint_dir, _partial)
