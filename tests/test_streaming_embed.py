"""Streaming vector ingest (streaming/embed.py): micro-batches are embedded
and appended to a published IVF-SQ index; the serve path sees them one
trigger later; replays can't double-insert; quantizers freeze at first
publish."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from parqueryd_spark.streaming.embed import stream_embed_into_ivfsq


def _write_docs(stream_in: str, name: str, rows):
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        os.path.join(stream_in, name)
    )


@pytest.mark.parametrize("scheme", ["", "file://"], ids=["path", "file_uri"])
def test_stream_embed_builds_then_appends_and_serves(spark, tmp_path, scheme):
    stream_in = str(tmp_path / "in")
    idx = scheme + str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(stream_in)

    base = [
        "alpha beta gamma delta epsilon zeta",
        "one two three four five six seven",
        "red green blue yellow purple orange",
        "north south east west up down",
    ]
    _write_docs(stream_in, "b1.parquet", [(2 * i, t) for i, t in enumerate(base)])
    schema = spark.read.parquet(os.path.join(stream_in, "b1.parquet")).schema
    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stream_in)
    stream_embed_into_ivfsq(src, idx, ckpt, dim=16, n_centroids=2).awaitTermination()

    from parqueryd_spark.operators.squant import ivfsq_load, ivfsq_search
    from parqueryd_spark.operators.text import hash_embed

    codes, cents, lo, step = ivfsq_load(spark, idx)
    assert codes.count() == 4
    gen1 = (lo, step)

    # second trigger: near-duplicate partners arrive and become searchable
    _write_docs(
        stream_in, "b2.parquet", [(2 * i + 1, t + " extra") for i, t in enumerate(base)]
    )
    stream_embed_into_ivfsq(src, idx, ckpt, dim=16, n_centroids=2).awaitTermination()
    codes, cents, lo, step = ivfsq_load(spark, idx)
    assert codes.count() == 8
    assert (lo, step) == gen1, "SQ grid must stay frozen after first publish"

    docs = spark.read.parquet(stream_in)
    emb = hash_embed(docs, "doc_id", "text", dim=16).withColumnRenamed("doc_id", "vec_id")
    got = ivfsq_search(codes, cents, lo, step, emb, corpus=emb, nprobe=2, k=1, refine=2)
    top1 = {r["query_id"]: r["neighbor_id"] for r in got.collect()}
    hits = sum(1 for q, n in top1.items() if n == q ^ 1)
    assert hits >= 6, f"only {hits}/8 ranked their near-duplicate first: {top1}"

    # replay with no new input: counts unchanged (idempotent batch partitions)
    stream_embed_into_ivfsq(src, idx, ckpt, dim=16, n_centroids=2).awaitTermination()
    codes, *_ = ivfsq_load(spark, idx)
    assert codes.count() == 8


def test_stream_ann_serve_matches_batch_search(spark, tmp_path):
    """Streaming query serving against the frozen published IVF-SQ index
    (r12): each micro-batch's results equal the batch ivfsq_search over the
    same queries, and a checkpointed replay changes nothing."""
    import os
    import time

    import pyspark.sql.functions as F

    from parqueryd_spark.operators.squant import ivfsq_load, ivfsq_publish, ivfsq_search
    from parqueryd_spark.streaming.embed import stream_ann_serve

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus_path = "/root/testdata/sf0.001/embeddings.parquet"
    index_dir = str(tmp_path / "idx")
    ivfsq_publish(spark, index_dir, emb, dim=64, centroids="first_k", n_centroids=16)

    q1 = emb.filter(F.col("vec_id") < 4)
    q2 = emb.filter((F.col("vec_id") >= 4) & (F.col("vec_id") < 8))
    stream_in = str(tmp_path / "queries")
    out_dir = str(tmp_path / "results")
    ckpt = str(tmp_path / "ckpt")
    q1.write.parquet(stream_in)
    time.sleep(1.1)
    q2.write.mode("append").parquet(stream_in)

    qs = spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", 1).parquet(stream_in)
    stream_ann_serve(qs, index_dir, corpus_path, out_dir, ckpt, nprobe=4, k=5).awaitTermination()

    streamed = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine_sim"], r["rank"])
        for r in spark.read.parquet(out_dir).collect()
    )
    codes, cents, lo, step = ivfsq_load(spark, index_dir)
    batch = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine_sim"], r["rank"])
        for r in ivfsq_search(
            codes, cents, lo, step, emb.filter(F.col("vec_id") < 8),
            corpus=emb, nprobe=4, k=5,
        ).collect()
    )
    assert streamed == batch and len(streamed) == 8 * 5

    # replay with the same checkpoint: idempotent
    stream_ann_serve(qs, index_dir, corpus_path, out_dir, ckpt, nprobe=4, k=5).awaitTermination()
    again = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine_sim"], r["rank"])
        for r in spark.read.parquet(out_dir).collect()
    )
    assert again == streamed
