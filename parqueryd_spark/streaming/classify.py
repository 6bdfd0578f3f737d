"""Streaming face of :mod:`parqueryd_spark.operators.classify` — the NB
curation classifier's serve path: train once (batch, one counting scan),
publish the dense model table atomically (sources/sinks.atomic_publish, the
same frozen-model contract as the published LM / BM25 / ANN indexes), then
classify every incoming micro-batch against the FROZEN model. Scoring is
per-document (no cross-document state), so per-batch outputs are
batch-equivalent to one-shot scoring row-for-row — the
stream_score_documents contract, applied to classification. Stores follow
:mod:`parqueryd_spark.streaming.state`."""

from __future__ import annotations

from pyspark.sql import DataFrame

from parqueryd_spark.streaming import state

_META_SCHEMA = "n_buckets int, salt string"


def _stored_meta(spark, nb_dir: str) -> tuple[int, str]:
    """(n_buckets, salt) the store was created with; raises if it has none."""
    stored = state.read_meta(spark, nb_dir)
    if stored is None:
        raise ValueError(f"NB store at {nb_dir} has no _meta — nothing maintained yet?")
    return stored


def stream_maintain_nb(
    doc_stream: DataFrame,
    nb_dir: str,
    checkpoint_dir: str,
    label_col: str,
    text_col: str = "text",
    n_buckets: int = 1024,
    salt: str = "nb",
):
    """Continuously-trained NB state: per micro-batch, one sparse
    count-partial table (nb_count_partials) — the partials ARE the model's
    sufficient statistics, so :func:`read_nb_model` serves the model of
    EVERYTHING seen by summing kilobytes of counts, bit-identical to a
    one-shot retrain, without ever re-reading raw text. (n_buckets, salt) define the feature hash and are
    constant for the STORE's lifetime: they persist in ``<nb_dir>/_meta`` on
    first creation and a restart with different values raises instead of
    silently mixing hash spaces (the stream_maintain_lm meta contract)."""
    from parqueryd_spark.operators.classify import nb_count_partials

    meta_checked = False

    def _partial(batch_df: DataFrame) -> DataFrame:
        nonlocal meta_checked
        if not meta_checked:
            state.claim_meta(
                batch_df.sparkSession,
                nb_dir,
                (int(n_buckets), str(salt)),
                _META_SCHEMA,
                "cannot change the feature hash (older batch partitions would "
                "keep the old bucketing); use a fresh nb_dir",
            )
            meta_checked = True
        return nb_count_partials(batch_df, label_col, text_col, n_buckets, salt)

    return state.maintain(doc_stream, nb_dir, checkpoint_dir, _partial)


def read_nb_model(spark, nb_dir: str, alpha: float = 1.0) -> DataFrame:
    """The served model over ALL published batches: sum the count partials
    and finalize (nb_model_from_partials) — bit-identical to one-shot
    nb_train over everything the stream has seen. n_buckets comes from the
    store's ``_meta`` (it defines the hash space the counts live in and is
    not a serve-time choice); alpha is a serve-time smoothing knob."""
    from parqueryd_spark.operators.classify import nb_model_from_partials

    n_buckets, _salt = _stored_meta(spark, nb_dir)
    return nb_model_from_partials(state.read_parts(spark, nb_dir), n_buckets, alpha)


def compact_nb_state(spark, nb_dir: str) -> int:
    """Compact the NB count store. Partials are integer counts per
    (label, bucket) — token counts at bucket >= 0, per-class document counts
    at the bucket = -1 marker — and both kinds merge by plain addition (the
    exact fold nb_model_from_partials performs on every serve), so the
    compacted table finalizes to a bit-identical model while state shrinks
    from batches × sparse-rows to the global sparse table
    (<= classes × (n_buckets + 1) rows). The ``_meta`` (n_buckets, salt)
    sidecar travels inside the new generation."""
    from pyspark.sql import functions as F

    meta_df = spark.createDataFrame([_stored_meta(spark, nb_dir)], _META_SCHEMA)
    return state.compact(
        spark,
        nb_dir,
        lambda parts: parts.groupBy("label", "bucket").agg(F.sum("c").cast("long").alias("c")),
        sidecars=[(meta_df, "_meta")],
    )


def stream_classify_documents(
    doc_stream: DataFrame,
    model: DataFrame,
    scores_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    salt: str = "nb",
):
    """Classify an incoming document stream against a frozen NB model
    (the dense (label, bucket, logp, logprior) table from
    operators/classify.nb_train, typically read back from an
    atomic_publish'd path), landing (id, label, score) per batch under
    ``scores_dir``. ``n_buckets``/``salt`` must match the values the model
    was trained with — they define the feature hash."""
    from parqueryd_spark.operators.classify import nb_score

    return state.maintain(
        doc_stream,
        scores_dir,
        checkpoint_dir,
        lambda df: nb_score(df, model, id_col, text_col, n_buckets, salt),
    )
