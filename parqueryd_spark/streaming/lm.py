"""Streaming faces of the bigram-LM family (operators/lm.py).

Two directions, mirroring the sketch family's batch/stream symmetry:

- **maintain**: bigram counts are LINEAR (merge = sum matching gram rows),
  so continuous training follows :mod:`parqueryd_spark.streaming.state` —
  each micro-batch lands its own partial count table, and the served LM is
  merge-on-read: ``read_lm`` ≡ ``lm_train`` over the concatenated corpus,
  bit-exact, by linearity. State per batch is O(distinct grams in the
  batch).
- **score**: scoring a document stream against a FROZEN LM is stateless
  per-batch relational work (two equi-joins + an aggregation), so the
  streaming scorer is foreachBatch over the identical batch plan — the same
  frozen-model pattern as streaming/embed.py (frozen grid/centroids): the
  model only moves when a maintenance trigger republishes it.

Model parameters travel WITH the state: ``stream_maintain_lm`` and
``operators/lm.lm_publish`` claim (k, n) as the store's ``_meta`` through
:func:`claim_lm_meta`, and ``read_lm`` (≡ ``operators/lm.lm_load``) reads it
back — maintaining or publishing with n=3 then loading can never silently
split grams at the wrong position. A published LM and a stream-maintained
one are the same store, so :func:`compact_lm_state` serves both.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parqueryd_spark.operators.lm import NgramLM, lm_merge, lm_score, ngram_counts
from parqueryd_spark.streaming import state

_META_SCHEMA = "k double, n int"


def _check_order(parts: DataFrame, n: int) -> None:
    """Full-scan gram-width validation: EVERY stored gram's token count must
    equal ``n`` (min == max == n in one aggregation, not a sampled row) —
    raises on a store at a different or mixed order."""
    toks = F.size(F.split("gram", " "))
    probe = parts.agg(F.min(toks).alias("lo"), F.max(toks).alias("hi")).collect()[0]
    if probe["lo"] is not None and not (probe["lo"] == probe["hi"] == n):
        raise ValueError(
            f"stored grams have {probe['lo']}..{probe['hi']} tokens but the "
            f"requested order is n={n} — the model was maintained at a "
            "different (or mixed) order"
        )


def _validate_order(spark, lm_dir: str, n: int) -> None:
    """:func:`_check_order` over the whole store; a missing or batch-less
    store has nothing to validate."""
    try:
        parts = state.read_parts(spark, lm_dir)
    except AnalysisException as e:
        cls = getattr(e, "getErrorClass", lambda: "")() or ""
        if (
            "PATH_NOT_FOUND" in cls
            or "UNABLE_TO_INFER_SCHEMA" in cls
            or "Path does not exist" in str(e)
        ):
            return  # nothing stored yet
        raise
    _check_order(parts, n)


def claim_lm_meta(spark, lm_dir: str, k: float, n: int) -> None:
    """Bind the store at ``lm_dir`` to (k, n) for its lifetime
    (:func:`state.claim_meta`). A store with different recorded parameters
    raises — older batch partitions would stay at the old order while the
    meta claims the new one; adopting a pre-meta store first checks its
    existing grams ARE at order ``n``."""
    state.claim_meta(
        spark,
        lm_dir,
        (float(k), int(n)),
        _META_SCHEMA,
        "cannot change model parameters (older batch partitions would "
        "keep the old order); use a fresh lm_dir to retrain",
        adopt=lambda: _validate_order(spark, lm_dir, int(n)),
    )


def stream_maintain_lm(
    doc_stream: DataFrame,
    lm_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    n: int = 2,
    k: float = 0.5,
):
    """Continuously-trained LM state: per micro-batch, one partial
    (gram, c) count table. Raw text is never re-read at serve time — the
    partials ARE the model. The (k, n) meta rides along in ``<lm_dir>/_meta``
    so ``read_lm`` serves the model at the order it was maintained with.
    Restarting maintenance over an EXISTING store validates against its
    recorded (k, n) instead of overwriting — different parameters would
    leave older batch partitions at the old order while the meta claims the
    new one, exactly the silent mixed-order store the meta exists to
    prevent.

    Write-time order enforcement (r15): adopting a PRE-meta store (batches
    present, no ``_meta``) runs the full gram-width validation ONCE, before
    this stream's (k, n) meta is written — so a present ``_meta`` always
    certifies that every batch beneath it was either validated against or
    written at the recorded order, and ``read_lm`` can serve meta-bearing
    stores without re-scanning the count table (guide §2.4: the validation
    moves from every serve to the one maintenance restart that needs it)."""

    meta_checked = False

    def _partial(batch_df: DataFrame) -> DataFrame:
        nonlocal meta_checked
        if not meta_checked:
            # (k, n) are constant for the STORE's lifetime, not just this
            # stream's
            claim_lm_meta(batch_df.sparkSession, lm_dir, k, n)
            meta_checked = True
        return ngram_counts(batch_df, text_col, n)

    return state.maintain(doc_stream, lm_dir, checkpoint_dir, _partial)


def read_lm(
    spark,
    lm_dir: str,
    k: float | None = None,
    n: int | None = None,
    validate: bool | None = None,
) -> NgramLM:
    """The served LM over ALL published batches: merge-on-read of the count
    partials (sum per gram — linear, so this equals one-shot ``lm_train``
    over the full corpus bit-exactly).

    (k, n) default to the persisted ``_meta`` claimed by
    :func:`claim_lm_meta` (only a genuinely missing ``_meta`` — the
    documented pre-meta layout — falls back to the 0.5/2 defaults; corrupt
    meta or IO errors propagate); explicit arguments override.

    Order validation is WRITE-TIME-ENFORCED for meta-bearing stores (r15,
    guide §2.4 — the serve path sheds a full count-table scan per call): a
    present ``_meta`` certifies every batch was written at (or validated
    against) the recorded order by :func:`claim_lm_meta`, so when the
    effective n equals the stored one the serve trusts it and runs ZERO
    jobs beyond the 1-row meta read before scoring. The full gram-width
    scan (min == max == n over EVERY stored gram, never a sampled row)
    still runs whenever that certificate doesn't apply: a pre-meta store,
    or an explicit ``n`` overriding the recorded order. ``validate=True``
    forces the scan regardless (e.g. serving a store whose files were
    manipulated outside the maintenance contract); ``validate=False``
    skips it even for pre-meta stores (caller-asserted order)."""
    stored = state.read_meta(spark, lm_dir)
    k = k if k is not None else (stored[0] if stored is not None else 0.5)
    n = n if n is not None else (stored[1] if stored is not None else 2)
    parts = state.read_parts(spark, lm_dir)
    if validate is None:
        validate = stored is None or int(n) != stored[1]
    if validate:
        _check_order(parts, n)
    return lm_merge([parts], k, n)


def compact_lm_state(spark, lm_dir: str) -> int:
    """Compact the LM count store. N-gram counts are LINEAR (merge = sum
    matching gram rows — the exact fold :func:`read_lm` performs on every
    serve), so the compacted (gram, c) table is bit-identical model state:
    scores are unchanged while the store shrinks from batches ×
    distinct-grams-per-batch rows to global distinct grams. The ``_meta``
    (k, n) sidecar travels inside the new generation."""
    stored = state.read_meta(spark, lm_dir)
    sidecars = None
    if stored is not None:
        sidecars = [(spark.createDataFrame([stored], _META_SCHEMA), "_meta")]
    return state.compact(
        spark,
        lm_dir,
        lambda parts: parts.groupBy("gram").agg(F.sum("c").cast("long").alias("c")),
        sidecars=sidecars,
    )


def stream_score_documents(
    doc_stream: DataFrame,
    lm: NgramLM,
    scores_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    smoothing: str = "add_k",
):
    """Score an incoming document stream against a frozen LM, landing
    (id, n_bigrams, avg_nll, ppl) per batch under ``scores_dir`` —
    batch-equivalent to the batch scorer row-for-row.
    ``smoothing`` selects the scorer over the SAME frozen count table:
    ``"add_k"`` (operators/lm.lm_score) or ``"kn"`` (operators/lm.kn_score,
    interpolated Kneser–Ney — any order n >= 2 since r14)."""
    if smoothing not in ("add_k", "kn"):
        raise ValueError(f"smoothing must be 'add_k' or 'kn', got {smoothing!r}")
    if smoothing == "kn":
        from parqueryd_spark.operators.lm import kn_score as score
    else:
        score = lm_score
    return state.maintain(
        doc_stream, scores_dir, checkpoint_dir, lambda df: score(df, id_col, lm, text_col)
    )
