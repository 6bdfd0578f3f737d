"""Streaming data-quality monitoring: every micro-batch is scored against a
declarative check list (operators/quality.py) and the per-batch report is
appended to a parquet metrics dataset — the observability loop that catches a
broken upstream feed (sudden nulls, duplicate keys, out-of-range values)
before it lands in the serving tables.

Per-batch results land under the :mod:`parqueryd_spark.streaming.state`
replay contract, so an at-least-once foreachBatch replay rewrites its own
partition instead of double-reporting. The metrics dataset is tiny — one row
per check per trigger — and reads as a time series of feed health.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parqueryd_spark.operators.quality import quality_report
from parqueryd_spark.streaming import state


def stream_quality_monitor(
    stream_df: DataFrame,
    metrics_dir: str,
    checkpoint_dir: str,
    checks_fn: Callable[[DataFrame], list[DataFrame]],
    fail_fast: bool = False,
):
    """Start an availableNow foreachBatch query writing each micro-batch's
    quality report to ``metrics_dir``. ``checks_fn`` maps the batch to its check list (the
    ``quality_report`` inputs — uniqueness, nulls, ranges, foreign keys
    against reference tables, ...). With ``fail_fast`` the stream STOPS on
    the first failing batch (the report is still written first, so the
    failure is diagnosable) — the circuit-breaker mode for feeds where bad
    data must not advance the checkpoint. Returns the started query."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        rep = quality_report(checks_fn(batch_df)).withColumn(
            "n_batch_rows", F.lit(batch_df.count())
        )
        state.land(rep, metrics_dir, batch_id)
        if fail_fast:
            failed = [r.check for r in rep.collect() if not r.passed]
            if failed:
                raise RuntimeError(
                    f"quality gate failed on batch {batch_id}: {failed}"
                )

    return state.drain(stream_df, checkpoint_dir, _process)


def read_quality_metrics(spark, metrics_dir: str) -> DataFrame:
    """The accumulated per-batch check history: (check, violations, passed,
    n_batch_rows, batch)."""
    return spark.read.parquet(metrics_dir)


def stream_flag_outliers(
    event_stream: DataFrame,
    baselines: DataFrame,
    flagged_dir: str,
    checkpoint_dir: str,
    keys: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    threshold: float = 3.5,
):
    """Streaming anomaly flagging against FROZEN robust baselines
    (operators/analytics.py:mad_baselines computed on a trusted reference
    window): each micro-batch is scored with the stateless
    flag_with_baselines join — the frozen-model pattern of streaming/lm.py
    and streaming/embed.py, and the property that matters for monitoring:
    a burst of anomalies cannot drag the yardstick it is judged against.
    Flagged batches land under ``flagged_dir``; batch-equivalence to the
    batch operator is row-for-row."""
    from parqueryd_spark.operators.analytics import flag_with_baselines

    return state.maintain(
        event_stream,
        flagged_dir,
        checkpoint_dir,
        lambda df: flag_with_baselines(df, baselines, list(keys), value_col, threshold),
    )


def stream_calibrate_scores(
    new_stream: DataFrame,
    ref_cdf: DataFrame,
    scores_dir: str,
    checkpoint_dir: str,
    group_col: str,
    score_col: str,
    id_col: str,
):
    """Serve the FROZEN quality gate over a stream: each micro-batch is
    scored against a published per-group CDF (operators/quality.py:
    calibration_cdf) by the same step lookup the batch operator uses —
    batch-equivalent row-for-row — landing (id, group, score, calib) under
    ``scores_dir``. This is the production shape of
    pipeline_calibration_serve: thresholds stay fixed at the published
    reference distribution no matter how skewed an arriving batch is; the
    gate only moves when maintenance republishes the CDF (the frozen-model
    contract shared with stream_score_documents / stream_flag_outliers)."""
    from parqueryd_spark.operators.quality import calibration_score

    return state.maintain(
        new_stream,
        scores_dir,
        checkpoint_dir,
        lambda df: calibration_score(ref_cdf, df, group_col, score_col, id_col),
    )
