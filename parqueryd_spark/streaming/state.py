"""The one lifecycle every ``batch=<id>`` store in :mod:`parqueryd_spark.streaming`
follows. Families supply only their algebra — the per-batch partial and the
merge — and this module owns the rest.

- **Replay.** :func:`drain` starts an availableNow ``foreachBatch`` query;
  :func:`land` writes each micro-batch's output as an OVERWRITE of
  ``<state_dir>/batch=<id>``. foreachBatch is at-least-once, and a replayed
  batch id rewrites its own partition instead of adding rows, so totals never
  double-count (effectively exactly-once). A process that reads the store it
  writes reads :func:`standing`, which excludes its own possibly half-written
  partition.
- **Compaction.** :func:`compact` folds every partition into one ``batch=-1``
  generation published through
  :func:`parqueryd_spark.sources.sinks.atomic_publish`: readers see the old
  generation or the new one, never a mix, and a failed compaction leaves the
  original partitions serving. The stored form stays a MERGEABLE partial (the
  family's merge, never its finalize) and keeps the hive ``batch`` layout, so
  later micro-batches land beside ``batch=-1`` and merge in as before.
  Answers are unchanged exactly when the family's merge is associative and
  merge-on-read applies the same merge — each family's docstring states the
  algebra that makes this hold.
- **Sidecars.** Store parameters live in an underscore-prefixed ``_meta``
  dataset (hidden from the parquet listing readers merge over). Compaction
  publishes it INSIDE the new generation, so no reader ever sees state
  detached from its parameters.
- **Scheduling.** Run compaction only between availableNow drains. It is not
  a concurrent writer, and a checkpointed stream never replays a batch that
  predates the compaction (a replay of one would re-add its rows).

``foreachBatch`` functions run on the driver, so module-level helpers are
safe here; only executor-side UDFs must be self-contained closures.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def drain(stream: DataFrame, checkpoint_dir: str, process: Callable[[DataFrame, int], None]):
    """Start an availableNow foreachBatch query calling ``process(batch_df,
    batch_id)`` per micro-batch. Returns the started StreamingQuery (callers
    ``awaitTermination()``)."""
    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def maintain(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    partial: Callable[[DataFrame], DataFrame],
):
    """:func:`drain` landing ``partial(batch_df)`` as each batch's partition."""
    return drain(stream, checkpoint_dir, lambda df, batch_id: land(partial(df), state_dir, batch_id))


def land(
    df: DataFrame, state_dir: str, batch_id: int, partition_by: list[str] | None = None
) -> None:
    """Idempotent per-batch write: OVERWRITE ``<state_dir>/batch=<batch_id>``
    (``partition_by`` nests hive keys below it)."""
    from parqueryd_spark.sources.sinks import write_parquet

    write_parquet(df, os.path.join(state_dir, f"batch={batch_id}"), partition_by=partition_by)


def standing(spark, state_dir: str, batch_id: int) -> DataFrame | None:
    """Every landed partition except ``batch_id``'s own, or None when the
    store has no batch yet. The probe goes through Hadoop FileSystem, so it
    finds the store on any scheme Spark reads (an ``os.path`` probe on
    ``s3a://`` is always False and would silently treat the corpus as empty).
    The own-partition filter matters on crash-recovery replay: a half-written
    ``batch=<id>`` may already exist, and reading it while :func:`land`
    overwrites it would delete files before the scan reads them."""
    from parqueryd_spark.sources.fs import HadoopFS

    fs = HadoopFS(spark, state_dir)
    if not (fs.is_dir(state_dir) and any(d.startswith("batch=") for d in fs.listdir(state_dir))):
        return None
    return spark.read.parquet(state_dir).where(F.col("batch") != F.lit(batch_id))


def read_parts(spark, state_dir: str) -> DataFrame:
    """Every landed partition, ``batch`` dropped: the merge-on-read input."""
    return spark.read.parquet(state_dir).drop("batch")


def compact(
    spark,
    state_dir: str,
    merge: Callable[[DataFrame], DataFrame],
    sidecars: list[tuple[DataFrame, str]] | None = None,
    partition_by: list[str] | None = None,
) -> int:
    """Fold every partition into one ``batch=-1`` generation: ``merge`` over
    :func:`read_parts`, published with ``sidecars`` through ``atomic_publish``
    (``partition_by`` nests hive keys below ``batch``). Returns the row count
    of the compacted store."""
    from parqueryd_spark.sources.sinks import atomic_publish

    merged = merge(read_parts(spark, state_dir)).withColumn("batch", F.lit(-1))
    atomic_publish(
        merged, state_dir, partition_by=["batch", *(partition_by or [])], sidecars=sidecars
    )
    return spark.read.parquet(state_dir).count()


def read_meta(spark, state_dir: str) -> tuple | None:
    """The store's ``_meta`` row as a tuple, or None when the path is missing
    (nothing maintained yet, or a store from before meta existed). Only the
    missing-path AnalysisException maps to None: corrupt meta, permission
    failures and every other error propagate, because silently defaulting
    can serve state under the wrong parameters."""
    try:
        meta = spark.read.parquet(os.path.join(state_dir, "_meta")).collect()[0]
    except AnalysisException as e:
        cls = getattr(e, "getErrorClass", lambda: "")() or ""
        if "PATH_NOT_FOUND" in cls or "Path does not exist" in str(e):
            return None
        raise
    return tuple(meta)


def claim_meta(
    spark,
    state_dir: str,
    meta: tuple,
    schema: str,
    refusal: str,
    adopt: Callable[[], None] | None = None,
) -> None:
    """Bind the store to ``meta`` for its lifetime. A store that already has
    different meta raises (older partitions would stay at the old
    parameters) with ``refusal`` as the reason; a store without meta runs
    ``adopt`` (validating whatever it already holds) and then records it."""
    stored = read_meta(spark, state_dir)
    if stored is None:
        if adopt is not None:
            adopt()
        spark.createDataFrame([meta], schema).write.mode("overwrite").parquet(
            os.path.join(state_dir, "_meta")
        )
    elif stored != meta:
        raise ValueError(
            f"store at {state_dir} was maintained with {schema} = {stored} but "
            f"this stream requests {meta} — restarting maintenance {refusal}"
        )
