"""Default-tier pin for the shared streaming state lifecycle
(parqueryd_spark/streaming/state.py): an idempotent replayed batch, a
compaction that fails mid-swap and leaves the store serving, and a
compaction that preserves served answers."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from parqueryd_spark.operators.sketches import (
    count_min_merge,
    count_min_query,
    count_min_sketch,
    kmv_sketch,
)
from parqueryd_spark.sources import sinks
from parqueryd_spark.sources.parquet import load_table
from parqueryd_spark.streaming import state
from parqueryd_spark.streaming.rollup import (
    compact_countmin_state,
    compact_kmv_state,
    read_countmin_estimates,
    read_kmv_distinct,
)
from tests.conftest import SF_SMOKE

K = 64


def _batch_dirs(path: str) -> list[str]:
    return sorted(d for d in os.listdir(path) if d.startswith("batch="))


def test_land_replay_compact_and_failed_compact(spark, tmp_path, monkeypatch):
    ev = load_table(spark, SF_SMOKE, "events")
    kmv_dir, cm_dir = str(tmp_path / "kmv"), str(tmp_path / "cm")
    for batch_id in (0, 1, 0):  # the third landing replays batch 0
        part = ev.where(F.col("event_id") % 2 == batch_id)
        state.land(kmv_sketch(part, ["event_type"], "user_id", K), kmv_dir, batch_id)
        state.land(count_min_sketch(part, "user_id"), cm_dir, batch_id)
    keys = spark.createDataFrame([(u,) for u in range(0, 300, 7)], "user_id long")

    def served():
        return (
            sorted(map(tuple, read_kmv_distinct(spark, kmv_dir, k=K).collect())),
            sorted(map(tuple, read_countmin_estimates(spark, cm_dir, keys).collect())),
        )

    before = served()
    # the replay overwrote batch 0: Count-Min is linear, so a double-landed
    # batch would show against a one-shot sketch of all events
    one_shot = count_min_query(count_min_merge([count_min_sketch(ev, "user_id")]), keys, "user_id")
    assert before[1] == sorted(map(tuple, one_shot.collect()))
    assert _batch_dirs(kmv_dir) == _batch_dirs(cm_dir) == ["batch=0", "batch=1"]

    # fail the swap's second rename (incoming -> target): the publish must
    # roll back, leaving the original batch directories serving
    real_rename = sinks.HadoopFS.rename_or_raise
    calls = {"n": 0}

    def flaky_rename(self, src, dst):
        calls["n"] += 1
        if calls["n"] == 2:
            raise OSError("injected rename failure")
        return real_rename(self, src, dst)

    monkeypatch.setattr(sinks.HadoopFS, "rename_or_raise", flaky_rename)
    with pytest.raises(OSError):
        compact_kmv_state(spark, kmv_dir, k=K)
    monkeypatch.undo()
    assert _batch_dirs(kmv_dir) == ["batch=0", "batch=1"]
    assert not [d for d in os.listdir(tmp_path) if d.startswith(".")]  # nothing orphaned
    assert served() == before

    assert compact_kmv_state(spark, kmv_dir, k=K) > 0
    assert compact_countmin_state(spark, cm_dir) > 0
    assert _batch_dirs(kmv_dir) == _batch_dirs(cm_dir) == ["batch=-1"]
    assert served() == before
