"""Full-snapshot view store: the current+previous retention window."""

from __future__ import annotations

import datetime as dt

from nexus_event_stream_spark.schemas import STATE_SCHEMA
from nexus_event_stream_spark.streaming.projection import ParquetViewStore

UTC = dt.timezone.utc


def vrow(id_, priority):
    ts = dt.datetime(2026, 2, 23, 18, 0, tzinfo=UTC)
    return ("created", id_, f"t-{id_}", "c", priority, "otavio", ts, ts)


def test_snapshot_retention_window(spark, tmp_path):
    """In-flight readers of the previous snapshot survive one write; older
    snapshots are vacuumed (documented current+previous retention)."""
    store = ParquetViewStore(str(tmp_path / "view"))
    store.write(spark.createDataFrame([vrow("a", "Low")], STATE_SCHEMA), epoch=0)
    v0_reader = store.read(spark)  # lazy plan pinned to v=0 files

    store.write(spark.createDataFrame([vrow("b", "Low")], STATE_SCHEMA), epoch=1)
    # v=0 still on disk (previous) → old reader still collectable
    assert [r["id"] for r in v0_reader.collect()] == ["a"]

    store.write(spark.createDataFrame([vrow("c", "Low")], STATE_SCHEMA), epoch=2)
    # v=0 vacuumed now; current pointer serves v=2
    import os

    assert not os.path.exists(f"{store.path}/v=0")
    assert [r["id"] for r in store.read(spark).collect()] == ["c"]
