"""Priority-partitioned view store: roundtrip + serving-side pruning."""

from __future__ import annotations

import datetime as dt
import json

from pyspark.sql import functions as F

from nexus_event_stream_spark.schemas import STATE_SCHEMA
from nexus_event_stream_spark.serving import SignalService
from nexus_event_stream_spark.streaming.projection import ParquetViewStore

UTC = dt.timezone.utc


def vrow(id_, priority):
    ts = dt.datetime(2026, 2, 23, 18, 0, tzinfo=UTC)
    return ("created", id_, f"t-{id_}", "c", priority, "otavio", ts, ts)


def test_partitioned_store_roundtrip_and_pruning(spark, tmp_path):
    store = ParquetViewStore(str(tmp_path / "view"), partition_by="priority")
    rows = [vrow("s1", "High"), vrow("s2", "Low"), vrow("s3", "High")]
    store.write(spark.createDataFrame(rows, STATE_SCHEMA), epoch=0)

    view = store.read_live(spark)
    assert {r["id"] for r in view.collect()} == {"s1", "s2", "s3"}

    filtered = view.filter(F.col("priority") == "High")
    plan = filtered._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # equality on the partition column prunes directories, the Spark
    # analogue of the reference's priority ZSet index (signal.go:84-96)
    assert "PartitionFilters: [isnotnull(priority" in plan

    svc = SignalService(spark, store)
    assert {r["id"] for r in json.loads(svc.list(priority="High"))} == {"s1", "s3"}
    assert json.loads(svc.list(priority="Bogus")) == []


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
