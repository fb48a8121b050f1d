"""Property-based tests (hypothesis) for the LWW fold — the reference's
central invariants, checked over generated event histories:

- order-insensitivity: any permutation of the history folds to the same
  view (the property that replaces the reference's single-partition
  ordering dependency);
- incremental merge ≡ full re-fold for any split point;
- idempotency under duplication.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from nexus_event_stream_spark.operators.lww import (
    latest_live_state,
    latest_state,
    live_view,
    lww_merge_batch,
)
from nexus_event_stream_spark.schemas import EVENT_SCHEMA

import pytest


@pytest.fixture(scope="module")
def spark_mod(spark):
    return spark


events_strategy = st.lists(
    st.tuples(
        st.sampled_from(["created", "updated", "deleted"]),
        st.sampled_from(["k1", "k2", "k3"]),  # few keys → collisions likely
        st.integers(min_value=0, max_value=50),  # ts seconds
        st.integers(min_value=0, max_value=10**6),  # unique seq
        st.booleans(),  # bare 2-key delete (null ts/fields) when deleted
        st.booleans(),  # null tiebreak (tolerant reader nulled the title)
    ),
    min_size=1,
    max_size=12,
    # to_rows' total tiebreak needs seq unique across the history
    unique_by=lambda event: event[3],
)


def to_rows(events):
    # title encodes the unique seq → a total tiebreak inside equal ts.
    # A "bare" delete is the reference's 2-key envelope: only action+id,
    # everything else null — it must act as a terminal tombstone.
    # A null-title row exercises the null-tiebreak ordering (NULL wins the
    # desc_nulls_first fold); at most one per (key, ts) so the total-order
    # requirement of the fold still holds.
    rows = []
    null_seen = set()
    for action, key, ts, seq, bare, null_title in events:
        if action == "deleted" and bare:
            rows.append((action, key, None, None, None, None, None, None))
            continue
        title = f"t{seq:07d}"
        if null_title and (key, ts) not in null_seen:
            null_seen.add((key, ts))
            title = None
        rows.append(
            (
                action,
                key,
                title,
                "c",
                "High",
                "a",
                dt.datetime(2026, 1, 1),
                dt.datetime(2026, 1, 1, 0, 0, ts),
            )
        )
    return rows


def fold(spark, rows):
    df = spark.createDataFrame(rows, EVENT_SCHEMA)
    out = latest_live_state(
        df, key=["id"], ts_col="updated_at", tiebreak=["title"]
    )
    return {(r["id"], r["title"]) for r in out.collect()}


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=events_strategy, seed=st.randoms())
def test_fold_is_order_insensitive(spark_mod, events, seed):
    rows = to_rows(events)
    shuffled = rows[:]
    seed.shuffle(shuffled)
    assert fold(spark_mod, rows) == fold(spark_mod, shuffled)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=events_strategy, split=st.integers(min_value=0, max_value=12))
def test_incremental_merge_equals_full_fold(spark_mod, events, split):
    rows = to_rows(events)
    split = min(split, len(rows))
    history, batch = rows[:split], rows[split:]
    if not batch:
        return
    hist_df = spark_mod.createDataFrame(history or [], EVENT_SCHEMA)
    state = latest_state(
        hist_df, key=["id"], ts_col="updated_at", tiebreak=["title"]
    )
    merged = lww_merge_batch(
        state,
        spark_mod.createDataFrame(batch, EVENT_SCHEMA),
        key=["id"],
        ts_col="updated_at",
        tiebreak=["title"],
    )
    got = {(r["id"], r["title"]) for r in live_view(merged).collect()}
    assert got == fold(spark_mod, rows)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=events_strategy)
def test_fold_idempotent_under_duplication(spark_mod, events):
    rows = to_rows(events)
    assert fold(spark_mod, rows) == fold(spark_mod, rows + rows)
