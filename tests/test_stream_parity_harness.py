"""The shared harnesses under `operators/stream_parity.py`: the audit scope,
the ordered-arrival fixture with its fail-loudly await, and the
single-snapshot replay that must end by itself for ProcessingTimeTimeout
queries. Tiny inputs; the parity rows themselves are pinned by
test_oracle_parity."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from ai_powered_data_pipeline_assistant_spark.operators import stream_parity as sp

SHUFFLE = "spark.sql.shuffle.partitions"


def test_audit_scope_cleans_up_and_restores_conf_even_on_error(spark):
    prev = spark.conf.get(SHUFFLE)
    spark.conf.set(SHUFFLE, "7")
    dropped = []
    try:
        with sp._audit_scope(spark, lambda _s, d: dropped.append(d)) as tmp:
            assert os.path.isdir(tmp)
            assert spark.conf.get(SHUFFLE) == "4"
        assert not os.path.exists(tmp)
        assert dropped == [f"{tmp}/state"]
        assert spark.conf.get(SHUFFLE) == "7"

        with pytest.raises(RuntimeError, match="audit failed"):
            with sp._audit_scope(spark, lambda _s, d: dropped.append(d)) as tmp2:
                raise RuntimeError("audit failed")
        assert not os.path.exists(tmp2)
        assert dropped[-1] == f"{tmp2}/state"
        assert spark.conf.get(SHUFFLE) == "7"

        # a stateless audit drops nothing and still removes its dir
        with sp._audit_scope(spark) as tmp3:
            pass
        assert not os.path.exists(tmp3) and len(dropped) == 2
    finally:
        spark.conf.set(SHUFFLE, prev)


def test_ordered_arrivals_replay_one_micro_batch_per_frame_in_order(spark):
    sizes = [3, 1, 2]  # not monotone, so order is visible in the row counts
    with sp._audit_scope(spark) as tmp:
        stream = sp._ordered_arrivals(
            spark, tmp, [spark.range(10 * i, 10 * i + n) for i, n in enumerate(sizes)]
        )
        q = (
            stream.writeStream.format("noop")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        sp._await(q, "arrival replay")
        assert [p["numInputRows"] for p in q.recentProgress] == sizes


def test_await_stops_and_raises_on_an_unfinished_stream(monkeypatch):
    class Stuck:
        stopped = False

        def awaitTermination(self, timeout):  # noqa: N802 (pyspark API name)
            return False

        def stop(self):
            self.stopped = True

    q = Stuck()
    monkeypatch.setattr(sp, "_STREAM_TIMEOUT_S", 0)
    with pytest.raises(TimeoutError, match="stuck stream did not finish"):
        sp._await(q, "stuck stream")
    assert q.stopped


def test_processing_time_timeout_query_ends_by_itself(spark, monkeypatch):
    """`cdc_latest_state` (ProcessingTimeTimeout) through `_run_to_memory`
    with no-data batches off finishes on its own; with them on it would
    keep running state-cleanup batches until the await gives up."""
    from ai_powered_data_pipeline_assistant_spark.streaming.stateful import (
        cdc_latest_state,
    )

    t0 = dt.datetime(2024, 1, 1)
    events = spark.createDataFrame(
        [
            (1, 10, "view", 1.5, t0),
            (1, 11, "click", 2.5, t0 + dt.timedelta(seconds=5)),
            (2, 12, "view", 4.0, t0),
        ],
        "user_id long, event_id long, event_type string, value double, ts timestamp",
    )
    # far below the 120 s the removed poll loop waited: a query that does
    # not end by itself fails here with TimeoutError
    monkeypatch.setattr(sp, "_STREAM_TIMEOUT_S", 60)
    no_data = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = spark.conf.get(no_data)
    state = sp._run_to_memory(
        spark, events, cdc_latest_state, "update", no_data_batches=False
    )
    got = {r.user_id: (r.last_op, r.last_value) for r in state.collect()}
    assert got == {1: ("click", 2.5), 2: ("view", 4.0)}
    assert spark.conf.get(no_data) == prev


def test_run_to_memory_drops_its_sink_view(spark):
    """The memory sink's temp view holds the result rows in driver memory;
    `_run_to_memory` returns a materialized snapshot and drops the view,
    so no `parity_*` view outlives the call."""
    got = sp._run_to_memory(spark, spark.range(5), lambda s: s, "append")
    assert sorted(r.id for r in got.collect()) == [0, 1, 2, 3, 4]
    views = [t.name for t in spark.catalog.listTables()]
    assert not [v for v in views if v.startswith("parity_")], views
