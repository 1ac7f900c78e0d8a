"""`execution.materialize` picks its mechanism from the master alone — a
local checkpoint on `local`/`local[...]`, a reliable checkpoint into
SPARK_GRAFT_CHECKPOINT_DIR on any other master — and on both branches
the returned frame's lineage is truncated (the exceptAll Catalyst
workaround and the iterative plan-size budgets depend on it). The
cluster branch is exercised by patching `sc.master`: the JVM stays
local, which a reliable checkpoint does not mind."""

from __future__ import annotations

import os
from urllib.parse import urlparse

import pytest

from ai_powered_data_pipeline_assistant_spark.execution import materialize

LOCAL = ("local", "local[4]", "local[*]", "local[4,2]")
CLUSTER = ("local-cluster[2,1,1024]", "spark://h:7077", "yarn")


@pytest.fixture()
def on_master(spark, monkeypatch, tmp_path_factory):
    """Make the SparkContext report ``master``. A reliable checkpoint needs
    a checkpoint dir; when the session has none yet, materialize sets it
    from SPARK_GRAFT_CHECKPOINT_DIR, pointed here at a pytest temp dir."""
    if spark.sparkContext.getCheckpointDir() is None:
        monkeypatch.setenv(
            "SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path_factory.mktemp("ckpt"))
        )

    def _set(master: str) -> None:
        monkeypatch.setattr(spark.sparkContext, "master", master)

    return _set


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _checkpoint_entries(sc) -> set[str]:
    path = urlparse(sc.getCheckpointDir()).path
    return set(os.listdir(path)) if os.path.isdir(path) else set()


@pytest.mark.parametrize("master", LOCAL + CLUSTER)
def test_branch_follows_the_master(spark, on_master, monkeypatch, master):
    df = spark.range(10)
    cls = type(df)
    calls = []
    for method in ("localCheckpoint", "checkpoint"):
        real = getattr(cls, method)

        def spy(self, eager=True, _real=real, _name=method):
            calls.append(_name)
            return _real(self, eager=eager)

        monkeypatch.setattr(cls, method, spy)
    on_master(master)
    sc = spark.sparkContext
    out = materialize(df, eager=True)
    assert out.count() == 10
    if master in LOCAL:
        assert calls == ["localCheckpoint"]
    else:
        assert calls == ["checkpoint"]
        before = _checkpoint_entries(sc)
        materialize(spark.range(5), eager=True)
        # the eager reliable checkpoint wrote a new rdd-* dir under the
        # session's checkpoint dir
        assert _checkpoint_entries(sc) - before


@pytest.mark.parametrize("master", ("local[4]", "spark://h:7077"))
def test_materialize_truncates_lineage(spark, on_master, master):
    """The contract every barrier site relies on: whatever the branch or
    eagerness, the returned plan scans the materialized RDD, not the
    aggregate over the range source."""
    on_master(master)
    base = spark.range(100).selectExpr("id", "id % 7 AS k")
    for eager in (False, True):
        out = materialize(base.groupBy("k").count(), eager=eager)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" in plan and "Aggregate" not in plan, plan
        assert sorted(r["count"] for r in out.collect()) == [14] * 5 + [15] * 2


@pytest.mark.parametrize("master", ["spark://h:7077"], ids=["checkpoint"])
def test_modes_output_identical_on_barrier_pipeline(spark, sf_dir, on_master, master):
    """The reliable-checkpoint branch yields the local branch's rows on
    neardup_clusters, which exercises the full barrier stack: LSH postings
    materialize, pointer-doubling loop barriers, component labels."""
    from ai_powered_data_pipeline_assistant_spark.operators.neardup_cluster import (
        neardup_clusters,
    )

    want = _rows(neardup_clusters(spark, sf_dir))
    on_master(master)
    assert _rows(neardup_clusters(spark, sf_dir)) == want
