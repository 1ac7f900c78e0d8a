"""The shared streaming-state lifecycle (streaming/state_compaction),
driven through each of the five stateful gates' table specs and
compaction entry points with a few hand-built rows per batch: create and
append, idempotent replay, fresh-session re-registration, the compaction
crash windows, fold-all-but-newest compaction, and re-bucketing.

Every replay below is a PLAIN ``insertInto(overwrite=True)`` with the
session's partitionOverwriteMode at STATIC: dynamic overwrite is a
property of each state table (its storage options), so a table that
lost it would be truncated to the replayed partition. State dirs are
``file:``-qualified, which ``os.*`` cannot resolve — the lifecycle must
go through the Hadoop FileSystem API, as on an object store."""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import pytest

from ai_powered_data_pipeline_assistant_spark import hadoop_fs
from ai_powered_data_pipeline_assistant_spark.streaming import (
    cluster_stream,
    media_pipeline,
    neardup,
    phash_stream,
    substring_stream,
)
from ai_powered_data_pipeline_assistant_spark.streaming import (
    state_compaction as sc,
)

POM = "spark.sql.sources.partitionOverwriteMode"
ROWS = 48  # per batch and table: enough to spread over every bucket

KINDS = {
    "neardup": (neardup, neardup.compact_neardup_state),
    "substring": (substring_stream, substring_stream.compact_substring_state),
    "cluster": (cluster_stream, cluster_stream.compact_cluster_state),
    "phash": (phash_stream, phash_stream.compact_phash_state),
    "media": (media_pipeline, media_pipeline.compact_media_state),
}


def _frame(spark, columns, batch):
    """Distinct rows for one batch: longs unique across batches (so every
    fold hook keeps every row), small ints, per-batch strings."""
    types = [c.split()[1] for c in columns.split(",")]

    def val(t, i):
        if t == "string":
            return f"v{batch}_{i}"
        if t == "int":
            return i % 7
        return batch * 1000 + i

    rows = [tuple(val(t, i) for t in types) + (batch,) for i in range(ROWS)]
    return spark.createDataFrame(rows, f"{columns}, batch_id long")


def _width(spark, table):
    desc = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    return int(next(r["data_type"] for r in desc if r["col_name"] == "Num Buckets"))


def _files(path):
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)


@pytest.mark.parametrize("kind", sorted(KINDS))
def test_state_lifecycle(spark, kind, tmp_path, monkeypatch):
    mod, compact = KINDS[kind]
    specs = mod.STATE_SPECS
    local = f"{tmp_path}/state"
    state_dir = f"file:{local}"
    tables = sc.state_tables(state_dir, specs)

    def snapshot():
        return {
            k: sorted(map(tuple, spark.table(t).drop("batch_id").collect()))
            for k, t in tables.items()
        }

    def partitions(t):
        return {r[0] for r in spark.table(t).select("batch_id").distinct().collect()}

    def replay(batch):
        """A plain overwrite of one batch under a STATIC session must
        replace only that batch's partition."""
        before = snapshot()
        for k, t in tables.items():
            _frame(spark, specs[k][1], batch).write.insertInto(t, overwrite=True)
        assert snapshot() == before

    def refuses_empty_bootstrap(aside):
        live = sc.table_path(state_dir, key0)
        assert hadoop_fs.rename(spark, live, sc.table_path(state_dir, aside))
        sc.drop_state(spark, state_dir, specs)
        with pytest.raises(RuntimeError, match="refusing to silently"):
            sc.create_state(spark, state_dir, specs, kind)
        assert hadoop_fs.rename(spark, sc.table_path(state_dir, aside), live)
        sc.create_state(spark, state_dir, specs, kind)

    key0 = next(iter(specs))
    prev = spark.conf.get(POM)
    spark.conf.set(POM, "static")
    try:
        # 1. create, then append (the tables of one kind concurrently)
        assert sc.create_state(spark, state_dir, specs, kind) == tables
        for b in range(3):
            sc.insert_dynamic(
                spark, [(_frame(spark, specs[k][1], b), t) for k, t in tables.items()]
            )
        rows = snapshot()
        for k, t in tables.items():
            assert len(rows[k]) == 3 * ROWS and partitions(t) == {0, 1, 2}
            assert _width(spark, t) == sc.STATE_BUCKETS

        # 2. a replay is idempotent; two concurrent appends from threads
        # each replace only their own partition
        replay(2)
        with ThreadPoolExecutor(max_workers=2 * len(tables)) as pool:
            futures = [
                pool.submit(
                    _frame(spark, specs[k][1], b).write.insertInto, t, True
                )
                for b in (3, 4)
                for k, t in tables.items()
            ]
            for f in futures:
                f.result(timeout=300)
        rows = snapshot()
        for k, t in tables.items():
            assert len(rows[k]) == 5 * ROWS and partitions(t) == set(range(5))

        # 3. fresh session: catalog entries gone, files re-register at
        # their width and keep dynamic overwrite
        sc.drop_state(spark, state_dir, specs)
        assert not any(spark.catalog.tableExists(t) for t in tables.values())
        sc.create_state(spark, state_dir, specs, kind)
        assert snapshot() == rows
        assert all(_width(spark, t) == sc.STATE_BUCKETS for t in tables.values())
        replay(4)

        # 4. crash windows of the compaction swap: before it, the live
        # dir is intact; between its renames (or over a legacy generation
        # dir) an empty live dir must not bootstrap empty state
        def crash(*_a):
            raise IOError("injected crash before the swap")

        with monkeypatch.context() as m:
            m.setattr(hadoop_fs, "swap_dirs", crash)
            with pytest.raises(IOError, match="injected crash"):
                compact(spark, state_dir)
        sc.create_state(spark, state_dir, specs, kind)
        assert snapshot() == rows
        refuses_empty_bootstrap(f"{key0}.old_deadbeef")
        refuses_empty_bootstrap(f"{key0}_g1_b{sc.STATE_BUCKETS}")
        assert snapshot() == rows

        # 5. compaction keeps every row and never folds the newest batch
        compact(spark, state_dir)
        assert snapshot() == rows
        for k, t in tables.items():
            assert partitions(t) == {sc.HISTORY_BATCH_ID, 4}
            assert _files(f"{local}/{k}") <= 2 * sc.STATE_BUCKETS
            assert sc.state_copies(spark, state_dir, k) == [k]
        replay(4)

        # 6. a re-bucket survives re-registration, and the next append
        # is aligned to the new width (one file per bucket)
        sc.compact_bucketed_state(spark, state_dir, specs, kind, n_buckets=6)
        sc.drop_state(spark, state_dir, specs)
        sc.create_state(spark, state_dir, specs, kind)
        assert snapshot() == rows
        sc.insert_dynamic(
            spark, [(_frame(spark, specs[k][1], 5), t) for k, t in tables.items()]
        )
        for k, t in tables.items():
            assert _width(spark, t) == 6
            assert 1 <= _files(f"{local}/{k}/batch_id=5") <= 6
        replay(5)
    finally:
        spark.conf.set(POM, prev)
        mod.drop_state(spark, state_dir)
