"""The one lifecycle every stateful streaming gate's state tables share
(near-dup, exact-substring, cluster, perceptual-hash, media). Each gate
declares its tables as a spec dict — ``{key: (table-name prefix, data
columns DDL, bucket columns)}`` — and keeps only its semantic fold hook;
naming, creation, re-registration, appends, drop and compaction live
here.

**Layout.** One catalog table per key, named
``{prefix}_{md5(state dir)[:12]}`` (`state_tables`), external at
``{state_dir}/{key}``, PARTITIONED BY ``batch_id`` and bucketed + sorted
on the spec's bucket columns. The location never changes: compaction
swaps directories in place.

**Bucket width.** Stored one way: an empty marker file
``_SPARK_GRAFT_BUCKETS_{m}`` inside the table dir (parquet readers skip
underscore files), written at creation and by every compaction into the
staged copy, so the swap moves data and width together. Re-registration
reads it (markerless dirs are at the creation default `STATE_BUCKETS`)
— registering re-bucketed files under the wrong count would silently
break the bucketed joins and the doc_id pruning. Appends read the width
back from the table's catalog bucket spec, never from a constant.

**Appends** (`insert_dynamic`). Every state table carries
``partitionOverwriteMode=dynamic`` in its storage options (set at create
and at re-register), so ``insertInto(overwrite=True)`` replaces exactly
the batch's own ``batch_id`` partition whatever the session conf says:
a batch replayed after a crash between its state commits and its
checkpoint commit repairs its partitions in place, and concurrent appends
from driver threads need no shared session toggle.

**Create / re-register** (`create_state`). Idempotent per table: a
session whose in-memory catalog lost the entry re-registers the surviving
files; a crash between the per-table creations leaves a partial catalog
the next call completes. It refuses to bootstrap EMPTY state while a
crashed compaction left the only intact copy beside the live dir
(`guard_swap_remnants`) — silently forgetting the corpus would re-admit
every historical duplicate.

**Compaction** (`compact_bucketed_state`, offline, stream stopped). Two
decisions every compactor must get right:

1. **Which partitions may be folded** (`newest_batch_id` + `fold_expr`):
   every batch partition EXCEPT the newest. The one batch that can
   legally REPLAY after a restart is the last one (Structured Streaming
   commits batch N-1's checkpoint before starting batch N), and a replay
   dynamic-overwrites its OWN batch_id partition — if its rows had been
   folded into the ``batch_id = -1`` history partition, the re-insert
   would duplicate them there and poison every later batch's reads.
   The newest id is the global max across the gate's tables (and any
   extra batch-partitioned log, such as cluster's redirects): a crash
   between the per-table writes of one batch leaves the partial batch
   present in some tables only, and each must keep it un-folded.

2. **How the compacted copy is written** (`write_staged_bucketed`): a
   bucketed CTAS with ``spark.sql.sources.bucketing.enabled`` OFF for the
   duration. The rewrite must not see the source's bucket partitioning:
   the optimizer would elide the pre-write repartition (the scan claims
   the right hash layout) yet execute one-partition-per-FILE, so the
   compacted table would keep one file per (batch, bucket) — exactly the
   fragmentation being compacted. With bucketed reads off, the explicit
   repartition aligns tasks to buckets → one file each.

The staged copy lands at ``{dir}_staged`` and `hadoop_fs.swap_dirs`
moves it over the live dir. Crash windows: before the swap the live dir
is intact (the next compaction clears the staged leftovers); between the
two renames the live dir is empty and the guard refuses to bootstrap
over the ``.old_`` aside. Legacy ``{key}_g{n}[_b{m}]`` generation dirs
holding parquet count as remnants too, so state compacted by the old
generation-dir layout fails loudly instead of bootstrapping empty.

All file plumbing goes through the Hadoop FileSystem API, so the state
dir may be an object store. The lifecycle is pinned for all five gates
by tests/test_state_lifecycle.py.
"""

from __future__ import annotations

import hashlib
import os
import re
from typing import Callable, Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_powered_data_pipeline_assistant_spark import hadoop_fs
from ai_powered_data_pipeline_assistant_spark.execution import run_concurrently

HISTORY_BATCH_ID = -1
# Creation width of every state table. At 100 TB size buckets so one
# bucket holds ≈ 128 MB–1 GB; a corpus that outgrows it re-buckets in a
# compaction pass (TUNING.md "streaming near-dup state").
STATE_BUCKETS = 4
_WIDTH_MARKER = "_SPARK_GRAFT_BUCKETS_"

# key -> (table-name prefix, data columns DDL without batch_id, bucket columns)
StateSpecs = dict[str, tuple[str, str, list[str]]]


def state_tables(state_dir: str, specs: StateSpecs) -> dict[str, str]:
    """Catalog table names for one stream instance, keyed by the state
    directory (unique per stream; stable across restarts). Scheme-qualified
    dirs (s3a://…, file:/…) are already absolute and must NOT go through
    os.path.abspath — it would prefix the CWD, so a stream restarted from
    another working directory would orphan its state."""
    if ":" in state_dir.split("/", 1)[0]:
        key = state_dir.rstrip("/")
    else:
        key = os.path.abspath(state_dir)
    tag = hashlib.md5(key.encode()).hexdigest()[:12]
    return {k: f"{prefix}_{tag}" for k, (prefix, _c, _b) in specs.items()}


def table_path(state_dir: str, key: str) -> str:
    return f"{state_dir.rstrip('/')}/{key}"


def state_copies(spark: SparkSession, state_dir: str, key: str) -> list[str]:
    """Child dirs of ``state_dir`` holding parquet for table ``key``: the
    live dir, compaction swap asides (``{key}.old_*``), the staged copy
    (``{key}_staged``) and legacy generation dirs (``{key}_g{n}[_b{m}]``)."""
    legacy = re.compile(rf"^{re.escape(key)}_g\d+(_b\d+)?$")
    return [
        d
        for d in hadoop_fs.list_child_dirs(spark, state_dir)
        if (
            d in (key, f"{key}_staged")
            or d.startswith(f"{key}.old_")
            or legacy.match(d)
        )
        and hadoop_fs.has_parquet(spark, table_path(state_dir, d))
    ]


def guard_swap_remnants(
    spark: SparkSession, state_dir: str, key: str, what: str
) -> bool:
    """Refuse to bootstrap empty state over a crashed compaction: when the
    live dir is EMPTY but another copy of the table holds data
    (`state_copies`), raise and name the copies newest-first by file mtime
    (uuid aside names carry no ordering; restoring a stale aside a failed
    best-effort delete left behind would silently truncate the corpus).
    Returns whether the live dir holds data, so callers don't pay a second
    object-store LIST for the same question."""
    live = table_path(state_dir, key)
    if hadoop_fs.has_parquet(spark, live):
        return True
    remnants = [d for d in state_copies(spark, state_dir, key) if d != key]
    if not remnants:
        return False
    ranked = sorted(
        remnants,
        key=lambda d: hadoop_fs.latest_mtime(spark, table_path(state_dir, d)),
        reverse=True,
    )
    raise RuntimeError(
        f"{what} state at {live} is empty but a crashed "
        f"compaction left intact state under {state_dir} "
        f"(newest-first by file mtime: {ranked}). Move the FIRST "
        f"listed copy back to {live} before restarting; refusing "
        "to silently bootstrap empty state."
    )


def _stored_width(spark: SparkSession, path: str) -> int | None:
    for name in hadoop_fs.list_child_files(spark, path):
        if name.startswith(_WIDTH_MARKER):
            return int(name[len(_WIDTH_MARKER):])
    return None


def _bucket_spec(spark: SparkSession, table: str) -> tuple[list[str], int]:
    """(bucket columns, bucket count) from the table's catalog entry — a
    metadata lookup, no Spark job and no file listing."""
    state = spark._jsparkSession.sessionState()
    meta = state.catalog().getTableMetadata(
        state.sqlParser().parseTableIdentifier(table)
    )
    spec = meta.bucketSpec().get()
    cols = spec.bucketColumnNames()
    return [cols.apply(i) for i in range(cols.length())], int(spec.numBuckets())


def create_state(
    spark: SparkSession, state_dir: str, specs: StateSpecs, what: str
) -> dict[str, str]:
    """Create each missing state table — or re-register its surviving
    files, at the width its marker records — with dynamic partition
    overwrite in its storage options. Returns the table names."""
    tables = state_tables(state_dir, specs)
    for key, (_prefix, columns, bucket_cols) in specs.items():
        name = tables[key]
        if spark.catalog.tableExists(name):
            continue
        live_has_data = guard_swap_remnants(spark, state_dir, key, what)
        path = table_path(state_dir, key)
        width = _stored_width(spark, path)
        if width is None:
            width = STATE_BUCKETS
            hadoop_fs.touch(spark, f"{path}/{_WIDTH_MARKER}{width}")
        cols = ", ".join(bucket_cols)
        spark.sql(
            f"CREATE TABLE {name} ({columns}, batch_id long) USING PARQUET "
            "OPTIONS ('partitionOverwriteMode' = 'dynamic') "
            f"PARTITIONED BY (batch_id) CLUSTERED BY ({cols}) "
            f"SORTED BY ({cols}) INTO {width} BUCKETS LOCATION '{path}'"
        )
        if live_has_data:
            spark.sql(f"ALTER TABLE {name} RECOVER PARTITIONS")
    return tables


def drop_state(spark: SparkSession, state_dir: str, specs: StateSpecs) -> None:
    """Drop the catalog entries (the external files live under
    ``state_dir`` and follow its lifecycle)."""
    for name in state_tables(state_dir, specs).values():
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def insert_dynamic(
    spark: SparkSession, inserts: list[tuple[DataFrame, str]]
) -> None:
    """Append each frame (columns in the table's order; insertInto is
    positional) as its batch's partition of the state table, replacing
    that partition on replay. Write tasks are aligned to the table's
    bucket layout — repartitioned on its bucket columns at its catalog
    width, the function bucketing itself uses — so an append lands one
    file per bucket instead of one per (task, bucket). Several inserts
    run concurrently (`execution.run_concurrently`): they touch disjoint
    tables, each is idempotent under replay, and their commit order is
    not load-bearing; a failure propagates before the caller can commit
    its checkpoint."""
    writes = []
    for df, table in inserts:
        cols, width = _bucket_spec(spark, table)
        writes.append((df.repartition(width, *cols).write, table))
    run_concurrently(*(lambda w=w, t=t: w.insertInto(t, True) for w, t in writes))


def newest_batch_id(frames: Iterable[DataFrame]) -> int | None:
    """Global max ``batch_id`` across the frames, in one job — the one
    batch a replay may legally rewrite, which must NEVER be folded into
    the history partition (module docstring, point 1). ``None`` when all
    are empty."""
    frames = [f.select("batch_id") for f in frames]
    union = frames[0]
    for f in frames[1:]:
        union = union.unionByName(f)
    m = union.agg(F.max("batch_id")).first()[0]
    return None if m is None else int(m)


def fold_expr(max_bid: int | None) -> Column:
    """The fold column: a row keeps its batch_id iff it belongs to the
    newest (replayable) batch; every other partition folds into
    ``HISTORY_BATCH_ID``."""
    if max_bid is None:
        return F.lit(HISTORY_BATCH_ID).cast("long")
    return (
        F.when(F.col("batch_id") == max_bid, F.col("batch_id"))
        .otherwise(F.lit(HISTORY_BATCH_ID))
        .cast("long")
    )


def _relabel(df: DataFrame, max_bid: int) -> DataFrame:
    cols = [c for c in df.columns if c != "batch_id"]
    return df.select(*cols, fold_expr(max_bid).alias("batch_id"))


def write_staged_bucketed(
    df: DataFrame,
    bucket_cols: list[str],
    n_buckets: int,
    table_name: str,
    path: str,
) -> None:
    """Write ``df`` as a batch_id-partitioned bucketed table at ``path``
    with one file per (partition, bucket): explicit repartition to the
    bucket columns, bucketed reads disabled for the duration (module
    docstring, point 2)."""
    spark = df.sparkSession
    staged = df.repartition(n_buckets, *[F.col(c) for c in bucket_cols])
    bkey = "spark.sql.sources.bucketing.enabled"
    prev = spark.conf.get(bkey)
    spark.conf.set(bkey, "false")
    try:
        (
            staged.write.mode("overwrite")
            .partitionBy("batch_id")
            .bucketBy(n_buckets, *bucket_cols)
            .sortBy(*bucket_cols)
            .option("path", path)
            .format("parquet")
            .saveAsTable(table_name)
        )
    finally:
        spark.conf.set(bkey, prev)


def compact_bucketed_state(
    spark: SparkSession,
    state_dir: str,
    specs: StateSpecs,
    what: str,
    n_buckets: int | None = None,
    fold: Callable[[DataFrame, int], DataFrame] | None = None,
    also_newest: Iterable[DataFrame] = (),
) -> dict[str, int]:
    """Fold-all-but-newest + in-place swap (module docstring). Per table:
    ``fold(table_df, max_bid)`` (default: relabel every partition but the
    newest to ``batch_id = -1``) is written as one staged bucketed copy at
    ``n_buckets`` (default: the table's current width), with its width
    marker, swapped over the live dir and re-registered. ``also_newest``
    are further batch-partitioned frames whose newest batch must also stay
    un-folded. Returns {table key: parquet files after compaction}."""
    tables = create_state(spark, state_dir, specs, what)
    max_bid = newest_batch_id(
        [spark.table(t) for t in tables.values()] + list(also_newest)
    )
    out: dict[str, int] = {}
    for key, name in tables.items():
        live = table_path(state_dir, key)
        if max_bid is None:
            out[key] = hadoop_fs.count_parquet(spark, live)
            continue
        bucket_cols, width = _bucket_spec(spark, name)
        width = n_buckets or width
        staged = f"{live}_staged"
        hadoop_fs.delete_recursive(spark, staged)  # leftovers of a dead run
        tmp_name = f"{name}_compact"
        spark.sql(f"DROP TABLE IF EXISTS {tmp_name}")
        folded = (fold or _relabel)(spark.table(name), max_bid)
        write_staged_bucketed(folded, bucket_cols, width, tmp_name, staged)
        hadoop_fs.touch(spark, f"{staged}/{_WIDTH_MARKER}{width}")
        spark.sql(f"DROP TABLE {tmp_name}")
        spark.sql(f"DROP TABLE {name}")
        hadoop_fs.swap_dirs(spark, live, staged)
        out[key] = hadoop_fs.count_parquet(spark, live)
    create_state(spark, state_dir, specs, what)
    return out
