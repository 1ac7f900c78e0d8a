"""Materialization policy for shared intermediates.

Several operators compute a frame once and feed it to multiple consumers
(LSH postings into both self-join sides, edge lists into degree/wedge/stat
branches, per-round frames in iterative loops). Each such site routes
through :func:`materialize` so the *mechanism* is a single session-level
choice instead of 33 hard-coded calls:

``SPARK_GRAFT_MATERIALIZE`` =

* ``local_checkpoint`` (default) — ``DataFrame.localCheckpoint``: blocks
  live on executors, lineage is truncated, and the ContextCleaner releases
  them when the plan object is GC'd (no CacheManager growth, no manual
  unpersist). **Trade-off**: local-checkpoint blocks are NOT recomputable —
  on a multi-node cluster, losing an executor that holds them fails the
  query instead of recomputing, and Spark documents the mode as unsafe
  with dynamic allocation. Correct for single-JVM local[N] bench/test
  runs; choose one of the modes below for real clusters.
* ``checkpoint`` — reliable ``DataFrame.checkpoint`` into
  ``SPARK_GRAFT_CHECKPOINT_DIR`` (default ``/tmp/spark_graft_checkpoints``;
  point it at HDFS/S3 on a cluster). Survives executor loss and dynamic
  allocation; costs one write+read of the intermediate.
* ``persist`` — ``MEMORY_AND_DISK`` persist: keeps lineage, so lost blocks
  recompute from source. Cheapest cluster-safe mode, but cached frames
  stay registered in the CacheManager for the session lifetime (these
  operators are pure functions and cannot unpersist on behalf of callers
  still holding the result), and a handful of sites *require* a lineage
  barrier (Catalyst plan-size/rewrite issues, flagged
  ``require_barrier=True``) — those fall back to reliable checkpoint.
* ``none`` — pass-through (debugging; barrier sites still checkpoint).

Plan tests (tests/test_plans.py) run under the default mode; the census
budgets there assume lineage truncation at the flagged barrier sites.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_MODES = ("local_checkpoint", "checkpoint", "persist", "none")


def _reliable_checkpoint(df: DataFrame, eager: bool) -> DataFrame:
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        sc.setCheckpointDir(
            os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR", "/tmp/spark_graft_checkpoints")
        )
    return df.checkpoint(eager=eager)


def materialize(
    df: DataFrame, *, eager: bool = False, require_barrier: bool = False
) -> DataFrame:
    """Materialize a multiply-consumed intermediate per the session policy.

    ``eager=True`` forces computation now (iterative loops that must cut
    the previous round's DAG before building on it). ``require_barrier``
    marks sites where the *lineage truncation itself* is load-bearing —
    Catalyst rewrite bugs (stream_parity's exceptAll path) or plan-size
    budgets in pointer-doubling / BPE loops — so lineage-keeping modes
    (``persist``/``none``) fall back to a reliable checkpoint there.

    Use in chains via ``.transform(materialize)``.
    """
    mode = os.environ.get("SPARK_GRAFT_MATERIALIZE", "local_checkpoint")
    if mode not in _MODES:
        raise ValueError(
            f"SPARK_GRAFT_MATERIALIZE={mode!r}; expected one of {_MODES}"
        )
    if mode == "checkpoint" or (require_barrier and mode in ("persist", "none")):
        return _reliable_checkpoint(df, eager)
    if mode == "persist":
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        if eager:
            df.count()
        return df
    if mode == "none":
        return df
    return df.localCheckpoint(eager=eager)


def materialize_barrier(df: DataFrame) -> DataFrame:
    """``.transform``-friendly wrapper: lazy materialize with a mandatory
    lineage barrier (see ``require_barrier`` above)."""
    return materialize(df, require_barrier=True)


def run_concurrently(*thunks):
    """Run independent driver actions concurrently from a small thread
    pool (guide §2.6 "overlap independent jobs"): Spark happily schedules
    several jobs at once inside one application, and FIFO scheduling
    back-fills executors idled by an earlier job's straggler tail or
    commit latency with the later jobs' tasks. This is the package's ONE
    way to overlap Spark jobs. Callers must only pass thunks whose jobs
    are mutually independent (disjoint outputs, order-free semantics —
    the per-batch state appends and read-only summary counts qualify;
    anything whose commit ORDER is load-bearing does not).

    Every thunk runs under the caller's Spark local properties — job
    group, job description, SQL execution id — and session tags, copied
    when the call is made (``pyspark.inheritable_thread_target``). So a
    streaming query's ``cancelJobGroup(runId)`` on stop reaches the
    overlapped jobs too, and ``statusTracker().getJobIdsForGroup`` sees
    every job a caller's group fired, through nested calls as well.
    Each call owns a FRESH pool whose threads exit with it: a reused
    pool thread would keep the last thunk's properties and leak its
    group into whatever plain work it ran next.

    Returns results in thunk order. The first failure propagates to the
    caller, but only after every thunk has run to completion (pool
    shutdown waits), so no write job is abandoned mid-flight with its
    committer state ambiguous. When several thunks fail, the
    lowest-index exception propagates and the others are recorded on it
    as ``__notes__`` (visible in the traceback), not silently dropped."""
    if not thunks:
        return []
    if len(thunks) == 1:
        return [thunks[0]()]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target
    from pyspark.sql import SparkSession

    # a nested call runs on a pool thread, which has no active session
    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    # one wrap per thunk: each gets its own copy of the properties, so
    # one thunk's SQL execution id never lands on a sibling's jobs
    targets = [inheritable_thread_target(spark)(t) for t in thunks]
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in targets]
    errs = [(i, f.exception()) for i, f in enumerate(futures) if f.exception()]
    if errs:
        first_i, first_e = errs[0]
        for i, e in errs[1:]:
            first_e.add_note(f"sibling thunk #{i} also failed: {e!r}")
        raise first_e
    return [f.result() for f in futures]
