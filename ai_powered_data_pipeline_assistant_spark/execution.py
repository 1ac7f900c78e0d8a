"""Materialization of shared intermediates.

Several operators compute a frame once and feed it to multiple consumers
(LSH postings into both self-join sides, edge lists into degree/wedge/stat
branches, per-round frames in iterative loops). Each such site routes
through :func:`materialize`, the package's one way to materialize a frame
and truncate its lineage. The mechanism follows from the master alone:

* ``local`` / ``local[...]`` — ``DataFrame.localCheckpoint``. One JVM
  holds every block, so losing an executor loses the whole application
  anyway; the ContextCleaner releases the blocks when the plan object is
  GC'd (no CacheManager growth, no manual unpersist).
* any other master (``local-cluster[...]``, ``spark://``, ``yarn``,
  ``k8s://``) — reliable ``DataFrame.checkpoint`` into
  ``SPARK_GRAFT_CHECKPOINT_DIR`` (default ``/tmp/spark_graft_checkpoints``;
  point it at HDFS/S3 on a cluster). Local-checkpoint blocks are not
  recomputable, so on a cluster an executor loss would fail the query;
  a reliable checkpoint survives it and dynamic allocation.

Contract: on both branches the returned frame's plan scans the
materialized RDD (a ``LogicalRDD``), not the upstream DAG. Sites rely on
that truncation — the exceptAll Catalyst bug in stream_parity, the
plan-size budgets of the pointer-doubling and BPE loops, a snapshot
re-read after a dynamic overwrite rewrites its source — and the plan
census budgets in tests/test_plans.py assume it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def materialize(df: DataFrame, *, eager: bool = False) -> DataFrame:
    """Materialize a multiply-consumed intermediate and truncate its
    lineage (module docstring: local checkpoint on a local master,
    reliable checkpoint on any other).

    ``eager=True`` forces computation now (iterative loops that must cut
    the previous round's DAG before building on it). Use in chains via
    ``.transform(materialize)``.
    """
    sc = df.sparkSession.sparkContext
    # sc.master is a Python attribute: choosing the branch costs no py4j call
    if sc.master == "local" or sc.master.startswith("local["):
        return df.localCheckpoint(eager=eager)
    if sc.getCheckpointDir() is None:
        sc.setCheckpointDir(
            os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR", "/tmp/spark_graft_checkpoints")
        )
    return df.checkpoint(eager=eager)


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
