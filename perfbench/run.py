#!/usr/bin/env python3
"""Benchmark of the engine's interactive and ingest paths.

    python3 perfbench/run.py --workload tool_calls --seed 1 --seconds 12 --trace 0

Workloads (one closed-loop client each, seeded, sf0.1 tables, ``local[4]``):

- ``tool_calls``    ToolRegistry / ChatHandler calls, a quarter of them
                    repeats that the TTL cache serves (perfbench/tool_calls.py);
- ``crawl_ingest``  50-document micro-batches through
                    ``streaming.crawl_pipeline.process_crawl_batch``, a fifth
                    of them planted near-copies (perfbench/crawl_ingest.py).

Each run isolates itself: the tables are generated from ``--seed`` into a
fresh directory under ``.perfbench_runs/`` in the checkout, and ``TMPDIR``,
the checkpoint dir, the warehouse, Spark's local dir and the event log all
point there, so no cached index or table outlives the run. The directory is
deleted at the end and the JVM is stopped and waited for.

End-to-end metrics (``--trace 0``), all measured with tracing off:

- ``setup_s``   process start to the first timed op: JVM start, table
                generation, index build and the fixed warm-up (one sample
                per run: the JVM starts once per process);
- ``op_p50_s``  median op latency (op = one tool call or one crawl batch);
- ``op_p90_s``  90th percentile op latency;
- ``ops_per_s`` ops divided by their summed latency (crawl_ingest's docs/s
                is 50× this).

``--trace 1`` runs the same seed with spans recorded around the package's
public functions (perfbench/spans.py) and Spark's event log on, and prints
the per-layer metrics instead. A per-layer metric of a layer that the
workload does not load reads 0.

Every output is checked (see each workload), outside the timers. The last
stdout line is one JSON object: ``correct``, ``attempted`` (timed ops plus
checks made outside the timers), ``failed`` (those that raised or gave a
wrong answer) and ``metrics``.
The lines before it print each metric with its unit and sample count.
Exit code 2 means the engine package could not be found.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "ai_powered_data_pipeline_assistant_spark"
CPUS = 4
DRIVER_MEM = "3g"
SF = 0.1
WORKLOADS = ("tool_calls", "crawl_ingest")
# whole units (rounds, batches) a traced run executes, so counts repeat
TRACE_UNITS = {"tool_calls": 2, "crawl_ingest": 3}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None,
                   help=f"scale factor of the generated tables (default {SF})")
    p.add_argument("--wrong-expected", action="store_true",
                   help="corrupt one expected value; the run must fail (self-test)")
    return p.parse_args(argv)


def configure_env(run_dir: Path, trace: bool) -> None:
    """Point every place the engine or Spark writes at ``run_dir``; must
    run before the JVM starts."""
    import tempfile

    tmp = run_dir / "tmp"
    for d in ("tmp", "checkpoints", "warehouse", "local", "events"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = str(run_dir / "checkpoints")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # pandas-UDF workers import the package by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    # every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = [
        f"spark.sql.warehouse.dir={run_dir / 'warehouse'}",
        f"spark.local.dir={run_dir / 'local'}",
    ]
    if trace:
        conf += [
            "spark.eventLog.enabled=true",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
            f"spark.eventLog.dir=file://{run_dir / 'events'}",
        ]
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(conf)


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def jvm_peak_rss_mb() -> float:
    """VmHWM of the JVM this process started (0 if it cannot be read)."""
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() != "java":
                    continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            continue
    return 0.0


def stop_spark(spark) -> None:
    """Stop Spark, then the gateway JVM and every process under this one,
    and wait for each to end."""
    import signal

    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    gateway = SparkContext._gateway
    jvm_proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if jvm_proc is not None:
            jvm_proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                jvm_proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — fall through to the kill below
                jvm_proc.kill()
                jvm_proc.wait()
        deadline = time.monotonic() + 20
        while any(_alive(p) for p in procs) and time.monotonic() < deadline:
            time.sleep(0.1)
        for p in procs:
            if _alive(p):
                os.kill(p, signal.SIGKILL)
        for p in procs:
            try:
                os.waitpid(p, 0)
            except ChildProcessError:
                pass


def end_to_end(ctx) -> dict[str, tuple[float, str, int]]:
    from common import median, percentile

    lat = [op.seconds for op in ctx.ops if op.ok]
    n = len(lat)
    return {
        "setup_s": (ctx.setup_s, "s", 1),
        "op_p50_s": (median(lat), "s", n),
        "op_p90_s": (percentile(lat, 90), "s", n),
        "ops_per_s": (n / sum(lat) if lat else 0.0, "1/s", n),
    }


def run(args):
    """Generate the tables, run the workload and return its RunContext."""
    run_dir = ROOT / ".perfbench_runs" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    configure_env(run_dir, bool(args.trace))
    sys.path.insert(0, str(HERE))
    sys.path.insert(0, str(ROOT))
    spark = None
    try:
        import importlib

        import datagen
        from common import RunContext

        sf = args.sf if args.sf is not None else SF
        sf_dir = str(run_dir / f"sf{sf}")
        datagen.generate(sf_dir, args.seed, sf)
        tracer = None
        if args.trace:
            import spans

            tracer = spans.Tracer()
        from ai_powered_data_pipeline_assistant_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        ctx = RunContext(
            spark=spark, sf_dir=sf_dir, work_dir=str(run_dir / "work"),
            seed=args.seed, seconds=args.seconds, process_t0=PROCESS_T0,
            tracer=tracer, wrong_expected=args.wrong_expected,
        )
        ctx.master = spark.sparkContext.master
        ctx.default_parallelism = spark.sparkContext.defaultParallelism
        workload = importlib.import_module(args.workload)
        units = TRACE_UNITS[args.workload] if tracer else None
        if tracer:
            tracer.install()
        try:
            ctx.layer.update(workload.run(ctx, units))
        finally:
            if tracer:
                tracer.uninstall()
        rss = jvm_peak_rss_mb()
        stop_spark(spark)
        spark = None
        if tracer:
            ctx.layer.update(tracer.report(ctx, str(run_dir / "events")))
            ctx.layer["jvm_peak_rss_mb"] = rss
            tracer.dump(str(ROOT / ".perfbench_spans" / f"{args.workload}-s{args.seed}.jsonl"))
        return ctx
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        runs = run_dir.parent
        if runs.is_dir() and not any(runs.iterdir()):
            runs.rmdir()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    ctx = run(args)
    failed_ops = [op for op in ctx.ops if not op.ok]
    bad_checks = [name for name, ok in ctx.checks.items() if not ok]
    for op in failed_ops[:10]:
        print(f"failed op {op.kind}: {op.note or 'wrong output'}")
    for name in bad_checks:
        print(f"failed check: {name}")
    print(f"workload {args.workload} seed {args.seed} master {ctx.master} "
          f"default_parallelism {ctx.default_parallelism} "
          f"ops {len(ctx.ops)} failed_op_ratio {len(failed_ops) / max(1, len(ctx.ops)):.4f}")
    if args.trace:
        import spans

        metrics = {k: {"value": float(ctx.layer.get(k, 0.0)), "unit": u}
                   for k, u in spans.PER_LAYER_UNITS.items()}
        for k, m in metrics.items():
            print(f"metric {k} = {m['value']:.6g} {m['unit']}")
    else:
        metrics = {}
        for k, (v, unit, n) in end_to_end(ctx).items():
            metrics[k] = {"value": v, "unit": unit}
            print(f"metric {k} = {v:.6g} {unit} (n={n})")
    correct = not failed_ops and not bad_checks and len(ctx.ops) > 0
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, len(ctx.ops) + len(ctx.checks)),
        "failed": len(failed_ops) + len(bad_checks),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
