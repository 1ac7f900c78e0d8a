"""Local mirror of the driver's correctness gate: run every entry in
__spark_entry__.queries() at sf0.01 and compare against oracle_sql() via
DuckDB (sorted columns, normalized values, row multisets).

Usage:
    python scripts/driver_sim.py [sf_dir] [only_csv]
    python scripts/driver_sim.py --window [sf_dir]

``--window`` validates the 50-slot driver window itself instead of
comparing values: every windowed entry must (a) carry an oracle — a
rows-only entry in the window burns a slot on a verdict the driver records
as red ``no_oracle`` — and (b) pass ``driver_representable`` (no HUGEINT
oracle columns, no array/map/struct Spark output). Round 5 burned two
slots on array-returning queries exactly because this rule lived only in a
docstring; run this before every rotation (VERDICT r5 next-round #2).
"""

from __future__ import annotations

import decimal
import math
import sys
import time

import duckdb

sys.path.insert(0, ".")

from ai_powered_data_pipeline_assistant_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entry_mod  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def driver_representable(df, rel) -> list[str]:
    """Reject the two classes the real driver cannot hash even when values
    are identical (both shipped red rows in round 2 while this sim said
    FAILS: [] — see VERDICT round 2 'What's wrong' #3):

    1. DuckDB HUGEINT result columns — ``sum()`` over integers returns
       HUGEINT, which the driver renders differently from Spark's BIGINT.
       Oracles must ``CAST(sum(...) AS BIGINT)`` (the SUM itself, windowed
       sums included; casting the argument does not help).
    2. Array/map/struct-typed Spark OUTPUT columns — the driver's pandas
       canonicalizer ``sort_values`` dies with ``unhashable type: 'list'``.
       Driver-facing projections must be scalars (concat_ws / to_json).
    """
    from pyspark.sql import types as T

    problems = []
    for col, dtype in zip(rel.columns, rel.types):
        if str(dtype).upper() in ("HUGEINT", "INT128", "UHUGEINT"):
            problems.append(f"oracle column '{col}' is {dtype} (wrap in CAST(... AS BIGINT))")
    for field in df.schema.fields:
        if isinstance(field.dataType, (T.ArrayType, T.MapType, T.StructType)):
            problems.append(
                f"spark column '{field.name}' is {field.dataType.simpleString()}"
                " (driver canonicalizer cannot hash it; scalarize)"
            )
    return problems


DRIVER_WINDOW_SLOTS = 50


def check_window(sf_dir: str) -> int:
    """Validate the driver window (first ``DRIVER_WINDOW_SLOTS`` entries of
    ``queries()``): every slot must carry an oracle and be
    driver-representable. Values are NOT compared — run the default mode
    for that; this is the cheap pre-rotation gate."""
    spark = get_spark("driver-sim-window")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    window = list(queries)[:DRIVER_WINDOW_SLOTS]
    fails: list[str] = []
    for name in window:
        if name not in oracles:
            print(f"{name}: NO-ORACLE (window slot would land a red rows-only row)")
            fails.append(name)
            continue
        # per-entry isolation: one broken builder must report its slot and
        # keep going, not hide the rest of the window behind a traceback
        try:
            df = queries[name](spark, sf_dir)
            rep = driver_representable(df, con.sql(oracles[name]))
        except Exception as e:  # noqa: BLE001
            print(f"{name}: BUILD-ERROR {e}")
            fails.append(name)
            continue
        if rep:
            print(f"{name}: NOT-DRIVER-REPRESENTABLE {'; '.join(rep)}")
            fails.append(name)
        else:
            print(f"{name}: ok")
    print("WINDOW FAILS:", fails)
    return 1 if fails else 0


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--window":
        return check_window(sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001")
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    spark = get_spark("driver-sim")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    fails: list[str] = []
    for name in sorted(queries):
        if only is not None and name not in only:
            continue
        # per-row wall time (query and oracle): a stall shows up in every
        # sweep instead of hiding behind a MATCH
        t0 = time.perf_counter()
        df = queries[name](spark, sf_dir)
        if name not in oracles:
            n = df.count()
            print(f"{name}: rows-only rows={n} t={time.perf_counter() - t0:.1f}s")
            continue
        rel = con.sql(oracles[name])
        rep = driver_representable(df, rel)
        if rep:
            print(f"{name}: NOT-DRIVER-REPRESENTABLE {'; '.join(rep)}")
            fails.append(name)
            continue
        s_cols = sorted(df.columns)
        s_rows = sorted(tuple(norm(r[c]) for c in s_cols) for r in df.collect())
        cols = rel.columns
        idx = [cols.index(c) for c in sorted(cols)]
        d_rows = sorted(tuple(norm(r[i]) for i in idx) for r in rel.fetchall())
        ok = s_cols == sorted(cols) and s_rows == d_rows
        print(
            f"{name}: {'MATCH' if ok else 'MISMATCH'} rows={len(s_rows)}/{len(d_rows)}"
            f" t={time.perf_counter() - t0:.1f}s"
        )
        if not ok:
            fails.append(name)
    print("FAILS:", fails)
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
