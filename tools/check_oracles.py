"""Emulate the driver's correctness gate: run every queries() entry on Spark
and its oracle_sql() on DuckDB at the given sf dir; compare row count,
column names, dtypes, and order-insensitive EXACT values.

This must be AT LEAST as strict as the driver's schema+hash gate. Round 1
shipped 3 red queries because this tool stripped timezones and compared
floats with atol=1e-6 — strictly looser than the gate (VERDICT.md round 1).
Rules now:
  - timestamps: normalize unit to us, but KEEP tz-awareness — a tz-aware
    oracle column vs a naive Spark column is a schema FAIL (exactly what
    sank tumbling/sliding in round 1).
  - floats: bit-exact compare, no atol. The oracle SQL must be algebraically
    identical to the Spark plan (same fold order, same rounding point).
  - dtypes: exact (int32 vs int64 is a FAIL — CAST in the oracle).

Usage: python tools/check_oracles.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from dataflow_ordered_processing_spark.session import package_zip  # noqa: E402


def driver_like_spark():
    """A session matching the DRIVER's, not get_spark(): in particular, NO
    spark.sql.execution.arrow.pyspark.enabled — round 1's multimodal red
    passed locally only because get_spark() enables Arrow type coercion."""
    from pyspark.sql import SparkSession

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("oracle-check")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addPyFile(package_zip())
    return spark

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.copy()
    for c in out.columns:
        s = out[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            # unit-normalize only; tz-awareness is part of the schema and
            # MUST survive so tz-aware vs naive fails the compare
            tz = getattr(s.dt, "tz", None)
            out[c] = s.astype(f"datetime64[us, {tz}]" if tz is not None else "datetime64[us]")
        elif s.dtype == object:
            out[c] = s.where(pd.notna(s), None)
    out = out[sorted(out.columns)]
    return out.sort_values(list(out.columns), na_position="last").reset_index(drop=True)


def rotation_problems(qkeys: list[str]) -> list[str]:
    """VERDICT r6 ask #8 — make the registry-rotation rule mechanical.

    The driver's correctness gate checks exactly the FIRST 50 queries()
    entries, so a new-in-round operator parked past position 49 would ship
    without ever being driver-verified. Rule: the registry stays at exactly
    50 entries (duplicates go to extra_queries()), and any key never seen in
    the newest CORRECTNESS_r*.json (= never driver-checked) must sit inside
    the gate window."""
    import glob
    import json

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    problems = []
    if len(qkeys) != 50:
        problems.append(
            f"queries() has {len(qkeys)} entries — the driver gate checks "
            "exactly the first 50; keep the registry at 50 and park "
            "duplicate-covered forms in extra_queries()"
        )
    recs = sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")))
    if recs:
        with open(recs[-1]) as f:
            seen = set(json.load(f))
        for i, k in enumerate(qkeys):
            if k not in seen and i >= 50:
                problems.append(
                    f"NEW query '{k}' sits at position {i}, past the "
                    "50-entry gate window — rotate it to the front of "
                    "queries() (new-in-round operators lead the registry)"
                )
    return problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = driver_like_spark()
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    # check the 50-entry driver registry AND the pruned duplicate-path
    # forms (extra_queries) — local coverage stays at the full query set
    # even though the driver gate caps at 50
    qs = {**entrymod.queries(), **entrymod.extra_queries()}
    oracles = {**entrymod.oracle_sql(), **entrymod.extra_oracle_sql()}
    failures = []
    for prob in rotation_problems(list(entrymod.queries())):
        print(f"FAIL  rotation-guard: {prob}")
        failures.append("rotation-guard")
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(got)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            want = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {e}")
            continue
        g, w = normalize(got), normalize(want)
        status = "ok"
        if list(g.columns) != list(w.columns):
            status = f"COLUMN MISMATCH {list(g.columns)} vs {list(w.columns)}"
        elif len(g) != len(w):
            status = f"ROWCOUNT {len(g)} vs {len(w)}"
        elif [str(t) for t in g.dtypes] != [str(t) for t in w.dtypes]:
            status = (
                f"DTYPE MISMATCH {[str(t) for t in g.dtypes]} vs {[str(t) for t in w.dtypes]}"
            )
        else:
            try:
                pd.testing.assert_frame_equal(g, w, check_dtype=True, check_exact=True)
            except AssertionError as e:
                status = "VALUES differ: " + str(e).splitlines()[-1][:200]
        tag = "ok   " if status == "ok" else "FAIL "
        if status != "ok":
            failures.append(name)
        print(f"{tag} {name}: {len(g)} rows [{time.time()-t0:.1f}s] {status if status != 'ok' else ''}")
    print("\n==", "ALL OK" if not failures else f"FAILURES: {failures}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
