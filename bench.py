#!/usr/bin/env python
"""BENCH harness (BASELINE.md §2): B1–B8 on PySpark local[*] vs the
DuckDB single-node baseline, at $SPARK_GRAFT_SF_DIR (default sf0.1).

Protocol (steady-state): one discarded GLOBAL pass over the whole bench
set for BOTH engines (flushes JVM JIT compilation, code-generation and
Python-worker spin-up — fixed costs a long-lived cluster amortizes to
zero, measured at ~2 s of the first pass on this machine), then per
query 1 discarded warm-up + median of 5 timed runs, timing the action
only (session startup excluded, reported separately).  Prints exactly
ONE JSON line on stdout:

    {"metric": "...", "value": <sum of spark medians>, "unit": "sec",
     "queries": {"b1": ..., ...}, "sf": 0.1,
     "duckdb": {...}, "ratio": {...}, "startup_sec": ...,
     "env": {"cpus": ..., "master": ..., "default_parallelism": ...,
             "shuffle_partitions": ...}}
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
# Optional subset, e.g. SPARK_GRAFT_BENCH_SET=b1,b2 — used for the
# standing scale sessions (sf3+ without B8's multi-minute DuckDB side);
# the driver leaves it unset and always runs the full B1–B8 set.
ONLY = {
    b.strip()
    for b in os.environ.get("SPARK_GRAFT_BENCH_SET", "").split(",")
    if b.strip()
}

# BASELINE.md B1–B8 → registry query names (queries/__init__.QUERIES).
BENCH_SET: dict[str, tuple[str, ...]] = {
    "b1": ("agg_q1",),
    "b2": ("filter_q6",),
    "b3": ("join_q3_topk",),
    "b4": ("join_star_q5",),
    "b5": ("window_running_sum", "window_topk_per_group"),
    "b6": ("agg_rollup",),
    "b7": ("func_array_explode_tf",),
    "b8": ("dedup_exact", "dedup_near_minhash"),
}


def interleaved_medians(spark_fn, duck_fn, runs: int = RUNS):
    """A/B/A/B timing: alternate the two engines run-by-run so slow drift
    (thermal, page cache, background load) hits both equally — round-2
    evidence showed the DuckDB control moving +79% between back-to-back
    sequential sessions on identical SQL, which made ratios unstable."""
    spark_fn()  # warm-up, discarded
    if duck_fn is not None:
        duck_fn()
    s_times, d_times = [], []
    for _ in range(runs):
        t0 = time.perf_counter()
        spark_fn()
        s_times.append(time.perf_counter() - t0)
        if duck_fn is not None:
            t0 = time.perf_counter()
            duck_fn()
            d_times.append(time.perf_counter() - t0)
    return (
        statistics.median(s_times),
        statistics.median(d_times) if d_times else 0.0,
    )


def session_env(spark) -> dict:
    """The compute environment of the live session, so a reader can
    tell what the numbers ran on.  ``cpus`` is the thread count of a
    ``local[N]`` master, else the scheduler's default parallelism."""
    sc = spark.sparkContext
    m = re.fullmatch(r"local\[(\d+)\]", sc.master)
    return {
        "cpus": int(m.group(1)) if m else sc.defaultParallelism,
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(
            spark.conf.get("spark.sql.shuffle.partitions")
        ),
    }


def main() -> None:
    import duckdb

    from data_pipeline_package_for_python_spark.queries import QUERIES
    from data_pipeline_package_for_python_spark.session import get_spark

    sf = float(os.path.basename(SF_DIR.rstrip("/")).replace("sf", "") or 0)

    t0 = time.perf_counter()
    spark = get_spark(app_name="dpp-bench")
    spark.sparkContext.setLogLevel("ERROR")
    startup = time.perf_counter() - t0

    con = duckdb.connect()
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )

    # Global steady-state warm-up (JMH-style): discarded passes of the
    # whole bench set on both engines until the pass time plateaus.
    # Spark's first executions of each plan shape pay JIT + whole-stage
    # codegen compilation — measured ~2× on this machine and NOT flushed
    # by a single per-query warm-up (HotSpot keeps recompiling over the
    # first several executions).  A long-lived cluster pays this once
    # per session, not per query, so the steady state is the honest
    # throughput number.  Applied to both engines for fairness.
    # Plateau detection compares against the BEST pass so far, not the
    # previous one, and never exits before 3 passes: on a loaded box two
    # consecutive slow passes (e.g. 22 s then 21 s) would satisfy a
    # prev-pass-only break while HotSpot is still cold — the round-5
    # driver bench recorded a 3× outlier exactly this way.  All pass
    # times are kept and emitted in the JSON so an unwarmed session is
    # self-documenting.
    warmup_passes: list[float] = []
    for i in range(6):
        t0 = time.perf_counter()
        for bid, names in BENCH_SET.items():
            if ONLY and bid not in ONLY:
                continue
            for name in names:
                q = QUERIES[name]
                q.spark_fn(spark, SF_DIR).toPandas()
                if q.oracle:
                    con.execute(q.oracle).fetchall()
        this_pass = time.perf_counter() - t0
        print(f"warmup pass {i + 1}: {this_pass:.2f}s", file=sys.stderr)
        # Plateau = this pass failed to beat the best PRIOR pass by
        # >10%; never before pass 3.
        plateau = (
            i >= 2 and this_pass > min(warmup_passes) * 0.9
        )
        warmup_passes.append(round(this_pass, 3))
        if plateau:
            break

    spark_sec: dict[str, float] = {}
    duck_sec: dict[str, float] = {}
    for bid, names in BENCH_SET.items():
        if ONLY and bid not in ONLY:
            continue
        s_total = d_total = 0.0
        for name in names:
            q = QUERIES[name]
            # toPandas() = Arrow-batched full materialization, the Spark
            # analogue of DuckDB's native fetchall(); collect() would add
            # row-at-a-time pickle overhead that is harness cost, not query
            # cost.
            s_med, d_med = interleaved_medians(
                lambda q=q: q.spark_fn(spark, SF_DIR).toPandas(),
                (lambda q=q: con.execute(q.oracle).fetchall())
                if q.oracle
                else None,
            )
            s_total += s_med
            d_total += d_med
        spark_sec[bid] = round(s_total, 4)
        duck_sec[bid] = round(d_total, 4)
        print(
            f"{bid}: spark={s_total:.3f}s duckdb={d_total:.3f}s "
            f"({', '.join(names)})",
            file=sys.stderr,
        )

    total = round(sum(spark_sec.values()), 4)
    out = {
        "metric": "bench_b1_b8_total_spark_median",
        "value": total,
        "unit": "sec",
        "queries": spark_sec,
        "sf": sf,
        "duckdb": duck_sec,
        "ratio": {
            b: (round(spark_sec[b] / duck_sec[b], 2) if duck_sec[b] else None)
            for b in spark_sec
        },
        "startup_sec": round(startup, 2),
        "warmup_passes": warmup_passes,
        "env": session_env(spark),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
