#!/usr/bin/env python
"""Per-layer profile of registry queries: where each query's time goes.

Every run builds the query afresh and records all five layers of that
one build:

  (a) build_s, build_jobs   ``spark_fn(spark, sf_dir)``; iterative
                            builders launch their jobs here
  (b) plan_s                ``queryExecution().executedPlan()``
  (c) jobs, stages          of a noop-sink action
  (d) stage_totals          tasks, executor time, GC, input, shuffle
                            write/read, spill and output over the
                            build's and the action's stages
  (e) noop_s, pandas_s      the noop-sink action and ``toPandas()``;
      transfer_s            ``pandas_s - noop_s``, the Arrow transfer

Jobs and stages are DAG-scheduler id deltas (``perfbench/tracing.py``'s
``JobIds``), so they stay right however many jobs the UI retains.  The
split of a query's wall time into blocked layers follows Ousterhout et
al., "Making Sense of Performance in Data Analytics Frameworks" (NSDI
2015).

Protocol: per query one discarded run, then ``SPARK_GRAFT_BENCH_RUNS``
timed runs (default 5) over ``SPARK_GRAFT_SF_DIR`` (default sf0.1), the
same two variables ``bench.py`` reads.  With no names the whole
registry is profiled.  A query that raises records ``"error"`` and the
sweep goes on; the exit status is 1 if any query failed.  Prints ONE
JSON line:

    {"metric": "registry_profile", "sf_dir": ..., "runs": N,
     "queries": {name: {"median": {...}, "runs": [{...}, ...]}
                       | {"error": "..."}, ...},
     "env": {...}}

Usage:
    [SPARK_GRAFT_SF_DIR=...] [SPARK_GRAFT_BENCH_RUNS=...]
    python tools/profile.py [name ...]
"""

from __future__ import annotations

import importlib.util
import json
import os
import statistics
import sys
import sysconfig
import time
import traceback

if __name__ == "profile":
    # With tools/ on sys.path (this script, perfbench's worker) this
    # file shadows the standard library's ``profile``, which cProfile,
    # and so pyspark, imports: hand that import the real module.
    _spec = importlib.util.spec_from_file_location(
        "profile", os.path.join(sysconfig.get_path("stdlib"), "profile.py")
    )
    sys.modules["profile"] = importlib.util.module_from_spec(_spec)
    _spec.loader.exec_module(sys.modules["profile"])

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(spark, ids, spark_fn, sf_dir: str) -> dict:
    """Layers (a)-(e) of one fresh build of ``spark_fn``.

    ``plan_s`` plans a second Dataset over the same analyzed plan, so
    both actions plan their own ``QueryExecution`` and ``transfer_s``
    compares like with like.
    """
    from data_pipeline_package_for_python_spark.plans import prepare

    j0, s0 = ids.jobs(), ids.stages()
    t0 = time.perf_counter()
    df = spark_fn(spark, sf_dir)
    t1 = time.perf_counter()
    j1 = ids.jobs()
    twin = prepare(df).dataframe()
    t2 = time.perf_counter()
    twin._jdf.queryExecution().executedPlan()
    t3 = time.perf_counter()
    j3, s3 = ids.jobs(), ids.stages()
    df.write.format("noop").mode("overwrite").save()
    t4 = time.perf_counter()
    j4, s4 = ids.jobs(), ids.stages()
    df.toPandas()
    t5 = time.perf_counter()
    return {
        "build_s": t1 - t0,
        "build_jobs": j1 - j0,
        "plan_s": t3 - t2,
        "jobs": j4 - j3,
        "stages": s4 - s3,
        "stage_totals": ids.stage_totals(s0, s4),
        "noop_s": t4 - t3,
        "pandas_s": t5 - t4,
        "transfer_s": (t5 - t4) - (t4 - t3),
    }


def profile_query(spark, name: str, sf_dir: str, runs: int) -> dict:
    """One discarded run, then ``runs`` timed runs of registry query
    ``name``: their medians and the raw runs, or the error it raised."""
    from data_pipeline_package_for_python_spark.queries import QUERIES
    from perfbench.tracing import STAGE_FIELDS, JobIds

    ids = JobIds(spark)
    try:
        out = [run_once(spark, ids, QUERIES[name].spark_fn, sf_dir)
               for _ in range(runs + 1)][1:]
    except Exception as e:  # noqa: BLE001 - the sweep goes on
        traceback.print_exc()
        return {"error": f"{type(e).__name__}: {e}"}
    totals = ("sched.tasks", "sched.failed_tasks",
              *(m for m, _ in STAGE_FIELDS.values()))
    median = {k: statistics.median(r[k] for r in out)
              for k in out[0] if k != "stage_totals"}
    median["stage_totals"] = {
        k: statistics.median(r["stage_totals"][k] for r in out)
        for k in totals
    }
    return {"median": median, "runs": out}


def main(argv: list[str]) -> int:
    sys.path.insert(0, ROOT)
    from bench import RUNS, SF_DIR, session_env
    from data_pipeline_package_for_python_spark.queries import QUERIES

    names = argv or list(QUERIES)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"unknown query: {', '.join(unknown)}", file=sys.stderr)
        return 1

    from data_pipeline_package_for_python_spark.session import get_spark

    spark = get_spark(app_name="dpp-profile")
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for name in names:
        rec = out[name] = profile_query(spark, name, SF_DIR, RUNS)
        if "error" in rec:
            line = f"ERROR {rec['error']}"
        else:
            m = rec["median"]
            line = (f"build={m['build_s']:.3f}s/{m['build_jobs']:g}j "
                    f"plan={m['plan_s']:.3f}s "
                    f"noop={m['noop_s']:.3f}s/{m['jobs']:g}j/"
                    f"{m['stages']:g}st transfer={m['transfer_s']:.3f}s")
        print(f"{name}: {line}", file=sys.stderr, flush=True)
    print(json.dumps({
        "metric": "registry_profile",
        "sf_dir": SF_DIR,
        "runs": RUNS,
        "queries": out,
        "env": session_env(spark),
    }))
    return int(any("error" in rec for rec in out.values()))


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
