#!/usr/bin/env python3
"""Pipeline benchmark: one workload of registry queries, oracle-checked.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 6 --trace 0

Run from the repository root.  The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (see BENCHMARK.json and perfbench/README.md).  The line
before it carries the details: env block, sample counts, tail
percentile, failures.  ``--smoke`` runs the sf0.001 fixtures with a
single measured pass, for the benchmark's own tests.

Everything a run writes stays under ``.perfbench/`` in the checkout:
the seeded tables, ``$TMPDIR`` and ``SPARK_LOCAL_DIRS`` live in a
per-run directory that is measured and deleted at the end; the result
(with spans when traced) is kept in ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# The whole run, set-up included, must end within 180 s.
RUN_LIMIT_S = 150.0


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _kill_group(pgid: int) -> None:
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def _reap(proc: subprocess.Popen) -> None:
    """Wait for ``proc``, then for the rest of its process group (the JVM
    and its Python workers); kill whatever outlives 20 s."""
    proc.wait()
    deadline = time.monotonic() + 20
    while _group_alive(proc.pid):
        if time.monotonic() > deadline:
            _kill_group(proc.pid)
        time.sleep(0.05)


def launch(args: list[str], env: dict, timeout: float, *, clean_stop: bool):
    """Run the worker, killed after ``timeout`` s; return (set-up seconds,
    result).  Set-up runs from process start to the worker's ready line.
    Without ``clean_stop`` the worker is killed once it has printed its
    result, instead of waiting for Spark's shutdown."""
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), *args],
        cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    watchdog = threading.Timer(timeout, _kill_group, (proc.pid,))
    watchdog.start()
    setup_s = result = None
    try:
        for line in proc.stdout:
            if line.startswith("PERFBENCH_READY"):
                setup_s = time.perf_counter() - t0
            elif line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line.split(" ", 1)[1])
                if not clean_stop:
                    _kill_group(proc.pid)
            else:
                sys.stderr.write(line)
    finally:
        watchdog.cancel()
        _reap(proc)
    if setup_s is None or result is None or (
            clean_stop and proc.returncode != 0):
        raise RuntimeError(f"worker exited {proc.returncode} without a result")
    return setup_s, result


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, names in os.walk(path):
        for n in names:
            try:
                total += os.lstat(os.path.join(root, n)).st_size
            except OSError:
                pass
    return total


def cpu_ticks() -> list[int]:
    """Aggregate /proc/stat CPU ticks: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    needed = [os.path.join(ROOT, "data_pipeline_package_for_python_spark",
                           "__init__.py"),
              os.path.join(ROOT, "tools", "check_correctness.py")]
    missing = [p for p in needed if not os.path.isfile(p)]
    if missing:
        print(f"perfbench: not a checkout of the package: missing {missing}",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS, fixture_dir, permute_tables

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, "runs", str(os.getpid()))
    tmp, local, data = (os.path.join(run_dir, d)
                        for d in ("tmp", "local", "data"))
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = dict(
        os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=local,
        # Keep the JVM's temp files and perf-data file in the run dir.
        JAVA_TOOL_OPTIONS=(os.environ.get("JAVA_TOOL_OPTIONS", "")
                           + f" -Djava.io.tmpdir={tmp}"
                           " -XX:+PerfDisableSharedMem").strip(),
    )
    try:
        t0, ticks0 = time.perf_counter(), cpu_ticks()
        permute_tables(fixture_dir(args.smoke), data, args.seed)
        t_prep = time.perf_counter() - t0
        setup_s, result = launch(
            ["--workload", args.workload, "--data", data,
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--seed", str(args.seed)] + (["--smoke"] if args.smoke else []),
            env, RUN_LIMIT_S - (time.perf_counter() - t_start),
            # tmp_mb_per_pass, a traced-run metric, needs Spark's own
            # shutdown to have cleaned up first.
            clean_stop=bool(args.trace),
        )
        t_main = time.perf_counter() - t0 - t_prep
        tmp_mb = (dir_bytes(tmp) + dir_bytes(local)) / 1e6
    except Exception as e:  # noqa: BLE001 - no result line on failure
        print(f"perfbench: run failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = result["attempted"]
    failed = len(result["failures"])
    if args.trace:
        values = dict(result["layers"],
                      tmp_mb_per_pass=tmp_mb / result["passes"],
                      peak_rss_mb=result["metrics"]["peak_rss_mb"])
    else:
        values = dict(result["metrics"], setup_s=setup_s)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec}
    detail = {k: v for k, v in result.items() if k != "spans"}
    detail.update(workload=args.workload, seed=args.seed, trace=args.trace,
                  setup_s=setup_s, tmp_mb=tmp_mb,
                  wall={"prep": t_prep, "main": t_main,
                        "total": time.perf_counter() - t0},
                  # Share of CPU time the hypervisor gave to others
                  # during the run: high values mean noisy timings.
                  steal_frac=steal_frac(ticks0, cpu_ticks()),
                  failed_frac=failed / attempted)
    out_dir = os.path.join(base, "results")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump(dict(detail, spans=result.get("spans")), fh)
    print(json.dumps(detail))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
