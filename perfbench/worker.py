"""One Spark session running one workload, started by ``run.py``.

Protocol on stdout (every other line goes to stderr):

* ``PERFBENCH_READY`` once the package is imported and ``get_spark()``
  has returned; ``run.py`` times set-up up to this line.
* ``PERFBENCH_RESULT {...}`` at the end: metrics, failures, env, spans.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), HERE]

# One rung per tail percentile; the highest rung with >= 10 samples
# beyond it is reported.  Fixed rungs keep the reported percentile the
# same from run to run while the sample count moves a little.
TAIL_RUNGS = (99, 95, 90, 75, 50)

# Per-step counters a traced pass sums over its steps.
STEP_COUNTERS = (
    "sched.jobs", "sched.stages", "sched.tasks", "sched.failed_tasks",
    "exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.input_mb",
    "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb",
    "exec.output_mb", "arrow.transfer_s", "duckdb.step_s",
)


def tail_percentile(samples: list[float]) -> tuple[int, float]:
    xs = sorted(samples)
    for p in TAIL_RUNGS:
        v = xs[min(len(xs) - 1, int(len(xs) * p / 100))]
        if sum(x > v for x in xs) >= 10 or p == TAIL_RUNGS[-1]:
            return p, v
    raise AssertionError("unreachable")


def peak_rss_mb() -> dict[str, float]:
    """VmHWM of this process and each of its descendants (the JVM and
    its Python workers), by ``name:pid``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            out[f"{name}:{pid}"] = int(fields["VmHWM"].split()[0]) / 1024
    return out


class Step:
    """One registry query plus its oracle's expected canonical result."""

    def __init__(self, idx: int, query, con, checker):
        self.idx = idx
        self.query = query
        self.name = query.name
        self.spark_s: list[float] = []
        self.duck_s: list[float] = []
        self.expected = None
        self.expected_error = None
        try:
            pdf = con.execute(query.oracle).df()
            self.expected = (pdf, checker.canonicalize(pdf)[:3])
        except Exception as e:  # noqa: BLE001 - reported as a step failure
            self.expected_error = f"oracle error: {type(e).__name__}: {e}"

    def mismatch(self, checker, spdf) -> str | None:
        """None when ``spdf`` hashes like the oracle, else the reason.
        Same order of checks as ``tools/check_correctness.py``."""
        if self.expected_error:
            return self.expected_error
        opdf, (on, ocols, odigest) = self.expected
        bad = checker.decimal_float_mismatches(spdf, opdf)
        if bad:
            return "decimal-vs-float: " + "; ".join(bad)
        try:
            n, cols, digest, _ = checker.canonicalize(spdf)
        except checker.CanonCrash as e:
            return str(e)
        if cols != ocols:
            return f"schema: spark={cols} duckdb={ocols}"
        if n != on:
            return f"rowcount: spark={n} duckdb={on}"
        if digest != odigest:
            return "value hash mismatch"
        return None


class Runner:
    def __init__(self, spark, steps, data_dir, con, checker, ids, tracer):
        self.spark = spark
        self.steps = steps
        self.data_dir = data_dir
        self.con = con
        self.checker = checker
        self.ids = ids
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[dict] = []
        self.passes = 0
        self.layer_passes: list[dict] = []
        self.cold_steps: dict[str, float] = {}

    def _fail(self, step: Step, pass_no: int, why: str) -> None:
        self.failures.append({"step": step.name, "pass": pass_no,
                              "why": why[:500]})
        print(f"perfbench: FAIL {step.name} (pass {pass_no}): {why[:300]}",
              file=sys.stderr)

    def run_pass(self, *, traced: bool, timed: bool) -> float:
        """Run every step once.  Returns the pass time: the sum of step
        latencies (build + ``toPandas()``); oracle checks, DuckDB timing
        and trace probes run between steps, outside that sum."""
        pass_no = self.passes
        self.passes += 1
        total = 0.0
        layers = dict.fromkeys(STEP_COUNTERS, 0.0) if traced else {}
        first_span = len(self.tracer.spans) if self.tracer else 0
        t_wall = time.perf_counter()
        for step in self.steps:
            self.attempted += 1
            try:
                if traced:
                    dt, spdf, counts = self._traced_step(step, pass_no)
                    for k, v in counts.items():
                        layers[k] += v
                else:
                    t0 = time.perf_counter()
                    df = step.query.spark_fn(self.spark, self.data_dir)
                    spdf = df.toPandas()
                    dt = time.perf_counter() - t0
            except Exception as e:  # noqa: BLE001 - counted, run goes on
                self._fail(step, pass_no, f"{type(e).__name__}: {e}")
                continue
            total += dt
            if pass_no == 0:
                self.cold_steps[step.name] = dt
            why = step.mismatch(self.checker, spdf)
            if why:
                self._fail(step, pass_no, why)
            if timed:
                t0 = time.perf_counter()
                self.con.execute(step.query.oracle).fetchall()
                duck = time.perf_counter() - t0
                if traced:
                    layers["duckdb.step_s"] += duck
                else:
                    step.spark_s.append(dt)
                    step.duck_s.append(duck)
        if traced:
            self.tracer.step = None
            layers.update(self._span_layers(first_span))
            layers["pass_s"] = total
            self.layer_passes.append({
                "pass": pass_no,
                "wall_s": time.perf_counter() - t_wall,
                "spans": [first_span, len(self.tracer.spans)],
                "layers": layers,
            })
        return total

    def _traced_step(self, step: Step, pass_no: int):
        tr, ids = self.tracer, self.ids
        tr.step = step.idx
        j0, s0 = ids.jobs(), ids.stages()
        with tr.span("step", query=step.name, pass_no=pass_no) as root:
            with tr.span("queries.build", query=step.name):
                df = step.query.spark_fn(self.spark, self.data_dir)
            with tr.span("action") as action:
                spdf = df.toPandas()
        j1, s1 = ids.jobs(), ids.stages()
        counts = ids.stage_totals(s0, s1)
        counts["sched.jobs"] = j1 - j0
        counts["sched.stages"] = s1 - s0
        # Probes of the built frame, outside the step span.
        from data_pipeline_package_for_python_spark.plans import plan_report

        with tr.span("plans.plan", query=step.name) as ps:
            rep = plan_report(df)
            ps.attrs.update(shuffles=rep.n_shuffles,
                            broadcasts=rep.n_broadcasts)
        with tr.span("arrow.noop", query=step.name) as noop:
            df.write.format("noop").mode("overwrite").save()
        counts["arrow.transfer_s"] = action.duration - noop.duration
        root.attrs.update({k: round(v, 6) for k, v in counts.items()})
        return root.duration, spdf, counts

    def _span_layers(self, first: int) -> dict[str, float]:
        from tracing import OPERATOR_FAMILIES, self_costs

        spans = self.tracer.spans[first:]
        selfc = self_costs(spans)
        out = {"queries.build_s": 0.0, "queries.build_jobs": 0.0,
               "plans.plan_s": 0.0, "plans.shuffles": 0.0,
               "plans.broadcasts": 0.0, "core.calls": 0.0,
               "core.self_s": 0.0, "sources.write_s": 0.0,
               "sources.bytes_written_mb": 0.0,
               "sources.files_written": 0.0}
        for fam in OPERATOR_FAMILIES:
            for k in ("calls", "self_s", "jobs"):
                out[f"operators.{fam}.{k}"] = 0.0
        for s in spans:
            self_s, self_j = selfc[s.id]
            if s.name == "queries.build":
                out["queries.build_s"] += s.duration
                out["queries.build_jobs"] += s.jobs
            elif s.name == "plans.plan":
                out["plans.plan_s"] += s.duration
                out["plans.shuffles"] += s.attrs["shuffles"]
                out["plans.broadcasts"] += s.attrs["broadcasts"]
            elif s.name == "core":
                out["core.calls"] += 1
                out["core.self_s"] += self_s
            elif s.name == "sources.write":
                out["sources.write_s"] += self_s
                out["sources.files_written"] += s.attrs.get("files", 0)
                out["sources.bytes_written_mb"] += (
                    s.attrs.get("bytes", 0) / 1e6
                )
            elif s.name.startswith("operators."):
                out[f"{s.name}.calls"] += 1
                out[f"{s.name}.self_s"] += self_s
                out[f"{s.name}.jobs"] += self_j
        return out


def env_block(spark, data_dir: str, seed: int | None) -> dict:
    import duckdb
    import pyspark

    conf = spark.sparkContext.getConf()
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "nproc": os.cpu_count(),
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": conf.get("spark.driver.memory", None),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "data_dir": data_dir,
        "seed": seed,
        "git_commit": commit,
    }


def summarize(runner: Runner, cold_s: float, warm: list[float]) -> dict:
    samples = [x for st in runner.steps for x in st.spark_s]
    tail_p, tail_v = tail_percentile(samples)
    spark_sum = sum(statistics.median(st.spark_s) for st in runner.steps
                    if st.spark_s)
    duck_sum = sum(statistics.median(st.duck_s) for st in runner.steps
                   if st.duck_s)
    return {
        "metrics": {
            "cold_pass_s": cold_s,
            "pass_s": statistics.median(warm),
            "step_s.p50": statistics.median(samples),
            "step_s.tail": tail_v,
            "duckdb_ratio": spark_sum / duck_sum,
        },
        "samples": {
            "warm_passes": warm,
            "pass_s.n": len(warm),
            "step_s.n": len(samples),
            "step_s.tail_percentile": tail_p,
            "cold_steps": runner.cold_steps,
            "step_medians": {st.name: statistics.median(st.spark_s)
                             for st in runner.steps if st.spark_s},
            "duckdb_medians": {st.name: statistics.median(st.duck_s)
                               for st in runner.steps if st.duck_s},
        },
    }


def layer_metrics(runner: Runner, untraced: list[float]) -> dict:
    """Per-pass medians over the traced warm passes (the traced cold
    pass only gives ``queries.build_jobs_cold``)."""
    cold, *traced = [p["layers"] for p in runner.layer_passes]
    out = {k: statistics.median(p.get(k, 0.0) for p in traced)
           for k in traced[0]}
    out["trace.overhead_s"] = out.pop("pass_s") - statistics.median(untraced)
    out["queries.build_jobs_cold"] = cold.get("queries.build_jobs", 0.0)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--data")
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    from data_pipeline_package_for_python_spark.queries import QUERIES
    from data_pipeline_package_for_python_spark.session import get_spark

    t_import = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    t_ready = time.perf_counter()
    print("PERFBENCH_READY", flush=True)

    import check_correctness as checker
    import duckdb
    from workloads import TABLES, WORKLOADS

    from tracing import JobIds, LayerPatch, Tracer

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.environ.get('TMPDIR', '.')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{args.data}/{t}.parquet')")
    steps = [Step(i, QUERIES[n], con, checker)
             for i, n in enumerate(WORKLOADS[args.workload])]
    ids = JobIds(spark)
    tracer = Tracer(ids) if args.trace else None
    runner = Runner(spark, steps, args.data, con, checker, ids, tracer)
    patch = LayerPatch(tracer) if args.trace else None

    def pass_(traced: bool, timed: bool) -> float:
        if not traced:
            return runner.run_pass(traced=False, timed=timed)
        patch.install()
        try:
            return runner.run_pass(traced=True, timed=timed)
        finally:
            patch.undo()

    phases = {"oracles": time.perf_counter() - t_ready}
    t0 = time.perf_counter()
    cold = pass_(bool(args.trace), timed=False)
    phases["cold"] = time.perf_counter() - t0
    if not args.smoke:
        pass_(False, timed=False)  # warm-up, discarded
    noop_ms = None
    if args.trace:
        noop = []
        for _ in range(7):
            t1 = time.perf_counter()
            spark.range(1, numPartitions=1).write.format("noop") \
                .mode("overwrite").save()
            noop.append((time.perf_counter() - t1) * 1e3)
        noop_ms = statistics.median(noop[2:])
    phases["warmup"] = time.perf_counter() - t0 - phases["cold"]
    warm: list[float] = []
    t0 = time.perf_counter()
    deadline = t0 + args.seconds
    while True:
        warm.append(pass_(False, timed=True))
        if args.trace:
            pass_(True, timed=True)
        if args.smoke or time.perf_counter() >= deadline:
            break
    phases["measured"] = time.perf_counter() - t0
    result = summarize(runner, cold, warm)
    rss = peak_rss_mb()
    result["metrics"]["peak_rss_mb"] = sum(rss.values())
    result["peak_rss_by_process"] = rss
    if args.trace:
        layers = layer_metrics(runner, warm)
        layers["session.import_s"] = t_import - T_START
        layers["session.get_spark_s"] = t_ready - t_import
        layers["session.noop_job_ms"] = noop_ms
        result["layers"] = layers
        result["traced_passes"] = runner.layer_passes
        result["spans"] = [vars(s) for s in tracer.spans]
    result.update(
        attempted=runner.attempted,
        failures=runner.failures,
        passes=runner.passes,
        phases=phases,
        env=env_block(spark, args.data, args.seed),
    )
    print("PERFBENCH_RESULT " + json.dumps(result), flush=True)
    con.close()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
