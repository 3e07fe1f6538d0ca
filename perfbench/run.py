"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Starts one ``local[nproc]`` Spark session through the engine's
``session.get_spark``, prepares the workload's inputs from ``--seed``,
runs one cold warm-up pass (part of set-up), then runs passes over the
workload's operations until ``--seconds`` seconds have passed (and at
least the workload's minimum number of passes), one
operation at a time. Every result is checked outside the timed region.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json.
``--trace 1`` alternates traced and untraced passes and reports the
per-layer metrics: spans around each public call, Spark jobs and stages
from the status store, worker-side fit spans (``mc_study``) and
micro-batches from a streaming listener (the stream drains of
``curation_queries``). Tracing overhead is the traced minus the
untraced median pass time.

The last stdout line is the result JSON; the line before it is a report
(environment, per-operation medians, failures, self-time table). Spans
of a traced run are written to ``perfbench/_work/traces/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import env  # noqa: E402

DEADLINE_S = 175
PASS_LAYERS = (
    "bench", "simulation", "estimators.local", "estimators", "queries",
    "streaming", "streaming.batch", "spark.job", "spark.stage",
)


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


class Runner:
    def __init__(self, wl, tracer, census):
        self.wl, self.tracer, self.census = wl, tracer, census
        self.n = 0
        self.passes: list[dict] = []
        self.op_records: list[dict] = []
        self.failures: list[dict] = []
        self.check_s = 0.0

    def run_pass(self, traced: bool, timed: bool = True) -> dict:
        from tracing import attach_jobs, tree_cpu_s

        tracer, wl = self.tracer, self.wl
        span = tracer.span if traced else (lambda *a, **k: contextlib.nullcontext())
        ops = wl.ops(traced)
        results, times, errors, op_spans = {}, {}, {}, {}
        cpu0 = tree_cpu_s()
        epoch0 = time.time()
        t0 = time.perf_counter()
        with span(f"pass {self.n}", "bench"):
            for name, fn in ops:
                with span(name, wl.op_layer(name)) as sp:
                    a = time.perf_counter()
                    try:
                        results[name] = fn()
                    except Exception as e:  # a failed operation is counted, not fatal
                        traceback.print_exc()
                        errors[name] = f"{type(e).__name__}: {e}"[:300]
                    times[name] = time.perf_counter() - a
                op_spans[name] = sp
        wall = time.perf_counter() - t0
        epoch1 = time.time()
        cpu = tree_cpu_s() - cpu0
        c0 = time.perf_counter()
        problems = {n: wl.check(n, r) for n, r in results.items()}
        problems.update({n: [msg] for n, msg in errors.items()})
        if self.census is not None:
            jobs = self.census.new_jobs() if traced else (self.census.mark() or [])
            py = self.census.new_python_bytes() if traced else []
            for name, sp in op_spans.items() if traced else ():
                mine = [j for j in jobs if sp["t0"] <= j["t0"] <= sp["t1"]]
                agg = attach_jobs(tracer, sp, mine)
                agg["stage_list"] = [s for j in mine for s in j["stages"]]
                agg["python_bytes"] = sum(b for t, b in py if sp["t0"] <= t <= sp["t1"])
                self.op_records.append({"op": name, "pass": self.n, "wall_s": times[name], **agg})
        wl.after_pass(op_spans, traced)
        self.check_s += time.perf_counter() - c0
        rec = {"pass": self.n, "traced": traced, "wall_s": wall, "cpu_s": cpu,
               "op_s": times, "epoch": (epoch0, epoch1),
               "failed": sorted(n for n, p in problems.items() if p)}
        if timed:
            self.passes.append(rec)
            self.failures += [{"pass": self.n, "op": n, "problems": p} for n, p in problems.items() if p]
        self.n += 1
        return rec


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def _pooled_tail(samples: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(samples)
    if n < 11:
        return None
    p = math.floor(100 * (n - 10) / n)
    return {"p": p, "value_s": sorted(samples)[max(0, math.ceil(p / 100 * n) - 1)], "n": n}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)

    with open(os.path.join(env.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    run_dir = os.path.join(env.WORK, f"run-{os.getpid()}")
    env.prepare(run_dir)
    import tracing as tr
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    traced_run = bool(args.trace)
    tracer = tr.Tracer(traced_run)
    spark = None
    try:
        t = time.perf_counter()
        with tracer.span("session.start", "session"):
            spark = env.start_session(f"perfbench-{args.workload}")
        start_s = time.perf_counter() - t
        t = time.perf_counter()
        with tracer.span("session.warmup", "session"):
            spark.range(1_000_000).selectExpr("sum(id)").collect()
        warmup_s = time.perf_counter() - t
        from mrt_data_integration_spark.sources import sinks

        build_s = _time_builds(sinks) if traced_run else None
        wl = WORKLOADS[args.workload](spark, args.seed, os.path.join(run_dir, "inputs"), tracer)
        census = tr.SparkCensus(spark) if traced_run else None
        runner = Runner(wl, tracer, census)
        prep_s = wl.setup()
        warm = runner.run_pass(traced=False, timed=False)
        setup_s = time.perf_counter() - T_START - prep_s
        if warm["failed"]:
            print(f"warm-up pass failed: {warm['failed']}", file=sys.stderr)
        builds0 = len(sinks.BUILD_EVENTS)

        t_measure = time.perf_counter()
        # a traced run needs an untraced pass too
        min_passes = max(wl.min_passes, 2 if traced_run else 1)
        while len(runner.passes) < min_passes or time.perf_counter() - t_measure < args.seconds:
            runner.run_pass(traced=traced_run and len(runner.passes) % 2 == 0)
        built = [p for p, b in sinks.BUILD_EVENTS[builds0:] if b]

        untraced = [p for p in runner.passes if not p["traced"]]
        attempted = sum(len(p["op_s"]) for p in runner.passes)
        failed = sum(len(p["failed"]) for p in runner.passes)
        op_names = list(runner.passes[0]["op_s"])
        op_median = {n: _median([p["op_s"][n] for p in untraced]) for n in op_names}
        pass_s = _median([p["wall_s"] for p in untraced])
        e2e = {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "op_geomean_s": _geomean(list(op_median.values())),
            "cpu_s": _median([p["cpu_s"] for p in untraced]),
        }
        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "env": env.describe(spark),
            "passes": len(runner.passes), "untraced_passes": len(untraced),
            "pass_s_each": [round(p["wall_s"], 4) for p in runner.passes],
            "cpu_s_each": [round(p["cpu_s"], 2) for p in runner.passes],
            "op_median_s": op_median,
            "op_samples": len(untraced),
            "op_latency_tail": _pooled_tail([s for p in untraced for s in p["op_s"].values()]),
            "fits_per_s": wl.fits_per_pass / pass_s if wl.fits_per_pass else None,
            "peak_rss_mb": tr.tree_peak_rss_mb(),
            "rows_per_s": _median([wl.rows_drained(*p["epoch"]) / p["wall_s"] for p in untraced])
            if hasattr(wl, "rows_drained") else None,
            "error_rate": failed / attempted,
            "failures": runner.failures,
            "artifacts_built_in_timed_passes": [os.path.basename(p) for p in built],
            "artifacts_reused_in_timed_passes": len(sinks.BUILD_EVENTS) - builds0 - len(built),
            "setup": {"session_start_s": start_s, "session_warmup_s": warmup_s,
                      "benchmark_prep_s_excluded": prep_s, "warmup_pass_s": warm["wall_s"],
                      "inputs_from_checkout_cache": getattr(wl, "cached", None)},
            "end_to_end": e2e,
        }
        if traced_run:
            traced = [p for p in runner.passes if p["traced"]]
            layer = _layer_metrics(runner, len(traced))
            layer.update({
                "session.start_s": start_s,
                "session.warmup_s": warmup_s,
                "sources.sinks.artifacts_built": float(len(built)),
                "sources.sinks.write_s": sum(build_s),
                "trace.overhead_s": _median([p["wall_s"] for p in traced]) - pass_s,
            })
            metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                       for m in spec["per_layer"]}
            report["self_time_by_layer"] = tracer.layer_table()
            report["tracing_overhead_s"] = layer["trace.overhead_s"]
            report["trace_file"] = _write_trace(tracer, args)
        else:
            metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        wl.close()
    finally:
        t = time.perf_counter()
        if spark is not None:
            env.stop_session(spark)
        t_rm = time.perf_counter()
        shutil.rmtree(run_dir, ignore_errors=True)
    report["check_and_trace_s"] = runner.check_s
    report["shutdown_s"] = {"session": t_rm - t, "cleanup": time.perf_counter() - t_rm}
    signal.alarm(0)
    print(json.dumps({"report": report}, default=float))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def _time_builds(sinks) -> list[float]:
    """Wrap ``sources.sinks.build_and_publish`` (its call sites import it
    at call time) to time every artifact build of the traced run."""
    inner = sinks.build_and_publish
    seconds: list[float] = []

    def timed(path, marker, build):
        def build_timed(tmp):
            t = time.perf_counter()
            try:
                return build(tmp)
            finally:
                seconds.append(time.perf_counter() - t)

        return inner(path, marker, build_timed)

    sinks.build_and_publish = timed
    return seconds


def _layer_metrics(runner, n_traced: int) -> dict:
    """Per-layer metrics from the traced passes: the workload's own, the
    JVM totals per pass and the self time per layer per pass."""
    out = runner.wl.layer_metrics(runner.op_records)
    per_pass: dict[int, dict] = {}
    for r in runner.op_records:
        acc = per_pass.setdefault(r["pass"], {})
        for k in ("jobs", "stages", "tasks", "run_s", "cpu_s", "shuffle_bytes", "input_bytes", "driver_s"):
            acc[k] = acc.get(k, 0) + r[k]
    names = {"run_s": "executor_run_s", "cpu_s": "executor_cpu_s"}
    for k in ("jobs", "stages", "tasks", "run_s", "cpu_s", "shuffle_bytes", "input_bytes", "driver_s"):
        out[f"spark.{names.get(k, k)}"] = _median([acc[k] for acc in per_pass.values()])
    table = runner.tracer.layer_table()
    for layer in PASS_LAYERS:
        out[f"self_s.{layer}"] = table.get(layer, {}).get("self_s", 0.0) / n_traced
    return out


def _write_trace(tracer, args) -> str:
    out_dir = os.path.join(env.WORK, "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
    own = tracer.self_times()
    with open(path, "w") as f:
        json.dump([{**s, "self_s": own[s["id"]]} for s in tracer.spans], f, default=float)
    return os.path.relpath(path, env.ROOT)


if __name__ == "__main__":
    sys.exit(main())
