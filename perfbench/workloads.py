"""The benchmark workloads.

Each workload prepares its inputs from the seed (``setup``), returns the
operations of one pass in the order that pass runs them (``ops``),
checks every result against a reference computed outside the timed
passes (``check``) and turns the traced passes into its per-layer
metrics (``layer_metrics``). The load is one closed-loop client: one
operation at a time, the next only after the previous returned.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import pickle
import shutil
import statistics
import time

import numpy as np

import data
import env
import tracing as tr
from tests.oracle_utils import compare_frames, run_oracle

T_MAX = 20


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _close(got, want) -> bool:
    """Equal shapes and every value within 1e-4 relative. The estimators'
    logistic IRLS fits stop once the relative deviance change is below
    1e-8, and a deviance change pins the coefficients only to about its
    square root, so two correct fits that stop one iteration apart can
    differ by up to about 1e-4 relative (seen: 2e-6 on a 100k-row panel)."""
    got, want = np.asarray(got, dtype=float), np.asarray(want, dtype=float)
    return got.shape == want.shape and bool(np.all(np.abs(got - want) <= 1e-4 * (1 + np.abs(want))))


class Workload:
    name = ""
    layer = ""  # layer of this workload's operations
    fits_per_pass = 0  # estimator fits one pass completes (fit workloads)
    min_passes = 1

    def __init__(self, spark, seed: int, workdir: str, tracer: tr.Tracer):
        self.spark, self.seed, self.workdir, self.tracer = spark, seed, workdir, tracer
        self.rng = np.random.default_rng(seed)

    def setup(self) -> float:
        """Prepare inputs; returns seconds of benchmark-side preparation
        (reference results, input files) to leave out of ``setup_s``."""
        return 0.0

    def ops(self, traced: bool) -> list[tuple[str, callable]]:
        raise NotImplementedError

    def op_layer(self, op: str) -> str:
        return self.layer

    def check(self, op: str, result) -> list[str]:
        return []

    def after_pass(self, op_spans: dict, traced: bool) -> None:
        pass

    def layer_metrics(self, op_records: list[dict]) -> dict:
        return {}

    def close(self) -> None:
        pass


def _op_stats(op_records, prefix, names, fields=("s", "driver_s", "jobs")):
    out = {}
    for name in names:
        rows = [r for r in op_records if r["op"] == name]
        for f in fields:
            key = {"s": "wall_s"}.get(f, f)
            out[f"{prefix}.{name}.{f}"] = _median([r[key] for r in rows])
    return out


class McStudy(Workload):
    """The paper's Monte-Carlo grid at a reduced replication count."""

    name, layer = "mc_study", "simulation"
    REPS = 2  # mc_summary's relative efficiency needs two replications
    min_passes = 3  # short passes: a median over three keeps the spread down

    def setup(self) -> float:
        from mrt_data_integration_spark.simulation.harness import METHODS, simulate_one
        from run_full_simulation import SIZE_PAIRS

        self.pairs = list(SIZE_PAIRS)
        self.methods = list(METHODS)
        self.fits_per_pass = len(self.pairs) * self.REPS * len(self.methods)
        self.out = os.path.join(self.workdir, "mc_results.parquet")
        t0 = time.perf_counter()
        small = [p for p in self.pairs if sum(p) <= 800]
        picks = self.rng.choice(len(small), 2, replace=False)
        self.replay = {}
        for i in picks:
            n_i, n_e = small[int(i)]
            rep = int(self.rng.integers(1, self.REPS + 1))
            self.replay[(n_i, n_e, rep)] = simulate_one(seed=rep, n_internal=n_i, n_external=n_e)
        return time.perf_counter() - t0

    def ops(self, traced):
        from mrt_data_integration_spark.simulation.harness import mc_summary, run_grid

        methods = _timed_methods(os.path.join(self.workdir, "fit_spans")) if traced else None

        def grid():
            run_grid(self.spark, self.pairs, self.REPS, methods=methods).write.mode(
                "overwrite"
            ).parquet(self.out)

        return [
            ("run_grid", grid),
            ("mc_summary", lambda: mc_summary(self.spark.read.parquet(self.out)).toPandas()),
        ]

    def check(self, op, result):
        n_fit_rows = len(self.pairs) * self.REPS * len(self.methods) * 2
        if op == "run_grid":
            result = self.spark.read.parquet(self.out).toPandas()
            problems = []
            if len(result) != n_fit_rows:
                problems.append(f"rows {len(result)} != {n_fit_rows}")
            if result["estimate"].isna().any():
                problems.append("NaN estimate")
            for (n_i, n_e, rep), want in self.replay.items():
                got = result[
                    (result.n_internal == n_i) & (result.n_external == n_e) & (result.replication == rep)
                ]
                problems += [f"replay {n_i}+{n_e} rep {rep}: {p}" for p in self._replay_problems(got, want)]
            return problems
        if op == "mc_summary":
            want = len(self.pairs) * len(self.methods) * 2
            return [] if len(result) == want else [f"summary rows {len(result)} != {want}"]
        return []

    @staticmethod
    def _replay_problems(got, want) -> list[str]:
        """Every column but the fitted values must match exactly; the
        fitted values as :func:`_close` says: Spark starts the Python
        workers with ``OMP_NUM_THREADS=1`` and the driver process has no
        such pin, so BLAS sums in another order and the last digits move."""
        fitted, keys = ["estimate", "se"], ["method", "coef"]
        problems = compare_frames(got.drop(columns=fitted), want.drop(columns=fitted))
        if not problems:
            got, want = got.sort_values(keys), want.sort_values(keys)
            problems = [f"{c} differs" for c in fitted if not _close(got[c], want[c])]
        return problems

    def after_pass(self, op_spans, traced):
        """Parent the worker-side fit spans to the fan-out stage."""
        span_dir = os.path.join(self.workdir, "fit_spans")
        if not traced or not os.path.isdir(span_dir):
            return
        stages = [s for s in self.tracer.spans if s["layer"] == "spark.stage"
                  and s.get("op_id") == op_spans["run_grid"]["id"]]
        for fn in os.listdir(span_dir):
            with open(os.path.join(span_dir, fn)) as f:
                for line in f:
                    rec = json.loads(line)
                    parent = next((s["id"] for s in stages if s["t0"] <= rec["t0"] <= s["t1"]),
                                  op_spans["run_grid"]["id"])
                    self.tracer.add(rec["method"], "estimators.local", rec["t0"], rec["t1"],
                                    parent=parent, rows=rec["rows"])
            os.remove(os.path.join(span_dir, fn))

    def layer_metrics(self, op_records):
        from mrt_data_integration_spark.sources.generator import generate_panel_pdf

        out = {
            "simulation.run_grid_s": _median([r["wall_s"] for r in op_records if r["op"] == "run_grid"]),
            "simulation.mc_summary_s": _median([r["wall_s"] for r in op_records if r["op"] == "mc_summary"]),
        }
        grids = [r for r in op_records if r["op"] == "run_grid"]
        fan = [max(r["stage_list"], key=lambda s: s["run_s"]) for r in grids if r["stage_list"]]
        out["simulation.tasks"] = _median([s["tasks"] for s in fan])
        out["simulation.task_skew"] = _median(
            [max(s["task_s"]) / statistics.median(s["task_s"]) for s in fan if s["task_s"]]
        )
        out["simulation.python_bytes"] = _median([r["python_bytes"] for r in grids])
        fits = [s for s in self.tracer.spans if s["layer"] == "estimators.local"]
        for m in self.methods:
            d = [(s["t1"] - s["t0"]) * 1e3 for s in fits if s["name"] == m]
            out[f"estimators.local.{m}.ms"] = sum(d) / len(d) if d else 0.0
        for label, (n_i, n_e) in (("small", (25, 25)), ("6400", (6400, 6400))):
            ts = []
            for rep in range(3 if label == "small" else 1):
                with self.tracer.span(f"generate_panel_pdf {n_i}+{n_e}", "sources"):
                    t0 = time.perf_counter()
                    generate_panel_pdf(seed=rep + 1, user_start=1, n_users_chunk=n_i + n_e,
                                       n_internal=n_i, t_max=T_MAX)
                    ts.append(time.perf_counter() - t0)
            out[f"sources.generator.panel_ms.{label}"] = _median(ts) * 1e3
        out["sources.generator.rows"] = float(sum(n_i + n_e for n_i, n_e in self.pairs) * T_MAX * self.REPS)
        return out


def _timed_methods(span_dir: str) -> dict:
    """``harness.METHODS`` wrapped so each fit appends one span record to a
    per-worker-process file; the benchmark process merges the files after
    the pass."""
    from mrt_data_integration_spark.simulation.harness import METHODS

    def wrap(name, fn):
        def call(panel):
            t0 = time.time()
            fit = fn(panel)
            t1 = time.time()
            os.makedirs(span_dir, exist_ok=True)
            with open(os.path.join(span_dir, f"{os.getpid()}.jsonl"), "a") as f:
                f.write(json.dumps({"method": name, "t0": t0, "t1": t1, "rows": len(panel)}) + "\n")
            return fit

        return call

    return {name: wrap(name, fn) for name, fn in METHODS.items()}


ESTIMATORS = ("wcls", "pwcls", "etwcls", "drwcls", "petwcls", "awcls")
# the golden-test method each distributed estimator is fitted as (awcls has none)
GOLDEN_METHOD = {"wcls": "WCLS-Pooled", "pwcls": "P-WCLS-Pooled", "etwcls": "ET-WCLS",
                 "drwcls": "DR-WCLS", "petwcls": "PET-WCLS"}


class PanelFits(Workload):
    """One fit per distributed estimator on a persisted generated panel."""

    name, layer = "panel_fits", "estimators"
    fits_per_pass = len(ESTIMATORS)
    N_INTERNAL = N_EXTERNAL = 2500

    def setup(self):
        from mrt_data_integration_spark.estimators import local
        from mrt_data_integration_spark.sources.generator import generate_panel

        with self.tracer.span("generate_panel+persist", "sources"):
            self.panel = generate_panel(self.spark, self.seed, self.N_INTERNAL, self.N_EXTERNAL).cache()
            self.rows = self.panel.count()
        t0 = time.perf_counter()
        pdf = self.panel.toPandas()
        twins = {
            "wcls": lambda: local.wcls_np(pdf),
            "pwcls": lambda: local.pwcls_np(pdf),
            "etwcls": lambda: local.etwcls_np(pdf, pooling="full"),
            "drwcls": lambda: local.drwcls_np(pdf),
            "petwcls": lambda: local.petwcls_np(pdf),
            "awcls": lambda: local.awcls_np(pdf),
        }
        self.twins = {k: f() for k, f in twins.items()}
        return time.perf_counter() - t0

    def ops(self, traced):
        """The designs of the engine's golden-parity tests, clustered by user."""
        from mrt_data_integration_spark.estimators.awcls import awcls
        from tests.test_golden_wcls import S_MODS, X_H, _fit_method

        p = self.panel
        fits = {f: (lambda m=m: _fit_method(p, m, "user_id")) for f, m in GOLDEN_METHOD.items()}
        fits["awcls"] = lambda: awcls(p, x_h=X_H(), s_moderators=S_MODS(), cluster_col="user_id")
        order = self.rng.permutation(len(ESTIMATORS))
        return [(ESTIMATORS[i], fits[ESTIMATORS[i]]) for i in order]

    def check(self, op, fit):
        twin = self.twins[op]
        problems = []
        for field in ("beta_r", "se_beta_r"):
            got, want = getattr(fit, field), getattr(twin, field)
            if not _close(got, want):
                problems.append(f"{field} {got} != local twin {want}")
        return problems

    def layer_metrics(self, op_records):
        out = _op_stats(op_records, "estimators", ESTIMATORS, ("s", "driver_s", "jobs", "shuffle_bytes"))
        out["sources.generator.rows"] = float(self.rows)
        return out


CURATION = (
    "star_join_revenue fact_fact_join sessionization topk_per_group "
    "minhash_signatures ngram_jaccard_pairs dedup_clusters bm25_doc_search "
    "cosine_topk margin_mined_pairs semantic_decontamination semantic_decontamination_ivf"
).split()
DRAINS = (
    "streaming_dedup_ingest streaming_funnel_conversion "
    "streaming_click_attribution streaming_scd2_history"
).split()
SF = 0.1  # the scale of the engine's own bench traffic (TESTDATA.md)
TABLE_SEED = 42  # the tables are fixed, like the engine's test data


class CurationQueries(Workload):
    """Registry queries and availableNow stream drains over fixed
    generated tables, in a seed-permuted order, checked against their
    DuckDB oracles. Micro-batch progress comes from a streaming
    listener."""

    name, layer = "curation_queries", "queries"
    names = CURATION + DRAINS
    min_passes = 2  # one pass varies ~10% from run to run; the median of two less

    def __init__(self, *args):
        super().__init__(*args)
        self.listener = tr.StreamListener(self.spark)
        self.batches: list[dict] = []

    def op_layer(self, op):
        return "streaming" if op in DRAINS else "queries"

    def setup(self):
        """Generate the tables and run the oracles once per checkout and
        reuse them: both depend only on the generator, the oracle SQL and
        DuckDB, which the cache key covers."""
        import duckdb

        import tests.oracle_utils
        from mrt_data_integration_spark.queries import ORACLES

        t0 = time.perf_counter()
        sql = [ORACLES[q] for q in self.names]
        key = hashlib.sha256(json.dumps(
            [inspect.getsource(data), inspect.getsource(tests.oracle_utils), SF, TABLE_SEED, sql,
             duckdb.__version__]).encode()).hexdigest()[:16]
        cache_root = os.path.join(env.WORK, "cache")
        cache = os.path.join(cache_root, f"curation-{key}")
        self.cached = os.path.isdir(cache)
        if not self.cached:
            shutil.rmtree(cache_root, ignore_errors=True)  # stale keys
            build = f"{cache}.build-{os.getpid()}"
            data.generate(os.path.join(build, "tables"), TABLE_SEED, SF)
            expected = {q: run_oracle(ORACLES[q], os.path.join(build, "tables")) for q in self.names}
            with open(os.path.join(build, "oracles.pkl"), "wb") as f:
                pickle.dump(expected, f)
            os.rename(build, cache)
        self.sf_dir = os.path.join(cache, "tables")
        with open(os.path.join(cache, "oracles.pkl"), "rb") as f:
            self.expected = pickle.load(f)
        return time.perf_counter() - t0

    def ops(self, traced):
        from mrt_data_integration_spark.queries import QUERIES

        order = self.rng.permutation(len(self.names))
        return [
            (self.names[i], (lambda q=self.names[i]: QUERIES[q](self.spark, self.sf_dir).toPandas()))
            for i in order
        ]

    def check(self, op, result):
        return compare_frames(result, self.expected[op])

    def rows_drained(self, t0: float, t1: float) -> int:
        return sum(b["rows"] for b in self.batches if t0 <= b["t0"] <= t1)

    def collect_batches(self) -> None:
        """Pull delivered progress events; the listener bus is
        asynchronous, so wait until no new event arrives for half a second."""
        while True:
            got = self.listener.drain()
            self.batches += got
            if not got:
                return
            time.sleep(0.5)

    def after_pass(self, op_spans, traced):
        """Add each micro-batch as a child of its drain and move the jobs
        that ran inside a batch under that batch."""
        self.collect_batches()
        if not traced:
            return
        for name in DRAINS:
            sp = op_spans[name]
            jobs = [s for s in self.tracer.spans if s["layer"] == "spark.job" and s["parent"] == sp["id"]]
            for b in self.batches:
                if not sp["t0"] <= b["t0"] <= sp["t1"]:
                    continue
                t1 = min(b["t0"] + b["batch_ms"] / 1e3, sp["t1"])
                bs = self.tracer.add("micro-batch", "streaming.batch", b["t0"], t1, parent=sp["id"],
                                     rows=b["rows"], commit_ms=b["commit_ms"], add_batch_ms=b["add_batch_ms"])
                for j in jobs:
                    if b["t0"] <= j["t0"] <= t1:
                        j["parent"] = bs["id"]

    def layer_metrics(self, op_records):
        out = _op_stats(op_records, "queries", CURATION)
        out.update(_op_stats(op_records, "streaming", DRAINS, ("s",)))
        by_pass: dict[int, int] = {}
        for r in op_records:
            if r["op"] in CURATION:
                by_pass[r["pass"]] = by_pass.get(r["pass"], 0) + r["python_bytes"]
        out["operators.python_bytes"] = _median(list(by_pass.values()))
        batches = [s for s in self.tracer.spans if s["layer"] == "streaming.batch"]
        drains = [s for s in self.tracer.spans if s["layer"] == "streaming"]
        out["streaming.rows"] = _median(
            [sum(b["rows"] for b in batches if b["parent"] in {d["id"] for d in drains if d["parent"] == p["id"]})
             for p in self.tracer.spans if p["layer"] == "bench"]
        )
        for name in DRAINS:
            mine = [[b for b in batches if b["parent"] == d["id"]] for d in drains if d["name"] == name]
            out[f"streaming.{name}.batches"] = _median([len(m) for m in mine])
            out[f"streaming.{name}.commit_ms"] = _median([sum(b["commit_ms"] for b in m) for m in mine])
            out[f"streaming.{name}.add_batch_ms"] = _median([sum(b["add_batch_ms"] for b in m) for m in mine])
        return out

    def close(self):
        self.listener.close()


WORKLOADS = {w.name: w for w in (McStudy, PanelFits, CurationQueries)}
