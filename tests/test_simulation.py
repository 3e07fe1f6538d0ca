"""Monte-Carlo harness tests: the distributed fan-out runs, results are
deterministic in the seed, and the statistical self-test of the
reference (bias within Monte-Carlo error, coverage near nominal —
simulation.R:516-529) holds on a small run.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from mrt_data_integration_spark.estimators import local
from mrt_data_integration_spark.simulation.harness import (
    METHODS,
    mc_summary,
    run_grid,
    simulate_one,
)
from mrt_data_integration_spark.sources.generator import generate_panel, generate_panel_pdf


def test_generator_deterministic_and_chunk_free():
    a = generate_panel_pdf(seed=7, user_start=1, n_users_chunk=50, n_internal=25)
    b = generate_panel_pdf(seed=7, user_start=1, n_users_chunk=50, n_internal=25)
    assert a.equals(b)
    # chunking the user range must not change rows
    c1 = generate_panel_pdf(seed=7, user_start=1, n_users_chunk=20, n_internal=25)
    assert np.allclose(
        a[a.user_id <= 20][["x1", "x2", "y"]].to_numpy(),
        c1[["x1", "x2", "y"]].to_numpy(),
    )


def test_distributed_generator_matches_local(spark):
    dist = (
        generate_panel(spark, seed=3, n_internal=30, n_external=30, users_per_chunk=17)
        .orderBy("user_id", "t")
        .toPandas()
    )
    loc = generate_panel_pdf(seed=3, user_start=1, n_users_chunk=60, n_internal=30)
    assert len(dist) == len(loc) == 60 * 20
    np.testing.assert_allclose(
        dist[["x1", "x2", "x3", "y"]].to_numpy(), loc[["x1", "x2", "x3", "y"]].to_numpy()
    )


def test_simulate_one_shape():
    out = simulate_one(seed=1, n_internal=50, n_external=50)
    assert len(out) == 10 * 2  # 10 methods × 2 coefficients
    assert out["estimate"].notna().all()
    assert (out["se"] > 0).all()


def test_simulate_one_tilt_memo_bit_identical(monkeypatch):
    monkeypatch.setattr(local, "_LADDER_MEMO", None)
    cold = simulate_one(seed=2, n_internal=40, n_external=60)
    warm = simulate_one(seed=2, n_internal=40, n_external=60)

    # reference: every method fits its own ladder, as without the memo
    def fresh(fn):
        def run(panel):
            monkeypatch.setattr(local, "_LADDER_MEMO", None)
            return fn(panel)

        return run

    unshared = simulate_one(
        seed=2,
        n_internal=40,
        n_external=60,
        methods={name: fresh(fn) for name, fn in METHODS.items()},
    )
    assert cold.equals(warm)
    assert cold.equals(unshared)


def _ladder_inputs():
    df = generate_panel_pdf(seed=4, user_start=1, n_users_chunk=60, n_internal=30)
    return (
        df["x1"].to_numpy(),
        df["x2"].to_numpy(),
        df["is_internal"].to_numpy().astype(bool),
    )


def test_tilt_memo_hits_equal_inputs_and_misses_changed_value(monkeypatch):
    monkeypatch.setattr(local, "_LADDER_MEMO", None)
    x1, x2, is_int = _ladder_inputs()
    first = local._tilt_ladder_np(x1, x2, is_int)
    assert local._tilt_ladder_np(x1.copy(), x2.copy(), is_int.copy()) is first

    # in place, so a memo that kept references instead of copies would hit
    x2[7] += 0.5
    changed = local._tilt_ladder_np(x1, x2, is_int)
    assert changed is not first
    monkeypatch.setattr(local, "_LADDER_MEMO", None)
    cold = local._tilt_ladder_np(x1, x2, is_int)
    np.testing.assert_array_equal(changed[0], cold[0])
    np.testing.assert_array_equal(changed[1], cold[1])
    assert not np.array_equal(changed[1], first[1])


def test_tilt_memo_result_is_read_only(monkeypatch):
    monkeypatch.setattr(local, "_LADDER_MEMO", None)
    omega, X_om, _, _ = local._tilt_ladder_np(*_ladder_inputs())
    with pytest.raises(ValueError):
        omega[0] = 0.0
    with pytest.raises(ValueError):
        X_om[0, 0] = 0.0


def test_run_grid_and_summary(spark):
    methods = None  # all 10
    results = run_grid(
        spark, size_pairs=[(50, 50)], n_reps=8, methods=methods
    ).cache()
    n = results.count()
    assert n == 8 * 10 * 2
    summ = mc_summary(results).toPandas()
    assert len(summ) == 10 * 2
    # statistical self-test (loose at 8 reps): unbiased methods within
    # 4 MC-SEs of truth; coverage not degenerate.
    row = summ[(summ.method == "WCLS-Internal") & (summ.coef == "Slope")].iloc[0]
    mc_se = row.empirical_se / np.sqrt(8)
    assert abs(row.avg_estimate - 5.0) < 4 * mc_se + 1e-9
    assert 0.5 <= row.coverage <= 1.0
    results.unpersist()
