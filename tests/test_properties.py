"""Property tests (SURVEY.md §5.4) over randomized panels: weight
positivity, centered-treatment bounds, sandwich symmetry/PSD-ness,
and the §1.3 clustering-semantics regression (explicit-key meat equals
balanced-reshape meat on user-major data).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from mrt_data_integration_spark.estimators.local import (
    _sandwich_np,
    pwcls_np,
    wcls_np,
)
from mrt_data_integration_spark.sources.generator import generate_panel_pdf


@pytest.mark.parametrize("seed", [1, 7, 23])
def test_panel_invariants(seed):
    df = generate_panel_pdf(seed=seed, user_start=1, n_users_chunk=60, n_internal=30)
    a, p = df["a"].to_numpy(), df["p_h"].to_numpy()
    assert ((p > 0) & (p < 1)).all()
    p_h_a = df["p_h_a"].to_numpy()
    assert np.allclose(p_h_a, a * p + (1 - a) * (1 - p))
    assert ((p_h_a > 0) & (p_h_a < 1)).all()
    # implied IPW weights with any target prob in (0,1) are positive
    w = 0.5 / p_h_a
    assert (w > 0).all()
    # a_centered bounds for estimated propensity
    a_c = a - a.mean()
    assert ((a_c > -1) & (a_c < 1)).all()
    # balanced: every user has t_max rows
    assert (df.groupby("user_id").size() == 20).all()


@pytest.mark.parametrize("seed", [3, 11])
def test_sandwich_symmetric_psd(seed):
    df = generate_panel_pdf(seed=seed, user_start=1, n_users_chunk=80, n_internal=40)
    for fit in (wcls_np(df), pwcls_np(df)):
        v = fit.var_beta_r
        assert np.allclose(v, v.T, atol=1e-10)
        eig = np.linalg.eigvalsh(v)
        assert eig.min() > -1e-10
        assert (fit.se_beta_r > 0).all()


def test_balanced_reshape_equals_explicit_key_on_user_major():
    """The reference's balanced fast path (block reshape) and the
    engine's explicit-key aggregation agree when rows ARE user-major —
    the §1.3 hazard only bites on other layouts."""
    rng = np.random.default_rng(5)
    n_users, t_max, d = 30, 20, 3
    scores = rng.standard_normal((n_users * t_max, d))

    def meat(ids):
        # identity hessian: the sandwich is the meat times n/(n-d), and
        # every layout below has the same n_users
        return _sandwich_np(scores, np.eye(d), ids, d)

    user_major_ids = np.repeat(np.arange(n_users), t_max)
    meat_explicit = meat(user_major_ids)
    blocks = np.arange(n_users * t_max) // t_max  # balanced reshape
    meat_blocks = meat(blocks)
    np.testing.assert_allclose(meat_explicit, meat_blocks, atol=1e-10)
    # and on a time-major layout the two DIVERGE (the documented quirk)
    time_major_ids = np.tile(np.arange(n_users), t_max)
    meat_tm = meat(time_major_ids)
    assert not np.allclose(meat_tm, meat_blocks)


def test_estimator_deterministic():
    df = generate_panel_pdf(seed=9, user_start=1, n_users_chunk=50, n_internal=25)
    f1, f2 = wcls_np(df), wcls_np(df.copy())
    np.testing.assert_array_equal(f1.beta_r, f2.beta_r)
    np.testing.assert_array_equal(f1.se_beta_r, f2.se_beta_r)