"""Task-local numpy twins of the estimator family (SURVEY.md §7.4 #5 —
the tiny-data/huge-data duality).

The Monte-Carlo study runs 52,000 estimator fits on panels of ≤256k
rows (simulation.R:201-243). Shipping each fit through distributed
aggregations would spend all its time on job scheduling; instead the
simulation harness fans replications out as Spark tasks and each task
calls these numpy twins. The DISTRIBUTED implementations (wcls.py,
pwcls.py, …) own the 100 TB path; differential tests assert twin
equality on the golden data, so both paths share one semantics.

Designs are the paper's (example-analysis.R:25-32):
  X_h = [1, x1, x2, x3];  S = [1, x1, x2];  R = [1, x1];
  ET blocks = is_int·[1, x1] ⊕ is_ext·[1, x1].

The tilt ladder remembers its last call (keyed on exact equality of
its inputs), so the five tilt methods of one replication fit it once;
the shared ``omega``/``X_om`` it returns are read-only.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd

from mrt_data_integration_spark.functions.splines import BSplineSpec, bs_design_numpy
from mrt_data_integration_spark.linalg import (
    final_sandwich_step,
    pool_full,
    pool_two_block_weights,
    se_from_var,
    solve_wls,
)

_MU_EPS = 10 * np.finfo(float).eps


@dataclass
class LocalFit:
    beta_r: np.ndarray
    se_beta_r: np.ndarray
    var_beta_r: np.ndarray
    tilt_warning: bool = False
    # CI dof inputs (simulation.R:38: dof <- model$n - model$p): n is the
    # row count the fit actually used (internal-only methods: the filtered
    # count, simulation.R:57), p the full sandwich dimension
    # (wcls.R:189-190: n=nrow(data), p=nrow(sandwich)).
    n: int = 0
    p: int = 0


def _logistic_irls_np(X: np.ndarray, y: np.ndarray, max_iter=25, tol=1e-8):
    """R-glm-compatible IRLS (same semantics as estimators.glm)."""
    beta = None
    dev_old = np.inf
    warning = False
    converged = False
    for it in range(max_iter):
        if beta is None:
            mu = (y + 0.5) / 2.0
            eta = np.log(mu / (1 - mu))
        else:
            eta = X @ beta
            mu = 1.0 / (1.0 + np.exp(-eta))
        w = mu * (1 - mu)
        # Saturated mu: a NaN deviance never meets the tolerance, so the
        # rung runs max_iter iterations and warns, as glm.py reports it.
        with np.errstate(divide="ignore", invalid="ignore"):
            z = eta + (y - mu) / w
        beta = solve_wls((X * w[:, None]).T @ X, (X * w[:, None]).T @ z)
        eta = X @ beta
        mu = 1.0 / (1.0 + np.exp(-eta))
        with np.errstate(divide="ignore", invalid="ignore"):
            dev = float(-2.0 * np.sum(y * np.log(mu) + (1 - y) * np.log1p(-mu)))
        if abs(dev - dev_old) / (abs(dev) + 0.1) < tol:
            converged = True
            break
        dev_old = dev
    # R's glm.fit warns on boundary mu only AFTER the loop exits, at the
    # final fit — not on intermediate iterations.
    if mu.min() < _MU_EPS or mu.max() > 1 - _MU_EPS:
        warning = True
    return beta, (warning or not converged)


def _bs_np(x: np.ndarray, df_: int, degree: int) -> np.ndarray:
    n_ik = df_ - degree
    interior = (
        tuple(np.quantile(x, [i / (n_ik + 1) for i in range(1, n_ik + 1)]))
        if n_ik
        else ()
    )
    spec = BSplineSpec(degree=degree, interior=interior, boundary=(x.min(), x.max()))
    return bs_design_numpy(x, spec)


# (inputs, result) of the last _tilt_ladder_np call.
_LADDER_MEMO: tuple | None = None


def _tilt_ladder_np(x1, x2, is_internal):
    """etwcls.R:112-133: tensor-spline tilt ladder + intercept offset.

    Returns the last call's result when all three inputs equal the
    last call's exactly (dtype, shape and values)."""
    global _LADDER_MEMO
    memo = _LADDER_MEMO  # read once: another thread may replace it
    inputs = (x1, x2, is_internal)
    if memo is not None and all(
        a.dtype == b.dtype and np.array_equal(a, b) for a, b in zip(memo[0], inputs)
    ):
        return memo[1]
    result = _fit_tilt_ladder_np(x1, x2, is_internal)
    _LADDER_MEMO = (tuple(np.array(a, copy=True) for a in inputs), result)
    return result


def _fit_tilt_ladder_np(x1, x2, is_internal):
    flag = is_internal.astype(float)
    for df_, degree in [(3, 2), (2, 2), (1, 1)]:
        b1, b2 = _bs_np(x1, df_, degree), _bs_np(x2, df_, degree)
        cols = [np.ones_like(x1)]
        cols += list(b1.T)
        cols += list(b2.T)
        for c2 in b2.T:
            for c1 in b1.T:
                cols.append(c1 * c2)
        X_om = np.column_stack(cols)
        omega, warn = _logistic_irls_np(X_om, flag)
        if not warn:
            break
    pi = float(flag.mean())
    omega = omega.copy()
    omega[0] -= math.log(pi / (1 - pi))
    omega.flags.writeable = False
    X_om.flags.writeable = False
    return omega, X_om, (X_om.shape[1] <= 10), pi


def _sandwich_np(scores, hessian, user_ids, d):
    agg = pd.DataFrame(scores).groupby(user_ids).sum().to_numpy()
    meat = agg.T @ agg
    return final_sandwich_step(hessian, meat, agg.shape[0], d)


def _designs(df: pd.DataFrame):
    one = np.ones(len(df))
    x1, x2, x3 = df["x1"].to_numpy(), df["x2"].to_numpy(), df["x3"].to_numpy()
    X_h = np.column_stack([one, x1, x2, x3])
    S = np.column_stack([one, x1, x2])
    R = np.column_stack([one, x1])
    return X_h, S, R


def _cross3_np(X_stage, raw, wres, fit_raw, p, p_a, a, weight, d_nuis):
    """wcls.R:94-97 three-term propensity cross block (column vector).
    ``p`` is the scalar intercept-only propensity; ``p_a``/``fit_raw``/
    ``weight`` are row vectors; ``raw`` the moderated columns / a_c."""
    logd = (-(2 * a - 1) * p * (1 - p)) / p_a
    p_deriv = -(1 - p)
    out = X_stage.T @ (wres * logd)
    out += X_stage.T @ ((p * fit_raw * weight) * p_deriv)
    # t2 applies only to the moderated block: sum((-p * raw_j) * wres) * p_deriv
    out[d_nuis:] += (-p * raw.T) @ (wres * p_deriv)
    return out


def wcls_np(df: pd.DataFrame, internal_only=False) -> LocalFit:
    """WCLS with intercept-only estimated propensity (wcls.R:116-194)."""
    if internal_only:
        df = df[df["is_internal"]].reset_index(drop=True)
    X_h, S, R = _designs(df)
    y, a = df["y"].to_numpy(), df["a"].to_numpy()
    p_h_a = df["p_h_a"].to_numpy()
    user = df["user_id"].to_numpy()

    p = a.mean()
    a_c = a - p
    p_a = a * p + (1 - a) * (1 - p)
    w = p_a / p_h_a

    X = np.column_stack([X_h, a_c[:, None] * R])
    d_h, d_r = X_h.shape[1], R.shape[1]
    gram = (X * w[:, None]).T @ X
    beta = solve_wls(gram, (X * w[:, None]).T @ y)
    beta_r = beta[d_h:]

    resid = y - X @ beta
    wres = w * resid
    d = 1 + d_h + d_r
    scores = np.zeros((len(df), d))
    scores[:, 0] = a - p
    scores[:, 1:] = wres[:, None] * X
    hess = np.zeros((d, d))
    hess[0, 0] = (p * (1 - p)) * len(df)
    hess[1:, 1:] = gram
    hess[1:, 0] = _cross3_np(X, R, wres, R @ beta_r, p, p_a, a, w, d_h)

    sand = _sandwich_np(scores, hess, user, d)
    var = sand[-d_r:, -d_r:]
    return LocalFit(beta_r, se_from_var(var), var, n=len(df), p=d)


def pwcls_np(df: pd.DataFrame, internal_only=False, observational=False) -> LocalFit:
    """P-WCLS (pwcls.R:137-254)."""
    data = df[df["is_internal"]].reset_index(drop=True) if internal_only else df
    X_h, S, R = _designs(data)
    y, a = data["y"].to_numpy(), data["a"].to_numpy()
    is_int = data["is_internal"].to_numpy().astype(bool)
    user = data["user_id"].to_numpy()

    if observational:
        X_ah = np.column_stack(
            [np.ones(len(data)), is_int.astype(float), data["x1"], data["x2"], data["x3"]]
        )
        alpha_h, _ = _logistic_irls_np(X_ah, a)
        p_h_hat = 1.0 / (1.0 + np.exp(-(X_ah @ alpha_h)))
        p_h_a = a * p_h_hat + (1 - a) * (1 - p_h_hat)
    else:
        p_h_a = data["p_h_a"].to_numpy()

    p_s = a.mean()
    a_c = a - p_s
    p_s_a = a * p_s + (1 - a) * (1 - p_s)
    w = p_s_a / p_h_a

    X_hs = np.column_stack([X_h, a_c[:, None] * S])
    d_h, d_s, d_r = X_h.shape[1], S.shape[1], R.shape[1]
    gram_hs = (X_hs * w[:, None]).T @ X_hs
    beta_hs = solve_wls(gram_hs, (X_hs * w[:, None]).T @ y)
    beta_s = beta_hs[d_h:]

    ce = S @ beta_s
    mask2 = np.ones(len(data), bool) if internal_only else is_int
    R_m = R[mask2]
    gram_r = R_m.T @ R_m
    beta_r = solve_wls(gram_r, R_m.T @ ce[mask2])

    d_ah = X_ah.shape[1] if observational else 0
    d = d_ah + 1 + d_h + d_s + d_r
    scores = np.zeros((len(data), d))
    hess = np.zeros((d, d))
    if observational:
        scores[:, :d_ah] = (a - p_h_hat)[:, None] * X_ah
        hess[:d_ah, :d_ah] = (X_ah * (p_h_hat * (1 - p_h_hat))[:, None]).T @ X_ah
    i_as = d_ah
    pos_hs = slice(d_ah + 1, d_ah + 1 + d_h + d_s)
    pos_r = slice(d - d_r, d)
    scores[:, i_as] = a - p_s
    hess[i_as, i_as] = p_s * (1 - p_s) * len(data)

    resid = y - X_hs @ beta_hs
    wres = w * resid
    scores[:, pos_hs] = wres[:, None] * X_hs
    hess[pos_hs, pos_hs] = gram_hs
    hess[pos_hs, i_as] = _cross3_np(X_hs, S, wres, ce, p_s, p_s_a, a, w, d_h)
    if observational:
        logd_h = (-(2 * a - 1) * p_h_hat * (1 - p_h_hat)) / p_h_a
        hess[pos_hs, :d_ah] = (X_hs * wres[:, None]).T @ (logd_h[:, None] * X_ah)

    r_resid = ce - R @ beta_r
    scores[mask2, pos_r] = (r_resid[mask2])[:, None] * R_m
    hess[pos_r, pos_r] = gram_r
    hess.__setitem__(
        (pos_r, slice(d_ah + 1 + d_h, d_ah + 1 + d_h + d_s)), -(R_m.T @ S[mask2])
    )

    sand = _sandwich_np(scores, hess, user, d)
    var = sand[pos_r, pos_r]
    return LocalFit(beta_r, se_from_var(var), var, n=len(data), p=d)


def etwcls_np(df: pd.DataFrame, pooling="full") -> LocalFit:
    """ET-WCLS (etwcls.R:99-225)."""
    X_h4, S, R = _designs(df)
    y, a = df["y"].to_numpy(), df["a"].to_numpy()
    p_h_a = df["p_h_a"].to_numpy()
    is_int = df["is_internal"].to_numpy().astype(bool)
    user = df["user_id"].to_numpy()
    x1 = df["x1"].to_numpy()
    i_f, e_f = is_int.astype(float), (~is_int).astype(float)

    p = a.mean()
    a_c = a - p
    p_a = a * p + (1 - a) * (1 - p)
    w = p_a / p_h_a

    omega, X_om, warn, pi = _tilt_ladder_np(x1, df["x2"].to_numpy(), is_int)
    raw_tilt = np.exp(X_om @ omega)
    tilt = np.where(is_int, 1.0, raw_tilt)
    w_t = w * tilt

    X_h = np.column_stack(
        [i_f, i_f * x1, i_f * df["x2"], i_f * df["x3"], e_f, e_f * x1, e_f * df["x2"], e_f * df["x3"]]
    )
    raw = np.column_stack([i_f, i_f * x1, e_f, e_f * x1])
    X = np.column_stack([X_h, a_c[:, None] * raw])
    d_h, d_r = X_h.shape[1], raw.shape[1]
    gram = (X * w_t[:, None]).T @ X
    beta = solve_wls(gram, (X * w_t[:, None]).T @ y)
    beta_r = beta[d_h:]

    d_om = X_om.shape[1]
    d = 1 + d_om + d_h + d_r
    scores = np.zeros((len(df), d))
    hess = np.zeros((d, d))
    scores[:, 0] = a - p
    hess[0, 0] = p * (1 - p) * len(df)

    rho = pi / (1 - pi)
    p_om = rho * raw_tilt / (1 + rho * raw_tilt)
    pos_om = slice(1, 1 + d_om)
    scores[:, pos_om] = (i_f - p_om)[:, None] * X_om
    hess[pos_om, pos_om] = (X_om * (p_om * (1 - p_om))[:, None]).T @ X_om

    resid = y - X @ beta
    wres = w_t * resid
    pos_b = slice(1 + d_om, d)
    scores[:, pos_b] = wres[:, None] * X
    hess[pos_b, pos_b] = gram
    hess[pos_b, 0] = _cross3_np(X, raw, wres, raw @ beta_r, p, p_a, a, w_t, d_h)
    hess.__setitem__(
        (pos_b, pos_om), -(X * (e_f * wres)[:, None]).T @ X_om
    )

    sand = _sandwich_np(scores, hess, user, d)
    var4 = sand[d - d_r : d, d - d_r : d]
    if pooling == "full":
        b_p, v_p = pool_full(beta_r, var4, 2)
    elif pooling == "kronecker":
        lam = np.linalg.inv(var4)
        lt = np.array([[lam[0, 0], lam[0, 2]], [lam[2, 0], lam[2, 2]]])
        b_p, v_p = pool_two_block_weights(beta_r, var4, lt)
    else:
        b_p, v_p = pool_two_block_weights(beta_r, var4, np.eye(2) * 0.5)
    return LocalFit(b_p, se_from_var(v_p), v_p, tilt_warning=warn, n=len(df), p=d)


def drwcls_np(df: pd.DataFrame) -> LocalFit:
    """DR-WCLS (drwcls.R:142-280)."""
    X_h, S, R = _designs(df)
    y, a = df["y"].to_numpy(), df["a"].to_numpy()
    p_h = df["p_h"].to_numpy()
    p_h_a = a * p_h + (1 - a) * (1 - p_h)
    is_int = df["is_internal"].to_numpy().astype(bool)
    i_f, e_f = is_int.astype(float), (~is_int).astype(float)
    user = df["user_id"].to_numpy()

    p_s = a.mean()
    a_c = a - p_s
    p_s_a = a * p_s + (1 - a) * (1 - p_s)
    w = p_s_a / p_h_a

    X_hs = np.column_stack([X_h, a_c[:, None] * S])
    d_h, d_s, d_r = X_h.shape[1], S.shape[1], R.shape[1]
    gram_hs = (X_hs * w[:, None]).T @ X_hs
    beta_hs = solve_wls(gram_hs, (X_hs * w[:, None]).T @ y)
    beta_h, beta_s = beta_hs[:d_h], beta_hs[d_h:]

    ce = S @ beta_s
    h_fit = X_h @ beta_h
    f1 = h_fit + (1 - p_s) * ce
    f0 = h_fit - p_s * ce
    f_a = a * f1 + (1 - a) * f0
    denom = a - (1 - p_h)
    frac = (y - f_a) / denom
    y_tilde = frac + ce

    omega, X_om, warn, pi = _tilt_ladder_np(
        df["x1"].to_numpy(), df["x2"].to_numpy(), is_int
    )
    raw_tilt = np.exp(X_om @ omega)
    tilt = np.where(is_int, 1.0, raw_tilt)
    d_om = X_om.shape[1]

    R_int = R[is_int]
    gram_r = R_int.T @ R_int
    beta_r = solve_wls(gram_r, R_int.T @ ce[is_int])
    rhs = (R_int.T @ ce[is_int]) / pi + (R[~is_int].T @ (tilt[~is_int] * frac[~is_int])) / (
        1 - pi
    )
    beta_et = solve_wls(gram_r / pi, rhs)

    d = 1 + d_h + d_s + d_om + 1 + 2 * d_r
    scores = np.zeros((len(df), d))
    hess = np.zeros((d, d))
    scores[:, 0] = a - p_s
    hess[0, 0] = p_s * (1 - p_s) * len(df)

    pos_h = slice(1, 1 + d_h)
    pos_s = slice(1 + d_h, 1 + d_h + d_s)
    pos_hs = slice(1, 1 + d_h + d_s)
    pos_om = slice(1 + d_h + d_s, 1 + d_h + d_s + d_om)
    i_pi = 1 + d_h + d_s + d_om
    pos_r = slice(i_pi + 1, i_pi + 1 + d_r)
    pos_et = slice(i_pi + 1 + d_r, d)

    resid = y - X_hs @ beta_hs
    wres = w * resid
    scores[:, pos_hs] = wres[:, None] * X_hs
    hess[pos_hs, pos_hs] = gram_hs
    hess[pos_hs, 0] = _cross3_np(X_hs, S, wres, ce, p_s, p_s_a, a, w, d_h)

    rho = pi / (1 - pi)
    p_om = rho * raw_tilt / (1 + rho * raw_tilt)
    scores[:, pos_om] = (i_f - p_om)[:, None] * X_om
    hess[pos_om, pos_om] = (X_om * (p_om * (1 - p_om))[:, None]).T @ X_om

    scores[:, i_pi] = i_f - pi
    hess[i_pi, i_pi] = len(df)

    r_resid = y_tilde - R @ beta_r
    scores[is_int, pos_r] = (r_resid[is_int])[:, None] * R_int
    hess[pos_r, pos_r] = gram_r
    hess.__setitem__((pos_r, pos_h), R_int.T @ (X_h[is_int] / denom[is_int, None]))
    hess.__setitem__(
        (pos_r, pos_s),
        R_int.T
        @ ((a_c[is_int, None] * S[is_int]) / denom[is_int, None] - S[is_int]),
    )

    et_resid = ce - R @ beta_et
    core = e_f * tilt * (y - f_a) / (denom * (1 - pi)) + i_f * et_resid / pi
    scores[:, pos_et] = core[:, None] * R
    hess[pos_et, pos_et] = gram_r / pi
    ext = ~is_int
    hess.__setitem__(
        (pos_et, pos_om),
        -(R[ext].T @ ((tilt[ext] * frac[ext])[:, None] * X_om[ext])) / (1 - pi),
    )
    hess.__setitem__(
        (pos_et, pos_h),
        (R[ext].T @ ((tilt[ext] / denom[ext])[:, None] * X_h[ext])) / (1 - pi),
    )
    hess.__setitem__(
        (pos_et, pos_s),
        (R[ext].T @ ((tilt[ext] / denom[ext])[:, None] * (a_c[ext, None] * S[ext])))
        / (1 - pi)
        - (R_int.T @ S[is_int]) / pi,
    )
    hess[pos_et, i_pi] = (
        ((-((1 - pi) ** -2)) * e_f * tilt * frac + (pi**-2) * i_f * et_resid)[:, None]
        * R
    ).sum(axis=0)

    sand = _sandwich_np(scores, hess, user, d)
    idx = np.r_[np.arange(i_pi + 1, i_pi + 1 + d_r), np.arange(i_pi + 1 + d_r, d)]
    var4 = sand[np.ix_(idx, idx)]
    b_p, v_p = pool_full(np.concatenate([beta_r, beta_et]), var4, 2)
    return LocalFit(b_p, se_from_var(v_p), v_p, tilt_warning=warn, n=len(df), p=d)


def awcls_np(df: pd.DataFrame) -> LocalFit:
    """A-WCLS — assisted WCLS (awcls.R:92-183; reference flags it
    'not checked thoroughly'; kept for surface completeness).

    WCLS stage + auxiliary cubic regression x2 ~ poly(x1,3) on internal
    rows; β_r = Γ β_s with Γ carrying the fitted γ; delta-method
    variance J V Jᵀ (awcls.R:161-165). Replicates the reference's own
    conventions here: block clustering by consecutive t_max rows and
    small-sample factor n/(n−d) (awcls.R:75-84)."""
    X_h, S, R = _designs(df)
    y, a = df["y"].to_numpy(), df["a"].to_numpy()
    p_h_a = df["p_h_a"].to_numpy()
    is_int = df["is_internal"].to_numpy().astype(bool)
    x1, x2 = df["x1"].to_numpy(), df["x2"].to_numpy()

    p_s = a.mean()
    a_c = a - p_s
    p_s_a = a * p_s + (1 - a) * (1 - p_s)
    w = p_s_a / p_h_a

    X_hs = np.column_stack([X_h, a_c[:, None] * S])
    d_h, d_s = X_h.shape[1], S.shape[1]
    gram_hs = (X_hs * w[:, None]).T @ X_hs
    beta_hs = solve_wls(gram_hs, (X_hs * w[:, None]).T @ y)
    beta_s = beta_hs[d_h:]

    X_g = np.column_stack([np.ones(is_int.sum()), x1[is_int], x1[is_int] ** 2, x1[is_int] ** 3])
    gram_g = X_g.T @ X_g
    gamma = solve_wls(gram_g, X_g.T @ x2[is_int])
    d_r = X_g.shape[1]
    Gamma = np.column_stack(
        [np.array([1.0, 0, 0, 0]), np.array([0, 1.0, 0, 0]), gamma]
    )
    beta_r = Gamma @ beta_s

    n = len(df)
    d = 1 + d_h + d_s + d_r
    scores = np.zeros((n, d))
    hess = np.zeros((d, d))
    scores[:, 0] = a - p_s
    hess[0, 0] = p_s * (1 - p_s) * n
    pos_hs = slice(1, 1 + d_h + d_s)
    pos_g = slice(1 + d_h + d_s, d)

    resid = y - X_hs @ beta_hs
    wres = w * resid
    scores[:, pos_hs] = wres[:, None] * X_hs
    hess[pos_hs, pos_hs] = gram_hs
    hess[pos_hs, 0] = _cross3_np(X_hs, S, wres, S @ beta_s, p_s, p_s_a, a, w, d_h)

    g_resid = x2[is_int] - X_g @ gamma
    scores[is_int, pos_g] = g_resid[:, None] * X_g
    hess[pos_g, pos_g] = gram_g

    # awcls.R:75-84: block clustering by t_max consecutive rows and an
    # n/(n−d) (row-count) small-sample factor.
    n_users = int(df["user_id"].max())
    t_max = n // n_users
    blocks = np.arange(n) // t_max
    agg = pd.DataFrame(scores).groupby(blocks).sum().to_numpy()
    meat = agg.T @ agg
    half = np.linalg.solve(hess, np.linalg.cholesky(meat))
    sand = half @ half.T * n / (n - d)

    pos_theta = np.arange(1 + d_h, d)
    var_theta = sand[np.ix_(pos_theta, pos_theta)]
    J = np.column_stack([Gamma, beta_s[2] * np.eye(d_r)])
    var_r = J @ var_theta @ J.T
    return LocalFit(beta_r, se_from_var(var_r), var_r, n=n, p=d)


def petwcls_np(df: pd.DataFrame) -> LocalFit:
    """PET-WCLS (petwcls.R:141-264)."""
    X_h, S, R = _designs(df)
    y, a = df["y"].to_numpy(), df["a"].to_numpy()
    p_h_a = df["p_h_a"].to_numpy()
    is_int = df["is_internal"].to_numpy().astype(bool)
    i_f, e_f = is_int.astype(float), (~is_int).astype(float)
    user = df["user_id"].to_numpy()
    x1 = df["x1"].to_numpy()

    p_s = a.mean()
    a_c = a - p_s
    p_s_a = a * p_s + (1 - a) * (1 - p_s)
    w = p_s_a / p_h_a

    omega, X_om, warn, pi = _tilt_ladder_np(x1, df["x2"].to_numpy(), is_int)
    raw_tilt = np.exp(X_om @ omega)
    tilt = np.where(is_int, 1.0, raw_tilt)
    w_t = w * tilt
    d_om = X_om.shape[1]

    X_hs = np.column_stack([X_h, a_c[:, None] * S])
    d_h, d_s, d_r = X_h.shape[1], S.shape[1], R.shape[1]
    gram_hs = (X_hs * w[:, None]).T @ X_hs
    beta_hs = solve_wls(gram_hs, (X_hs * w[:, None]).T @ y)
    beta_s = beta_hs[d_h:]
    ce = S @ beta_s

    eraw = np.column_stack([i_f, i_f * x1, e_f, e_f * x1])
    d_et = eraw.shape[1]
    X_hr = np.column_stack([X_h, a_c[:, None] * eraw])
    gram_hr = (X_hr * w_t[:, None]).T @ X_hr
    beta_hr = solve_wls(gram_hr, (X_hr * w_t[:, None]).T @ y)
    beta_rw = beta_hr[d_h:]

    R_int = R[is_int]
    gram_r = R_int.T @ R_int
    beta_r = solve_wls(gram_r, R_int.T @ ce[is_int])

    d = 1 + d_om + d_h + d_s + d_h + d_et + d_r
    scores = np.zeros((len(df), d))
    hess = np.zeros((d, d))
    scores[:, 0] = a - p_s
    hess[0, 0] = p_s * (1 - p_s) * len(df)

    pos_om = slice(1, 1 + d_om)
    pos_hs = slice(1 + d_om, 1 + d_om + d_h + d_s)
    pos_s = slice(1 + d_om + d_h, 1 + d_om + d_h + d_s)
    pos_hr = slice(1 + d_om + d_h + d_s, 1 + d_om + d_h + d_s + d_h + d_et)
    pos_r = slice(d - d_r, d)

    rho = pi / (1 - pi)
    p_om = rho * raw_tilt / (1 + rho * raw_tilt)
    scores[:, pos_om] = (i_f - p_om)[:, None] * X_om
    hess[pos_om, pos_om] = (X_om * (p_om * (1 - p_om))[:, None]).T @ X_om

    resid_hs = y - X_hs @ beta_hs
    wres_hs = w * resid_hs
    scores[:, pos_hs] = wres_hs[:, None] * X_hs
    hess[pos_hs, pos_hs] = gram_hs
    hess[pos_hs, 0] = _cross3_np(X_hs, S, wres_hs, ce, p_s, p_s_a, a, w, d_h)

    resid_hr = y - X_hr @ beta_hr
    wres_hr = w_t * resid_hr
    scores[:, pos_hr] = wres_hr[:, None] * X_hr
    hess[pos_hr, pos_hr] = gram_hr
    hess[pos_hr, 0] = _cross3_np(
        X_hr, eraw, wres_hr, eraw @ beta_rw, p_s, p_s_a, a, w_t, d_h
    )
    hess.__setitem__(
        (pos_hr, pos_om), -(X_hr * (e_f * wres_hr)[:, None]).T @ X_om
    )

    r_resid = ce - R @ beta_r
    scores[is_int, pos_r] = (r_resid[is_int])[:, None] * R_int
    hess[pos_r, pos_r] = gram_r
    hess.__setitem__((pos_r, pos_s), -(R_int.T @ S[is_int]))

    sand = _sandwich_np(scores, hess, user, d)
    start_rw = 1 + d_om + d_h + d_s + d_h
    idx = np.r_[np.arange(start_rw, start_rw + d_et), np.arange(d - d_r, d)]
    var6 = sand[np.ix_(idx, idx)]
    b_p, v_p = pool_full(np.concatenate([beta_rw, beta_r]), var6, 3)
    return LocalFit(b_p, se_from_var(v_p), v_p, tilt_warning=warn, n=len(df), p=d)
