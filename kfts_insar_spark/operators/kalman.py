"""Per-doc Kalman smoother with bounded state, gap-fill, and retention —
the analytics kernel (SURVEY.md §2.5 W1-W3, §2.10).

Re-expresses the reference's per-pixel recursion
(/root/reference/kf/KF_class.py: predict :251-267, update :269-307,
state compaction ``reduce_sizes_m_P`` :337-378, main loop ``kf`` :468-580)
as a **batch-vectorized numpy kernel inside applyInPandas**: docs are grouped
into hash buckets (whole groups guaranteed by applyInPandas), pivoted to a
(B docs × M steps) matrix, and the recursion runs once per *step* with all
B docs advanced simultaneously via batched linear algebra. This works because
the state-size evolution (grow by one phase per step, compact to the last
``t_sep`` phases once ``k >= t_sep``) depends only on k, never on the data —
so every doc in the batch shares matrix shapes at every step.

Semantics preserved from the reference:
- state = [L model params | trailing phases], first phase pinned to 0
  (``start_new``, kf/KF_class.py:129-137);
- predict appends the *model forecast* as the new phase: A = [[I],[basis(t_k)]]
  (``create_A``, kf/timefunction.py:299-312);
- process noise Q = diag(m_err·I_L, phi_err·I_phases, add_err on the newest
  phase) (``create_Q``, kf/KF_class.py:154-180);
- a step with no usable observation returns the forecast with inflated
  variance — the gap-fill (kf/KF_class.py:280-283);
- compaction archives phases older than ``t_sep`` with std = sqrt(|diag P|),
  dropping covariance cross-terms (kf/KF_class.py:337-378). The reference's
  ``(k%5==0) or (k_end-1)`` condition is always truthy (SURVEY.md §4) — i.e.
  compaction runs EVERY step; we implement that actual behavior.

Two kernels:
- :func:`kalman_direct_batch` — scalar observation per (doc, step): the hot
  path for gap-filling the rolled-up token-count series. Fully vectorized
  across docs; a gap is a masked update (K := 0), which is *algebraically
  identical* to the reference's skip-update branch.
- :func:`kalman_pairs_doc` — observations are differences over an incidence
  edge list (the interferogram case, ``create_H_R_and_D``
  kf/KF_class.py:182-248): exact reference semantics per doc, used by the
  reconstruction golden tests.

Scale notes: one shuffle on the doc-hash bucket; state is O((L+t_sep)²) per
doc (reference bound: kfts.py:413, t_sep ≤ 10) → ~2 KB/doc; Arrow batches of
~10⁴ docs × 10² steps keep the Python-side work per task in vectorized numpy.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.basis import (
    Model,
    basis_matrix,
    basis_row,
    n_params,
    param_schedule,
    resolve_model,
)


def _arrival_steps(model: Model, t: np.ndarray, dt: float) -> np.ndarray:
    """Per-param first live step for lazy growth: 0 for always-live params,
    else the first k with t[k] >= event_time − dt − width_allowance (the
    reference's ``expend_model`` trigger, kf/timefunction.py:487-557)."""
    sched = param_schedule(model)
    arr = np.zeros(len(sched), dtype=np.int64)
    for j, ev in enumerate(sched):
        if ev is not None:
            te, wd = ev
            arr[j] = int(np.searchsorted(t, te - dt - wd, side="left"))
    return arr
from ..schema import KF_OUTPUT, KF_STATE


@dataclass(frozen=True)
class KFConfig:
    """Noise/model config — mirrors the INI [KALMAN FILTER SETUP] section
    (reference kfts.py:48-130)."""

    model: Model = field(default_factory=lambda: [("POLY", 1)])
    sig_y: float = 10.0  # mismodeling std (kfts.py sig_y)
    sig_i: float = 0.1  # observation std
    sig_a: float = 25.0  # a-priori param std (P0 = sig_a² I)
    m_err: float = 0.0  # process noise on params
    phi_err: float = 0.0  # process noise on archived phases
    t_sep: int = 4  # phases kept in state (reference default 6, cap 10)
    # lazy model growth (reference expend_model/expend_m_P,
    # kf/timefunction.py:487-557 + kf/KF_class.py:381-402,544-550): event
    # params enter the state only once event_time <= t + grow_dt (+width),
    # with a-priori variance grow_var (the reference hardcodes 70²)
    grow_dt: float | None = None
    grow_var: float = 4900.0
    # in-loop quality gate (reference ``check_fit``, kf/KF_class.py:319-333:
    # covariance-weighted post-fit residual res = Cres⁻¹·(y − H·X_analysed)
    # with Cres = R + H·P_analysed·Hᵀ, warned when |mean| > eps_interf).
    # Here the scalar residual's trailing mean over the last ``check_win``
    # observed steps is compared to ``check_eps``; the kernel emits a
    # per-doc flag + worst score instead of printing (the engine form of
    # the reference's only in-loop quality gate). ``None`` disables the
    # gate entirely — matching the reference, where check_fit runs only
    # under ``verbose`` (KF_class.py:303-304); the hot gap-fill path
    # stays gate-free by default.
    check_eps: float | None = None  # reference eps_interf default is 10
    check_win: int = 5

    @property
    def L(self) -> int:
        return n_params(self.model)

    @property
    def add_err(self) -> float:
        # variance inflation on the newest (forecast) phase = sig_y²
        # (reference kfts.py:344: add_err = sig_y**2)
        return self.sig_y**2


def kalman_direct_batch(
    values: np.ndarray,
    t: np.ndarray,
    cfg: KFConfig,
    init: dict | None = None,
    p0_diag: np.ndarray | None = None,
) -> dict[str, np.ndarray]:
    """Run the bounded-state KF over a (B, M) batch of series with NaN gaps.

    ``init`` resumes from a committed state snapshot (the reference's update
    mode, ``restart_from_file`` kf/KF_class.py:70-116): dict with keys
    X (B,n), P (B,n,n), idx0, k_done. Steps < idx0 were archived by the
    previous run and are not re-emitted; steps idx0..k_done−1 (the overlap
    still in state, reference ``tshift`` kf/readinput.py:539-541) are
    re-emitted with their refined values.

    ``p0_diag`` (B, L) overrides the a-priori parameter variances PER DOC —
    the earthquake-prior patch (reference ``earthquakeIntegration``,
    kfts.py:172-220: a thresholded Gaussian of the event amplitude around
    the epicentre; zero variance pins the param — "not optimized"). Applies
    at fresh init and to lazily-grown params.

    Returns dict with phase (B,M), std (B,M), innov (B,M), gap (B,M bool),
    m (B, n) final state, P (B, n, n) final covariance, idx0, k_done.
    """
    values = np.asarray(values, dtype=np.float64)
    if values.shape[0] == 1:
        # numpy's einsum/matmul take another SIMD path for a size-1 batch
        # axis, which changes the last ulps (up to 1.5e-11 in phase): run
        # the doc as a two-row batch so a doc's bits do not depend on how
        # many docs share its batch (resumed and rebuild runs emit B=1)
        def two(a):
            return None if a is None else np.repeat(np.asarray(a), 2, axis=0)

        if init is not None:
            init = {**init, "X": two(init["X"]), "P": two(init["P"])}
        res = kalman_direct_batch(two(values), t, cfg, init, two(p0_diag))
        for k in ("phase", "std", "innov", "gap", "m", "P", "fit_flag", "fit_max"):
            res[k] = res[k][:1]
        return res
    B, M = values.shape
    L, ts = cfg.L, cfg.t_sep
    R = cfg.sig_i**2
    model = resolve_model(cfg.model, t)

    phase = np.full((B, M), np.nan)
    std = np.full((B, M), np.nan)
    innov = np.full((B, M), np.nan)
    gap = np.zeros((B, M), dtype=bool)

    # lazy model growth: per-param first live step (all 0 when disabled)
    grow = cfg.grow_dt is not None
    arr = (
        _arrival_steps(model, t, cfg.grow_dt)
        if grow
        else np.zeros(L, dtype=np.int64)
    )

    if init is not None:
        X = np.array(init["X"], dtype=np.float64)
        P = np.array(init["P"], dtype=np.float64)
        idx0 = int(init["idx0"])
        k_start = int(init["k_done"])
        n = X.shape[1]
        live = arr <= max(0, k_start - 1)
        L_live = int(live.sum())
        if L_live != n - (k_start - idx0):
            raise ValueError(
                "state width inconsistent with the model's growth schedule"
            )
    else:
        # init: params 0 with variance sig_a², phase_0 pinned to 0 (variance 0)
        live = arr == 0
        L_live = int(live.sum())
        n = L_live + 1
        X = np.zeros((B, n))
        P = np.zeros((B, n, n))
        dl = np.arange(L_live)
        if p0_diag is not None:
            P[:, dl, dl] = np.asarray(p0_diag, dtype=np.float64)[:, live]
        else:
            P[:, dl, dl] = cfg.sig_a**2
        # observation at step 0 defines the datum: phase_0 ≡ 0 exactly
        phase[:, 0] = 0.0
        std[:, 0] = 0.0
        idx0 = 0  # step index of the first phase currently in state
        k_start = 1

    bas = basis_matrix(model, t)  # (M, L)

    # Single persistent state buffer sized to the steady-state maximum
    # (L + t_sep + 1, right before compaction). The naive formulation
    # allocates ~10 fresh (B,n,n) arrays per step → tens of GB of page-
    # zeroing churn per task (measured as 90% kernel-time CPU with 32
    # workers); and even a ping-pong copy of P per step doubles memory
    # traffic — the kernel is bandwidth-bound at high core counts. All
    # updates below are strictly in place; compaction shifts through small
    # scratch blocks to avoid overlapping copies.
    n_max = max(n, L + ts) + 1
    Xb = np.zeros((B, n_max))
    Pb = np.zeros((B, n_max, n_max))
    Xb[:, :n] = X
    Pb[:, :n, :n] = P
    Cbuf = np.empty((B, n_max))
    Klast = np.empty((B, n_max))
    rowbuf = np.empty((B, n_max))
    scr = np.empty((B, n_max, n_max))
    X, P = Xb, Pb

    L_trace = np.full(M, -1, dtype=np.int32)

    # LISEG a-priori adjustment schedule (reference adjust_apriori):
    # at flagged steps the next segment's slope re-inits from the previous
    # segment's current estimate, before the predict
    lsteps, l1, l2 = liseg_adjust_schedule(model, t)

    # check_fit state: ring buffer of the last check_win observed weighted
    # post-fit residuals per doc (only when the gate is enabled — the
    # reference computes this under `verbose` only)
    check = cfg.check_eps is not None
    W = max(1, int(cfg.check_win))
    if check:
        rbuf = np.full((B, W), np.nan)
        wpos = np.zeros(B, dtype=np.int64)
    fit_flag = np.zeros(B, dtype=bool)
    fit_max = np.zeros(B)

    for k in range(k_start, M):
        # ---- lazy growth: event params whose time is within grow_dt of
        # t[k] enter the state (zero mean, grow_var variance, inserted at
        # their model-order position — reference expend_m_P)
        if grow and L_live < L:
            for j in np.flatnonzero((arr <= k) & ~live):
                pos = int(live[:j].sum())
                ln = n - pos
                t1 = scr[:, 0, :ln]
                t1[:] = X[:, pos:n]
                X[:, pos + 1 : n + 1] = t1
                X[:, pos] = 0.0
                t2 = scr[:, :ln, :n]
                t2[:] = P[:, pos:n, :n]
                P[:, pos + 1 : n + 1, :n] = t2
                P[:, pos, : n + 1] = 0.0
                t3 = scr[:, : n + 1, :ln]
                t3[:] = P[:, : n + 1, pos:n]
                P[:, : n + 1, pos + 1 : n + 1] = t3
                P[:, : n + 1, pos] = 0.0
                P[:, pos, pos] = (
                    np.asarray(p0_diag, dtype=np.float64)[:, j]
                    if p0_diag is not None
                    else cfg.grow_var
                )
                live[j] = True
                L_live += 1
                n += 1

        # ---- LISEG segment hand-off (kf/KF_class.py:523-525): mean-only
        # substitution m[i2] = m[i1], full-model indices mapped to live
        # positions (LISEG params are always live; growth inserts shift them)
        if k in lsteps:
            posmap = np.cumsum(live) - 1
            X[:, posmap[l2]] = X[:, posmap[l1]]

        b = bas[k][live] if grow else bas[k]  # (L_live,)
        # ---- predict: append model-forecast phase (blocked A = [[I],[b,0…]])
        # C/v_new from pre-Q P (== A P Aᵀ border), then Q on the diagonal
        C = Cbuf[:, :n]
        np.einsum("l,bln->bn", b, P[:, :L_live, :n], out=C)  # cov(new, state)
        v_new = np.einsum("l,blm,m->b", b, P[:, :L_live, :L_live], b) + cfg.add_err
        np.matmul(X[:, :L_live], b, out=X[:, n])
        if cfg.m_err:
            dl = np.arange(L_live)
            P[:, dl, dl] += cfg.m_err
        if cfg.phi_err:
            P[:, np.arange(L_live, n), np.arange(L_live, n)] += cfg.phi_err
        P[:, n, :n] = C
        P[:, :n, n] = C
        P[:, n, n] = v_new
        n += 1

        # ---- update: scalar obs y_k on the newest phase (H = e_last)
        y = values[:, k]
        obs = np.isfinite(y)
        nobs = ~obs  # hoisted: used three times below
        nu = np.where(obs, y - X[:, n - 1], np.nan)
        S = P[:, n - 1, n - 1] + R  # (B,)
        K = Klast[:, :n]
        np.divide(P[:, :n, n - 1], S[:, None], out=K)
        K[nobs] = 0.0  # gap → no update (== reference forecast-only branch)
        last_row = rowbuf[:, :n]
        last_row[:] = P[:, n - 1, :n]  # copy before in-place P update
        X[:, :n] += K * np.where(obs, nu, 0.0)[:, None]
        prod = scr[:, :n, :n]
        np.multiply(K[:, :, None], last_row[:, None, :], out=prod)
        P[:, :n, :n] -= prod
        innov[:, k] = nu
        gap[:, k] = nobs

        # ---- check_fit (reference kf/KF_class.py:319-333): weighted
        # POST-fit residual against the analysed state/covariance
        if check:
            oi = np.flatnonzero(obs)
            if oi.size:
                r_post = (y[oi] - X[oi, n - 1]) / (P[oi, n - 1, n - 1] + R)
                rbuf[oi, wpos[oi] % W] = r_post
                wpos[oi] += 1
                mean_r = np.abs(np.nanmean(rbuf[oi], axis=1))
                fit_flag[oi] |= mean_r > cfg.check_eps
                fit_max[oi] = np.maximum(fit_max[oi], mean_r)

        # ---- compaction every step (reference's always-true condition)
        if k >= ts:
            n_drop = (n - L_live) - ts
            if n_drop == 1:
                # steady-state fast path: one archived phase per step.
                # Same stores as the general branch below, with scalar
                # indexing instead of arange/fancy-index temporaries — the
                # loop is numpy-dispatch-bound on long grids (59 us/step at
                # B=5; this path removes 5 allocations per step).
                phase[:, idx0] = X[:, L_live]
                std[:, idx0] = np.sqrt(np.abs(P[:, L_live, L_live]))
                nk = n - 1
                t1 = scr[:, 0, :ts]
                t1[:] = X[:, L_live + 1 : n]
                X[:, L_live:nk] = t1
                t2 = scr[:, :n, :ts]
                t2[:] = P[:, :n, L_live + 1 : n]
                P[:, :n, L_live:nk] = t2
                t3 = scr[:, :ts, :nk]
                t3[:] = P[:, L_live + 1 : n, :nk]
                P[:, L_live:nk, :nk] = t3
                idx0 += 1
                n = nk
            elif n_drop > 0:
                steps = np.arange(idx0, idx0 + n_drop)
                phase[:, steps] = X[:, L_live : L_live + n_drop]
                dvar = P[
                    :,
                    np.arange(L_live, L_live + n_drop),
                    np.arange(L_live, L_live + n_drop),
                ]
                std[:, steps] = np.sqrt(np.abs(dvar))
                nk = n - n_drop
                # shift kept phases up/left via scratch (overlap-safe)
                t1 = scr[:, 0, :ts]
                t1[:] = X[:, L_live + n_drop : n]
                X[:, L_live:nk] = t1
                t2 = scr[:, :n, :ts]
                t2[:] = P[:, :n, L_live + n_drop : n]
                P[:, :n, L_live:nk] = t2
                t3 = scr[:, :ts, :nk]
                t3[:] = P[:, L_live + n_drop : n, :nk]
                P[:, L_live:nk, :nk] = t3
                idx0 += n_drop
                n = nk
        L_trace[k] = L_live

    X = Xb[:, :n].copy()
    P = Pb[:, :n, :n].copy()

    # ---- flush remaining phases (reference kf() epilogue, KF_class.py:561-565)
    # state (X, P) is NOT modified by the flush — it remains resumable
    rem = n - L_live
    steps = np.arange(idx0, idx0 + rem)
    phase[:, steps] = X[:, L_live:]
    pv = P[:, np.arange(L_live, n), np.arange(L_live, n)]
    std[:, steps] = np.sqrt(np.abs(pv))

    return {
        "phase": phase,
        "std": std,
        "innov": innov,
        "gap": gap,
        "m": X,
        "P": P,
        "idx0": idx0,
        "k_done": M,
        "L_trace": L_trace,
        "fit_flag": fit_flag,
        "fit_max": fit_max,
    }


# --------------------------------------------------------------------------
# Independent dense oracle — deliberately written with explicit A/Q/H
# matrices and np.linalg, mirroring the reference line-by-line, to validate
# the blocked batch kernel above. Test-only; never in the hot path.
# --------------------------------------------------------------------------
def kalman_direct_oracle(
    y: np.ndarray,
    t: np.ndarray,
    cfg: KFConfig,
    p0_diag: np.ndarray | None = None,
) -> dict[str, np.ndarray]:
    y = np.asarray(y, dtype=np.float64)
    M = len(y)
    L, ts = cfg.L, cfg.t_sep
    model = resolve_model(cfg.model, t)  # grid-dependent spline norms
    phase = np.full(M, np.nan)
    std = np.full(M, np.nan)
    innov = np.full(M, np.nan)

    grow = cfg.grow_dt is not None
    arr = (
        _arrival_steps(model, t, cfg.grow_dt)
        if grow
        else np.zeros(L, dtype=np.int64)
    )
    live = arr == 0
    L_live = int(live.sum())

    m = np.zeros(L_live + 1)  # live params + phase0 (pinned 0)
    if p0_diag is not None:
        P = np.diag(list(np.asarray(p0_diag, dtype=np.float64)[live]) + [0.0])
    else:
        P = np.diag([cfg.sig_a**2] * L_live + [0.0])
    idx0 = 0
    phase[0], std[0] = 0.0, 0.0
    L_trace = np.full(M, -1, dtype=np.int32)

    # check_fit, explicit-matrix form (reference kf/KF_class.py:319-333)
    fit_res: list[float] = []
    fit_flag = False
    fit_max = 0.0

    lsteps, l1, l2 = liseg_adjust_schedule(model, t)

    for k in range(1, M):
        if grow:
            for j in np.flatnonzero((arr <= k) & ~live):
                pos = int(live[:j].sum())
                m = np.insert(m, pos, 0.0)
                P = np.insert(np.insert(P, pos, 0.0, axis=0), pos, 0.0, axis=1)
                P[pos, pos] = (
                    float(p0_diag[j]) if p0_diag is not None else cfg.grow_var
                )
                live[j] = True
                L_live += 1
        # LISEG segment hand-off (kf/KF_class.py:523-525), mean-only.
        # NON-CHAINED like the reference's vectorized m[i2] = m[i1] (the
        # RHS is evaluated before any assignment): fancy indexing copies
        # all sources first, so with >= 2 pairs firing at one step the
        # second pair reads the ORIGINAL m[l1[1]], not the value pair
        # one just substituted. A sequential Python loop would chain.
        if k in lsteps:
            posmap = np.cumsum(live) - 1
            m[posmap[l2]] = m[posmap[l1]]
        n = len(m)
        A = np.vstack([np.eye(n), np.zeros(n)])
        A[n, :L_live] = basis_row(model, float(t[k]))[live]
        Q = np.diag([cfg.m_err] * L_live + [cfg.phi_err] * (n + 1 - L_live))
        Q[-1, -1] = cfg.add_err
        mf = A @ m
        Pf = A @ P @ A.T + Q

        if np.isfinite(y[k]):
            H = np.zeros((1, n + 1))
            H[0, -1] = 1.0
            nu = y[k] - (H @ mf)[0]
            S = np.array([[cfg.sig_i**2]]) + H @ Pf @ H.T
            K = Pf @ H.T @ np.linalg.inv(S)
            m = mf + (K @ [[nu]]).ravel()
            P = Pf - K @ H @ Pf
            innov[k] = nu
            if cfg.check_eps is not None:
                # Cres = R + H P Hᵀ on the ANALYSED covariance; residual
                # on the analysed state — exactly the reference check_fit
                Cres = np.array([[cfg.sig_i**2]]) + H @ P @ H.T
                res = float(
                    (np.linalg.inv(Cres) @ [[y[k] - (H @ m)[0]]])[0, 0]
                )
                fit_res.append(res)
                mean_r = abs(
                    float(np.mean(fit_res[-max(1, int(cfg.check_win)):]))
                )
                fit_flag = fit_flag or mean_r > cfg.check_eps
                fit_max = max(fit_max, mean_r)
        else:
            m, P = mf, Pf

        if k >= ts:
            n_drop = (len(m) - L_live) - ts
            if n_drop > 0:
                for d in range(n_drop):
                    phase[idx0 + d] = m[L_live + d]
                    std[idx0 + d] = np.sqrt(abs(P[L_live + d, L_live + d]))
                keep = list(range(L_live)) + list(range(L_live + n_drop, len(m)))
                m = m[keep]
                P = P[np.ix_(keep, keep)]
                idx0 += n_drop
        L_trace[k] = L_live

    for d in range(len(m) - L_live):
        phase[idx0 + d] = m[L_live + d]
        std[idx0 + d] = np.sqrt(abs(P[L_live + d, L_live + d]))
    return {
        "phase": phase,
        "std": std,
        "innov": innov,
        "m": m,
        "P": P,
        "L_trace": L_trace,
        "fit_flag": fit_flag,
        "fit_max": fit_max,
    }


def liseg_adjust_schedule(
    model: Model, t: np.ndarray
) -> tuple[set, np.ndarray, np.ndarray]:
    """The LISEG a-priori adjustment schedule (reference ``adjust_apriori``,
    kfts.py:222-249 + its consumer kf/KF_class.py:523-525): for each LISEG
    element with ≥ 2 slopes, flag the first grid step strictly after each
    segment boundary from the second one on, pairing the previous
    segment's slope index with the next's. At a flagged step the filter
    sets m[i2] = m[i1] BEFORE the predict — the next segment's slope
    starts from the previous segment's current estimate instead of the
    null init (the reference's covariance substitution is commented out
    there; we replicate the shipped mean-only form, including the quirk
    that ALL pairs re-substitute at EVERY flagged time).

    Returns (flag_steps, i1, i2) with i1/i2 FULL-MODEL param indices
    (mapped to live positions at run time when lazy growth is active)."""
    base = 0
    steps: set = set()
    l1: list[int] = []
    l2: list[int] = []
    t = np.asarray(t, dtype=np.float64)
    for mod in model:
        if mod[0] == "LISEG":
            idx = list(range(base, base + len(mod)))
            if len(idx) > 2:
                for i, tb in enumerate(mod[2:]):
                    after = np.flatnonzero(t > float(tb))
                    if len(after) == 0:
                        continue
                    steps.add(int(after[0]))
                    l1.append(idx[i + 1])
                    l2.append(idx[i + 2])
        base += n_params([mod])
    return steps, np.asarray(l1, dtype=np.int64), np.asarray(l2, dtype=np.int64)


def liseg_prior_columns(model: Model, sig_a: float, seg_sigmas: list):
    """Per-doc a-priori variance array for LISEG models feeding the
    kernel's ``p0_diag`` (the LISEG counterpart of
    :func:`earthquake_prior_columns`; reference per-param ``sig_a`` list,
    kfts.py:117-129,211): non-LISEG params keep sig_a²; within each LISEG
    element the constant a0 keeps sig_a² and segment slope j takes
    ``seg_sigmas[j]²``. A ZERO sigma pins that segment's slope at its
    initialization ("parameter not optimized" — same convention as the
    earthquake prior's sub-threshold zeros). Entries are floats or
    Columns (per-doc priors — the J4 broadcast shape)."""
    from pyspark.sql import Column

    cols = []
    for mod in model:
        if mod[0] == "LISEG":
            nseg = len(mod) - 1
            cols.append(F.lit(float(sig_a) ** 2))  # the constant a0
            for j in range(nseg):
                s = seg_sigmas[j]
                s = s if isinstance(s, Column) else F.lit(float(s))
                cols.append(s * s)
        else:
            cols.extend(
                F.lit(float(sig_a) ** 2) for _ in range(n_params([mod]))
            )
    return F.array(*cols)


def earthquake_prior_columns(
    model: Model, x, y, events: list[dict], sig_a: float
):
    """Per-doc a-priori variance array feeding the kernel's ``p0_diag`` —
    the earthquake-prior patch of P0 (reference ``earthquakeIntegration``,
    kfts.py:172-220 + kf/utils/earthquake2step.py:196-204).

    Base params keep sig_a²; each STEP event param gets the thresholded
    Gaussian amp²·exp(−((x0−x)² + (y0−y)²)/(2·width²)) around its
    epicentre, with values < 1 set to 0 ("parameter not optimized" for
    far docs — a zero prior pins the amplitude at 0). ``events`` is a list
    of {"x","y","amp","width"} dicts parallel to the model's STEP times in
    order. Pure Column expressions over the doc coordinates (x, y) —
    the tiny event table is plan-time metadata, the J4 broadcast shape.
    """
    cols = []
    ev = iter(events)
    for mod in model:
        kind = mod[0]
        if kind == "STEP":
            for _t0 in mod[1:]:
                e = next(ev)
                d2 = (F.lit(float(e["x"])) - x) * (F.lit(float(e["x"])) - x) + (
                    F.lit(float(e["y"])) - y
                ) * (F.lit(float(e["y"])) - y)
                g = F.lit(float(e["amp"]) ** 2) * F.exp(
                    -d2 / F.lit(2.0 * float(e["width"]) ** 2)
                )
                cols.append(F.when(g < 1.0, F.lit(0.0)).otherwise(g))
        else:
            cols.extend(
                F.lit(float(sig_a) ** 2) for _ in range(n_params([mod]))
            )
    return F.array(*cols)


def retire_params(
    X: np.ndarray, P: np.ndarray, model: Model, t_start: float, dtmax: float
) -> tuple[Model, np.ndarray, np.ndarray]:
    """Param retirement / state-TTL fold at restart (the reference's
    ``identify_outdated`` + ``remove_oldstuff``, kf/timefunction.py:559-664):
    STEP amplitudes of events older than ``t_start − dtmax`` are folded into
    the POLY constant term, removed from the state, and the constant is
    FIXED (its variance and covariances zeroed — treated as converged).

    X: (B, n) states, P: (B, n, n) covariances (batch across docs).
    Returns (reduced_model, X', P'). Reference no-op conditions replicated:
    a series starting earlier than dtmax keeps the full model.
    """
    X = np.atleast_2d(np.asarray(X, dtype=np.float64))
    P = np.asarray(P, dtype=np.float64)
    if P.ndim == 2:
        P = P[None]
    if t_start < dtmax:  # reference: "existing model agrees" (no-op)
        return model, X, P

    cst = None
    idx = 0
    drop: list[int] = []
    newmodel: Model = []
    for mod in model:
        k_el = n_params([mod])
        if mod[0] == "POLY" and cst is None:
            cst = idx
        if mod[0] == "STEP":
            keep_times = [
                t0 for i, t0 in enumerate(mod[1:]) if not t_start > t0 + dtmax
            ]
            drop.extend(
                idx + i
                for i, t0 in enumerate(mod[1:])
                if t_start > t0 + dtmax
            )
            if keep_times:
                newmodel.append(("STEP", *keep_times))
        else:
            newmodel.append(mod)
        idx += k_el
    if cst is None or not drop:
        return model, X, P

    dY = X[:, drop].sum(axis=1)
    keep = [j for j in range(X.shape[1]) if j not in drop]
    cst_new = cst - sum(1 for j in drop if j < cst)
    Xn = X[:, keep].copy()
    Pn = P[:, keep][:, :, keep].copy()
    Xn[:, cst_new] += dY
    Pn[:, cst_new, :] = 0.0
    Pn[:, :, cst_new] = 0.0
    return newmodel, Xn, Pn


# --------------------------------------------------------------------------
# Pairs mode — exact reference semantics (interferogram differences).
# Per doc; observation i at step t_plus is y_i = φ(t_plus) − φ(t_minus) + ε.
# --------------------------------------------------------------------------
def kalman_pairs_doc(
    pairs: np.ndarray,  # (N, 3): t_minus, t_plus, obs_value (NaN allowed)
    t: np.ndarray,
    cfg: KFConfig,
) -> dict[str, np.ndarray]:
    """Reference-faithful filter over an incidence edge list
    (``create_H_R_and_D`` kf/KF_class.py:182-248 with the constraint
    t_plus − t_minus ≤ t_sep, which the generators guarantee)."""
    M = len(t)
    L, ts = cfg.L, cfg.t_sep
    model = resolve_model(cfg.model, t)
    tm = pairs[:, 0].astype(int)
    tp = pairs[:, 1].astype(int)
    obs = pairs[:, 2].astype(np.float64)
    assert (tp - tm).max(initial=0) <= ts, "pair span exceeds t_sep"

    phase = np.full(M, np.nan)
    std = np.full(M, np.nan)
    innov = np.full(M, np.nan)

    m = np.zeros(L + 1)
    P = np.diag([cfg.sig_a**2] * L + [0.0])
    idx0 = 0
    phase[0], std[0] = 0.0, 0.0

    for k in range(1, M):
        n = len(m)
        A = np.vstack([np.eye(n), np.zeros(n)])
        A[n, :L] = basis_row(model, float(t[k]))
        Q = np.diag([cfg.m_err] * L + [cfg.phi_err] * (n + 1 - L))
        Q[-1, -1] = cfg.add_err
        mf = A @ m
        Pf = A @ P @ A.T + Q
        n += 1

        # measurement selection: pairs whose later epoch is exactly k and
        # whose value is finite (P5/P6 predicates, KF_class.py:201-206)
        sel = np.where((tp == k) & np.isfinite(obs))[0]
        if len(sel) > 0:
            nobs = len(sel)
            H = np.zeros((nobs, n))
            state_of = lambda s: L + (s - idx0)  # noqa: E731
            for r, i in enumerate(sel):
                H[r, state_of(tp[i])] = 1.0
                H[r, state_of(tm[i])] = -1.0
            D = obs[sel]
            Rm = np.eye(nobs) * cfg.sig_i**2
            nu = D - H @ mf
            S = Rm + H @ Pf @ H.T
            K = Pf @ H.T @ np.linalg.inv(S)
            m = mf + K @ nu
            P = Pf - K @ H @ Pf
            innov[k] = float(np.mean(nu))
        else:
            m, P = mf, Pf

        if k >= ts:
            n_drop = (len(m) - L) - ts
            if n_drop > 0:
                for d in range(n_drop):
                    phase[idx0 + d] = m[L + d]
                    std[idx0 + d] = np.sqrt(abs(P[L + d, L + d]))
                keep = list(range(L)) + list(range(L + n_drop, len(m)))
                m = m[keep]
                P = P[np.ix_(keep, keep)]
                idx0 += n_drop

    for d in range(len(m) - L):
        phase[idx0 + d] = m[L + d]
        std[idx0 + d] = np.sqrt(abs(P[L + d, L + d]))
    return {"phase": phase, "std": std, "innov": innov, "m": m, "P": P}


# --------------------------------------------------------------------------
# Spark operator: groupBy(doc-hash bucket).applyInPandas, kernel vectorized
# across all docs in the bucket. No per-row Python anywhere.
# --------------------------------------------------------------------------
def _fast_pivot(pdf: pd.DataFrame, M: int) -> tuple[np.ndarray, np.ndarray]:
    """(doc_id, step, value) long → (docs, (B, M) value matrix with NaN
    gaps). np.unique + fancy indexing: ~10× faster than pandas pivot_table,
    which dominated per-group time in profiling."""
    docs, codes = np.unique(pdf["doc_id"].to_numpy(), return_inverse=True)
    values = np.full((len(docs), M), np.nan)
    steps = pdf["step"].to_numpy(np.int64)
    v = pdf["value"].to_numpy(np.float64, na_value=np.nan)
    values[codes, steps] = v
    return docs, values


def kalman_gapfill(
    series: DataFrame,
    t_grid: np.ndarray,
    cfg: KFConfig | None = None,
    num_buckets: int = 128,
    emit_state: bool = False,
) -> DataFrame:
    """series(doc_id, step, t, value) → KF_OUTPUT rows (+ optionally state).

    ``num_buckets`` sizes the shuffle groups: each applyInPandas call gets
    ~n_docs/num_buckets whole docs and runs the batch kernel once. On a
    cluster, set num_buckets ≈ 2-4× total cores (same rule the reference's
    MPI split uses for rank count, kf/readinput.py:166-212).
    """
    cfg = cfg or KFConfig()
    t_grid = np.asarray(t_grid, dtype=np.float64)
    M = len(t_grid)
    out_schema = KF_STATE if emit_state else KF_OUTPUT

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        docs, values = _fast_pivot(pdf, M)
        res = kalman_direct_batch(values, t_grid, cfg)
        B = len(docs)
        if emit_state:
            return pd.DataFrame(
                {
                    "doc_id": docs,
                    "k_done": np.full(B, res["k_done"], dtype=np.int32),
                    "idx0": np.full(B, res["idx0"], dtype=np.int32),
                    "m": list(res["m"]),
                    "P": list(res["P"].reshape(B, -1)),
                }
            )
        return pd.DataFrame(
            {
                "doc_id": np.repeat(docs, M),
                "step": np.tile(np.arange(M, dtype=np.int32), B),
                "t": np.tile(t_grid, B),
                "phase": res["phase"].ravel(),
                "std": res["std"].ravel(),
                "innov": res["innov"].ravel(),
                "gap_filled": res["gap"].ravel(),
            }
        )

    bucketed = series.withColumn(
        "_b", F.pmod(F.xxhash64("doc_id"), F.lit(num_buckets))
    )
    return bucketed.groupBy("_b").applyInPandas(run, schema=out_schema)


def kalman_fit_flags(
    series: DataFrame,
    t_grid: np.ndarray,
    cfg: KFConfig | None = None,
    num_buckets: int = 128,
) -> DataFrame:
    """Per-doc in-loop quality gate (reference ``check_fit``,
    kf/KF_class.py:319-333): (doc_id, n_obs, fit_flag, fit_max) where
    fit_flag is True iff at ANY update step the |trailing mean| of the
    covariance-weighted post-fit residual over the last cfg.check_win
    observed steps exceeded cfg.check_eps, and fit_max is the worst such
    trailing mean — the engine's per-series misfit signal (the reference
    prints a warning per offending step instead).

    Same distribution shape as kalman_gapfill: doc-hash buckets → one
    batch-kernel run per group, per-doc scalar output (rows = docs)."""
    import dataclasses

    cfg = cfg or KFConfig()
    if cfg.check_eps is None:
        # this wrapper IS the quality gate — enable it with the
        # reference's eps_interf default when the caller didn't choose
        cfg = dataclasses.replace(cfg, check_eps=10.0)
    t_grid = np.asarray(t_grid, dtype=np.float64)
    M = len(t_grid)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        docs, values = _fast_pivot(pdf, M)
        res = kalman_direct_batch(values, t_grid, cfg)
        return pd.DataFrame(
            {
                "doc_id": docs,
                "n_obs": np.isfinite(values[:, 1:]).sum(axis=1).astype(np.int64),
                "fit_flag": res["fit_flag"],
                "fit_max": res["fit_max"],
            }
        )

    bucketed = series.withColumn(
        "_b", F.pmod(F.xxhash64("doc_id"), F.lit(num_buckets))
    )
    return bucketed.groupBy("_b").applyInPandas(
        run, schema="doc_id string, n_obs long, fit_flag boolean, fit_max double"
    )


def kalman_gapfill_aligned(
    series: DataFrame,
    t_grid: np.ndarray,
    cfg: KFConfig | None = None,
    emit_state: bool = False,
) -> DataFrame:
    """Shuffle-free KF over doc-aligned input — the 100 TB fast path.

    When the input table is written bucketed/sorted by doc_id (Iceberg
    ``bucket(doc_id)`` partitioning — rows of one doc never straddle a file/
    partition boundary), the grouped-map shuffle in :func:`kalman_gapfill` is
    pure overhead: mapInPandas processes each partition's docs in place.
    Decomposition measured at sf-bench scale showed the shuffle+Arrow feed
    alone costs more than the entire kernel, and *degrades* with core count —
    this path removes it.

    Arrow batches may split a doc across consecutive batches within a
    partition; a carry buffer re-attaches the head of the next batch.
    Requires: series sorted by (doc_id, step) within partitions, docs not
    straddling partitions.
    """
    cfg = cfg or KFConfig()
    t_grid = np.asarray(t_grid, dtype=np.float64)
    M = len(t_grid)
    out_schema = KF_STATE if emit_state else KF_OUTPUT

    def emit(docs: np.ndarray, values: np.ndarray) -> pd.DataFrame:
        res = kalman_direct_batch(values, t_grid, cfg)
        B = len(docs)
        if emit_state:
            return pd.DataFrame(
                {
                    "doc_id": docs,
                    "k_done": np.full(B, res["k_done"], dtype=np.int32),
                    "idx0": np.full(B, res["idx0"], dtype=np.int32),
                    "m": list(res["m"]),
                    "P": list(res["P"].reshape(B, -1)),
                }
            )
        return pd.DataFrame(
            {
                "doc_id": np.repeat(docs, M),
                "step": np.tile(np.arange(M, dtype=np.int32), B),
                "t": np.tile(t_grid, B),
                "phase": res["phase"].ravel(),
                "std": res["std"].ravel(),
                "innov": res["innov"].ravel(),
                "gap_filled": res["gap"].ravel(),
            }
        )

    # Accumulate Arrow batches before invoking the kernel: the default
    # 20k-row batch holds only ~200 docs, and the kernel's fixed per-call
    # cost (92 steps × numpy dispatch) then dominates — measured 4-5× slower
    # than B≈2000 batches.
    min_batch_rows = 200_000

    def run(batches):
        buf: list[pd.DataFrame] = []
        buffered = 0
        for pdf in batches:
            buf.append(pdf)
            buffered += len(pdf)
            if buffered < min_batch_rows:
                continue
            whole = pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
            ids = whole["doc_id"].to_numpy()
            # hold back the (possibly incomplete) trailing doc
            cut = np.searchsorted(ids, ids[-1])  # ids sorted within partition
            buf, buffered = [whole.iloc[cut:]], len(whole) - cut
            head = whole.iloc[:cut]
            if len(head):
                docs, values = _fast_pivot(head, M)
                yield emit(docs, values)
        if buffered:
            whole = pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
            if len(whole):
                docs, values = _fast_pivot(whole, M)
                yield emit(docs, values)

    return series.mapInPandas(run, schema=out_schema)


def kalman_gapfill_wide(
    series_wide: DataFrame,
    t_grid: np.ndarray,
    cfg: KFConfig | None = None,
    emit_state: bool = False,
    wide_output: bool = True,
    min_batch_docs: int = 1000,
) -> DataFrame:
    """KF over the wide layout (doc_id, values: array<double>) — the hot
    path at scale. No shuffle, and the Arrow exchange moves one row per DOC
    instead of one per (doc, step): measured ~10× cheaper than the long
    layout, whose per-row JVM serialization cost did not scale with cores.

    ``wide_output=True`` returns (doc_id, phase[], std[], innov[], gap[]);
    call :func:`explode_kf_output` for the long KF_OUTPUT view (JVM-side
    posexplode — cheap). NULL array elements are gaps.
    """
    cfg = cfg or KFConfig()
    t_grid = np.asarray(t_grid, dtype=np.float64)
    M = len(t_grid)
    if emit_state:
        out_schema = KF_STATE
    elif wide_output:
        out_schema = (
            "doc_id string, phase array<double>, std array<double>, "
            "innov array<double>, gap array<boolean>"
        )
    else:
        out_schema = KF_OUTPUT

    def emit(docs: np.ndarray, values: np.ndarray) -> pd.DataFrame:
        res = kalman_direct_batch(values, t_grid, cfg)
        B = len(docs)
        if emit_state:
            return pd.DataFrame(
                {
                    "doc_id": docs,
                    "k_done": np.full(B, res["k_done"], dtype=np.int32),
                    "idx0": np.full(B, res["idx0"], dtype=np.int32),
                    "m": list(res["m"]),
                    "P": list(res["P"].reshape(B, -1)),
                }
            )
        if wide_output:
            return pd.DataFrame(
                {
                    "doc_id": docs,
                    "phase": list(res["phase"]),
                    "std": list(res["std"]),
                    "innov": list(res["innov"]),
                    "gap": list(res["gap"]),
                }
            )
        return pd.DataFrame(
            {
                "doc_id": np.repeat(docs, M),
                "step": np.tile(np.arange(M, dtype=np.int32), B),
                "t": np.tile(t_grid, B),
                "phase": res["phase"].ravel(),
                "std": res["std"].ravel(),
                "innov": res["innov"].ravel(),
                "gap_filled": res["gap"].ravel(),
            }
        )

    if emit_state or not wide_output:
        # pandas path (small outputs / long view)
        def run_pd(batches):
            buf_docs: list[np.ndarray] = []
            buf_vals: list[np.ndarray] = []
            buffered = 0
            for pdf in batches:
                if not len(pdf):
                    continue
                buf_docs.append(pdf["doc_id"].to_numpy())
                buf_vals.append(_stack_values(pdf["values"].to_numpy(), M))
                buffered += len(pdf)
                if buffered >= min_batch_docs:
                    yield emit(np.concatenate(buf_docs), np.vstack(buf_vals))
                    buf_docs, buf_vals, buffered = [], [], 0
            if buffered:
                yield emit(np.concatenate(buf_docs), np.vstack(buf_vals))

        return series_wide.mapInPandas(run_pd, schema=out_schema)

    # Arrow-native path: zero-copy in (list offsets + flat buffer → reshape)
    # and vectorized out (flat numpy → ListArray). pandas list-column
    # conversion is per-element and was the residual non-scaling cost.
    import pyarrow as pa

    out_pa = pa.schema(
        [
            pa.field("doc_id", pa.string()),
            pa.field("phase", pa.list_(pa.float64())),
            pa.field("std", pa.list_(pa.float64())),
            pa.field("innov", pa.list_(pa.float64())),
            pa.field("gap", pa.list_(pa.bool_())),
        ]
    )

    def to_matrix(col: "pa.ChunkedArray | pa.Array") -> np.ndarray:
        arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
        if isinstance(arr, pa.ListArray):
            offs = arr.offsets.to_numpy()
            widths = np.diff(offs)
            flat = arr.flatten().to_numpy(zero_copy_only=False)
            if (widths == M).all() and len(flat) == len(arr) * M:
                return flat.reshape(len(arr), M)
        # ragged fallback
        vals = np.full((len(arr), M), np.nan)
        for i, a in enumerate(arr.to_pylist()):
            if a is not None:
                aa = np.asarray(
                    [np.nan if x is None else x for x in a], dtype=np.float64
                )
                vals[i, : len(aa)] = aa
        return vals

    def run_arrow(batches):
        buf: list[pa.RecordBatch] = []
        buffered = 0

        def emit_slice(tbl: "pa.Table"):
            docs = tbl.column("doc_id")
            values = to_matrix(tbl.column("values"))
            res = kalman_direct_batch(values, t_grid, cfg)
            B = len(values)
            offs = pa.array(
                np.arange(0, (B + 1) * M, M, dtype=np.int32)
            )

            def lst(flat, typ):
                return pa.ListArray.from_arrays(offs, pa.array(flat, type=typ))

            return pa.RecordBatch.from_arrays(
                [
                    docs.combine_chunks()
                    if isinstance(docs, pa.ChunkedArray)
                    else docs,
                    lst(res["phase"].ravel(), pa.float64()),
                    lst(res["std"].ravel(), pa.float64()),
                    lst(res["innov"].ravel(), pa.float64()),
                    lst(res["gap"].ravel(), pa.bool_()),
                ],
                schema=out_pa,
            )

        def flush():
            # kernel batches are sized to min_batch_docs, not to whatever
            # the scan's Arrow batching delivered: per-doc state/covariance
            # buffers for ~1000 docs fit cache, and both smaller (dispatch-
            # bound) and larger (cache-miss-bound) batches measured slower
            # (B sweep: 1.35/1.49/1.56/1.43/1.28 M pts/s/core at
            # B=250/500/1000/2000/4000). Docs are independent in the batch
            # axis, so the split is value-exact.
            tbl = pa.Table.from_batches(buf)
            for s in range(0, tbl.num_rows, min_batch_docs):
                yield emit_slice(tbl.slice(s, min_batch_docs))

        for rb in batches:
            if rb.num_rows == 0:
                continue
            buf.append(rb)
            buffered += rb.num_rows
            if buffered >= min_batch_docs:
                yield from flush()
                buf, buffered = [], 0
        if buffered:
            yield from flush()

    return series_wide.mapInArrow(
        run_arrow,
        schema=(
            "doc_id string, phase array<double>, std array<double>, "
            "innov array<double>, gap array<boolean>"
        ),
    )


KF_WIDE_STATE = (
    "doc_id string, emit0 int, phase array<double>, std array<double>, "
    "innov array<double>, gap array<boolean>, "
    "k_done int, idx0 int, m array<double>, P array<double>"
)


def kalman_gapfill_combined(
    series_wide: DataFrame,
    t_grid: np.ndarray,
    cfg: KFConfig | None = None,
    min_batch_docs: int = 2000,
) -> DataFrame:
    """ONE kernel execution per doc emitting BOTH the gap-filled output
    arrays and the resumable state — the pipeline previously ran the kernel
    twice per run (once for output, once with emit_state=True), doubling its
    most expensive stage.

    Input: (doc_id, values array<double>[, k_done, idx0, m, P][, p0]) — OR
    the sparse layout (doc_id, steps array<int>, vals array<double>) for
    series with gaps: densifying inside the kernel runner is O(n) numpy
    scatter, whereas building the dense array JVM-side with per-position
    map lookups is O(n²) per series (measured as the stage's entire cost
    at a 4.5k-step grid). Rows whose state columns are NULL (or absent)
    cold-start from the grid origin — honouring an optional per-doc ``p0``
    prior-variance array (the earthquake patch); rows with state resume,
    stratified by (k_done, idx0, state width) exactly like
    :func:`kalman_resume`. No shuffle beyond whatever join produced the
    input — mapInPandas over doc-wide rows.
    """
    cfg = cfg or KFConfig()
    t_grid = np.asarray(t_grid, dtype=np.float64)
    M = len(t_grid)
    has_state = "k_done" in series_wide.columns
    sparse = "steps" in series_wide.columns

    def emit(
        docs: np.ndarray,
        values: np.ndarray,
        init: dict | None,
        p0: np.ndarray | None = None,
    ) -> pd.DataFrame:
        res = kalman_direct_batch(values, t_grid, cfg, init=init, p0_diag=p0)
        B = len(docs)
        # Emit only the window this run actually produced: a resumed doc
        # re-emits [idx0_prev, M) — steps before idx0_prev were published
        # by earlier runs and carry NaN here. Slicing keeps the per-run
        # Arrow transfer and the downstream explode O(increment + overlap)
        # instead of O(total grid history); `emit0` lets the exploder
        # recover absolute step indices (cold start → 0, full grid).
        e0 = int(init["idx0"]) if init is not None else 0
        return pd.DataFrame(
            {
                "doc_id": docs,
                "emit0": np.full(B, e0, dtype=np.int32),
                "phase": list(res["phase"][:, e0:]),
                "std": list(res["std"][:, e0:]),
                "innov": list(res["innov"][:, e0:]),
                "gap": list(res["gap"][:, e0:]),
                "k_done": np.full(B, res["k_done"], dtype=np.int32),
                "idx0": np.full(B, res["idx0"], dtype=np.int32),
                "m": list(res["m"]),
                "P": list(res["P"].reshape(B, -1)),
            }
        )

    def flush(whole: pd.DataFrame) -> pd.DataFrame:
        whole = whole.reset_index(drop=True)
        docs_all = whole["doc_id"].to_numpy()
        if sparse:
            values_all = np.full((len(whole), M), np.nan)
            rows_steps = whole["steps"].to_numpy()
            rows_vals = whole["vals"].to_numpy()
            # NULL arrays (state-only rows from the outer join) = no new data
            lens = [0 if s is None else len(s) for s in rows_steps]
            ridx = np.repeat(np.arange(len(whole)), lens)
            if len(ridx):
                values_all[
                    ridx,
                    np.concatenate(
                        [s for s in rows_steps if s is not None and len(s)]
                    ).astype(np.int64),
                ] = np.concatenate(
                    [v for v in rows_vals if v is not None and len(v)]
                )
        else:
            values_all = _stack_values(whole["values"].to_numpy(), M)
        notna = (
            whole["k_done"].notna().to_numpy()
            if has_state
            else np.zeros(len(whole), dtype=bool)
        )
        outs: list[pd.DataFrame] = []
        if (~notna).any():
            sel = np.flatnonzero(~notna)
            p0 = None
            if "p0" in whole.columns:
                p0v = whole["p0"].to_numpy()[sel]
                if all(v is not None for v in p0v):
                    p0 = np.vstack(p0v)
            outs.append(emit(docs_all[sel], values_all[sel], None, p0))
        if notna.any():
            st = whole[notna]
            strata = st.groupby(
                [
                    st["k_done"].astype(int),
                    st["idx0"].astype(int),
                    st["m"].map(len),
                ],
                sort=False,
            )
            for (k_done, idx0, n), g in strata:
                sel = g.index.to_numpy()
                init = {
                    "X": np.vstack(g["m"].to_numpy()),
                    "P": np.vstack(g["P"].to_numpy()).reshape(len(g), n, n),
                    "idx0": int(idx0),
                    "k_done": int(k_done),
                }
                outs.append(emit(docs_all[sel], values_all[sel], init))
        return pd.concat(outs, ignore_index=True) if len(outs) > 1 else outs[0]

    def run(batches):
        buf: list[pd.DataFrame] = []
        buffered = 0
        for pdf in batches:
            if not len(pdf):
                continue
            buf.append(pdf)
            buffered += len(pdf)
            if buffered >= min_batch_docs:
                yield flush(pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0])
                buf, buffered = [], 0
        if buffered:
            yield flush(pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0])

    return series_wide.mapInPandas(run, schema=KF_WIDE_STATE)


def _stack_values(col: np.ndarray, M: int) -> np.ndarray:
    """list-of-arrays column → (B, M) float matrix (None → NaN)."""
    vals = np.full((len(col), M), np.nan)
    for i, arr in enumerate(col):
        a = np.asarray(arr, dtype=np.float64)
        vals[i, : len(a)] = a
    return vals


def kalman_pairs(
    pairs: DataFrame,
    t_grid: np.ndarray,
    cfg: KFConfig | None = None,
    num_buckets: int = 64,
) -> DataFrame:
    """Spark execution of the pairs (interferogram) mode: the edge-list
    observations of the reference (J1 measurement selection,
    kf/KF_class.py:182-248), grouped per doc-hash bucket, exact per-doc
    recursion via :func:`kalman_pairs_doc`.

    pairs(doc_id, obs_id, t_minus, t_plus, obs_value) → KF_OUTPUT rows.
    """
    cfg = cfg or KFConfig()
    t_grid = np.asarray(t_grid, dtype=np.float64)
    M = len(t_grid)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        frames = []
        for doc, g in pdf.groupby("doc_id", sort=False):
            arr = g[["t_minus", "t_plus", "obs_value"]].to_numpy(np.float64)
            res = kalman_pairs_doc(arr, t_grid, cfg)
            frames.append(
                pd.DataFrame(
                    {
                        "doc_id": doc,
                        "step": np.arange(M, dtype=np.int32),
                        "t": t_grid,
                        "phase": res["phase"],
                        "std": res["std"],
                        "innov": res["innov"],
                        "gap_filled": ~np.isfinite(res["innov"]),
                    }
                )
            )
        return (
            pd.concat(frames, ignore_index=True)
            if frames
            else pd.DataFrame(columns=[f.name for f in KF_OUTPUT.fields])
        )

    bucketed = pairs.withColumn(
        "_b", F.pmod(F.xxhash64("doc_id"), F.lit(num_buckets))
    )
    return bucketed.groupBy("_b").applyInPandas(run, schema=KF_OUTPUT)


def explode_kf_output(
    wide: DataFrame, t_grid: np.ndarray, with_t: bool = True
) -> DataFrame:
    """(doc_id, phase[], std[], innov[], gap[]) → long KF_OUTPUT rows,
    entirely JVM-side. The epoch axis joins in from a broadcast (step, t)
    grid table — an inline array literal here costs a full array
    construction per OUTPUT row (measured: it WAS the explode stage's
    entire cost on long grids).

    ``with_t=False`` skips the grid join entirely for consumers that drop
    ``t`` (the pipeline's gap-tier writer derives bucket_es from the step
    index and never stores t): every emitted step lies in [0, M) by
    construction, so the inner join never filters — removing it removes a
    45k-row broadcast build plus one hash probe per output row per run."""
    # emit0 = absolute step of each row's first array element (the combined
    # kernel slices a resumed doc's output to its emit window); wide frames
    # without it (full-grid emitters like kalman_gapfill_wide) start at 0
    e0 = F.col("emit0") if "emit0" in wide.columns else F.lit(0)
    long = wide.select(
        "doc_id",
        e0.alias("_e0"),
        F.posexplode(F.arrays_zip("phase", "std", "innov", "gap")).alias(
            "pos", "z"
        ),
    ).select(
        "doc_id",
        (F.col("pos") + F.col("_e0")).cast("int").alias("step"),
        F.col("z.phase").alias("phase"),
        F.col("z.std").alias("std"),
        F.col("z.innov").alias("innov"),
        F.col("z.gap").alias("gap_filled"),
    )
    if not with_t:
        return long.select(
            "doc_id", "step", "phase", "std", "innov", "gap_filled"
        )
    t_vals = [float(t) for t in np.asarray(t_grid)]
    grid_df = wide.sparkSession.createDataFrame(
        list(enumerate(t_vals)), "step int, t double"
    )
    return long.join(F.broadcast(grid_df), "step").select(
        "doc_id", "step", "t", "phase", "std", "innov", "gap_filled"
    )


def kalman_resume(
    series: DataFrame,
    state: DataFrame,
    t_grid: np.ndarray,
    cfg: KFConfig | None = None,
    num_buckets: int = 128,
    emit_state: bool = False,
) -> DataFrame:
    """Update mode: continue each doc's recursion from a committed state
    snapshot over an extended time grid (reference entry point 2,
    SURVEY.md §3.2; kfts.py:252-330 + restart_from_file).

    ``series`` must cover the full grid's NEW steps (earlier steps may be
    absent); ``state`` is the KF_STATE output of the previous run. Cogrouped
    by the same doc-hash bucket so whole docs meet their state in one
    Arrow batch.
    """
    cfg = cfg or KFConfig()
    t_grid = np.asarray(t_grid, dtype=np.float64)
    M = len(t_grid)
    out_schema = KF_STATE if emit_state else KF_OUTPUT

    def emit(docs: np.ndarray, res: dict) -> pd.DataFrame:
        B = len(docs)
        if emit_state:
            return pd.DataFrame(
                {
                    "doc_id": docs,
                    "k_done": np.full(B, res["k_done"], dtype=np.int32),
                    "idx0": np.full(B, res["idx0"], dtype=np.int32),
                    "m": list(res["m"]),
                    "P": list(res["P"].reshape(B, -1)),
                }
            )
        out = pd.DataFrame(
            {
                "doc_id": np.repeat(docs, M),
                "step": np.tile(np.arange(M, dtype=np.int32), B),
                "t": np.tile(t_grid, B),
                "phase": res["phase"].ravel(),
                "std": res["std"].ravel(),
                "innov": res["innov"].ravel(),
                "gap_filled": res["gap"].ravel(),
            }
        )
        # drop steps archived by the PREVIOUS run (they carry NaN here)
        return out[np.isfinite(out["phase"].to_numpy())]

    def run(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(columns=[f.name for f in out_schema.fields])
        ldocs, lvalues = (
            _fast_pivot(left, M) if len(left) else (np.array([], dtype=object), None)
        )
        pos = {d: i for i, d in enumerate(ldocs)}
        frames: list[pd.DataFrame] = []

        # Streaming micro-batches advance each doc to its OWN k_done — the
        # batch kernel needs uniform shapes, so partition the state snapshot
        # by (k_done, idx0, state width) and run one batch per stratum
        # (single stratum for batch-produced snapshots → one kernel call).
        state_docs: set = set()
        if not right.empty:
            right = right.sort_values("doc_id")
            strata = right.groupby(
                [
                    right["k_done"].astype(int),
                    right["idx0"].astype(int),
                    right["m"].map(len),
                ],
                sort=False,
            )
            for (k_done, idx0, n), g in strata:
                docs = g["doc_id"].to_numpy()
                state_docs.update(docs)
                Bm = np.vstack(g["m"].to_numpy())
                Pm = np.vstack(g["P"].to_numpy()).reshape(len(docs), n, n)
                values = np.full((len(docs), M), np.nan)
                sel = np.array([pos.get(d, -1) for d in docs])
                hit = sel >= 0
                if hit.any():
                    values[hit] = lvalues[sel[hit]]
                res = kalman_direct_batch(
                    values,
                    t_grid,
                    cfg,
                    init={"X": Bm, "P": Pm, "idx0": int(idx0), "k_done": int(k_done)},
                )
                frames.append(emit(docs, res))

        # Cold start: docs first observed after the snapshot was taken have
        # no state row — run the full recursion from scratch so new series
        # enter the gapfilled tier instead of being dropped.
        cold = np.array([d for d in ldocs if d not in state_docs], dtype=object)
        if len(cold):
            sel = np.array([pos[d] for d in cold])
            res = kalman_direct_batch(lvalues[sel], t_grid, cfg)
            frames.append(emit(cold, res))

        if not frames:
            return empty
        return pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]

    sb = series.withColumn("_b", F.pmod(F.xxhash64("doc_id"), F.lit(num_buckets)))
    st = state.withColumn("_b", F.pmod(F.xxhash64("doc_id"), F.lit(num_buckets)))
    return sb.groupBy("_b").cogroup(st.groupBy("_b")).applyInPandas(
        run, schema=out_schema
    )
