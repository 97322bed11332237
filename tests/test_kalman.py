"""Golden checks for the Kalman kernel — the pytest re-expression of the
reference's synthetic prediction/update test (BASELINE.json north_star;
reference experiment: /root/reference/synthetic_data.py, seed 46 at :48).
"""

import numpy as np
import pandas as pd
import pytest

from kfts_insar_spark.functions.basis import basis_matrix, weighted_lsq
from kfts_insar_spark.operators.kalman import (
    KFConfig,
    kalman_direct_batch,
    kalman_direct_oracle,
    kalman_gapfill,
    kalman_pairs_doc,
)

MODEL = [("POLY", 1), ("SIN", 2 * np.pi), ("COS", 2 * np.pi), ("STEP", 1.5)]
M = 92
T = np.arange(M) * 12.0 / 365.25  # 92 epochs @ 12 days (synthetic_data.py:19-21)


def make_series(n_docs: int, seed: int = 46, gap_frac: float = 0.2):
    """Truth + noisy observations with gaps; model/params mirror
    synthetic_data.py:35-36."""
    rng = np.random.default_rng(seed)
    bas = basis_matrix(MODEL, T)  # (M, L)
    params = np.column_stack(
        [
            np.zeros(n_docs),  # offset (datum: phase_0 = 0)
            rng.uniform(5, 15, n_docs),  # velocity
            rng.uniform(2, 6, n_docs),  # sin amp
            rng.uniform(2, 6, n_docs),  # cos amp
            rng.uniform(10, 30, n_docs),  # step amp
        ]
    )
    truth = params @ bas.T  # (B, M)
    truth -= truth[:, :1]  # re-reference so phase at t0 is exactly 0
    y = truth + rng.normal(0, 0.5, truth.shape)
    y[:, 0] = 0.0
    gaps = rng.random(truth.shape) < gap_frac
    gaps[:, 0] = False
    y[gaps] = np.nan
    return truth, y, params, gaps


CFG = KFConfig(model=MODEL, sig_y=1.0, sig_i=0.5, sig_a=30.0, t_sep=4)


def test_batch_kernel_matches_dense_oracle():
    """Blocked batch recursion == explicit dense A/Q/H oracle, bitwise-close."""
    _, y, _, _ = make_series(7)
    batch = kalman_direct_batch(y, T, CFG)
    for b in range(y.shape[0]):
        ora = kalman_direct_oracle(y[b], T, CFG)
        np.testing.assert_allclose(batch["phase"][b], ora["phase"], rtol=1e-9, atol=1e-9)
        np.testing.assert_allclose(batch["std"][b], ora["std"], rtol=1e-9, atol=1e-9)
        mask = np.isfinite(ora["innov"])
        np.testing.assert_allclose(
            batch["innov"][b][mask], ora["innov"][mask], rtol=1e-9, atol=1e-9
        )
        assert np.array_equal(np.isfinite(batch["innov"][b]), mask)
        np.testing.assert_allclose(batch["m"][b], ora["m"], rtol=1e-9, atol=1e-9)


def test_recovers_truth_and_params():
    """Prediction/update correctness: recovered phases track truth; final
    params close to generating params (the functional-model fit check)."""
    truth, y, params, _ = make_series(20)
    res = kalman_direct_batch(y, T, CFG)
    rms = np.sqrt(np.nanmean((res["phase"] - truth) ** 2))
    assert rms < 1.0  # noise σ=0.5, gaps 20% → sub-noise reconstruction
    # velocity & step amplitude recovered
    np.testing.assert_allclose(res["m"][:, 1], params[:, 1], atol=1.5)
    np.testing.assert_allclose(res["m"][:, 4], params[:, 4], atol=2.5)


def test_gapfill_forecasts_with_inflated_std():
    """A gap step yields a model-driven forecast with larger σ than its
    observed neighbors (reference kf/KF_class.py:280-283)."""
    truth, y, _, gaps = make_series(10, gap_frac=0.25)
    res = kalman_direct_batch(y, T, CFG)
    assert np.isfinite(res["phase"]).all()
    assert np.isnan(res["innov"][gaps]).all()
    late = slice(20, M - 5)  # past the warmup
    g, o = gaps[:, late], ~gaps[:, late]
    assert res["std"][:, late][g].mean() > res["std"][:, late][o].mean()
    # forecast still tracks truth through gaps
    err = np.abs((res["phase"] - truth))[:, late][g]
    assert np.median(err) < 2.0


def test_weighted_lsq_recovers_params():
    """find_coeff_lsq golden (kf/timefunction.py:248-272): exact recovery on
    noise-free data, vectorized across docs."""
    truth, _, params, _ = make_series(5, gap_frac=0.0)
    m, merr = weighted_lsq(MODEL, T, truth, 0.5)
    resid = truth - m @ basis_matrix(MODEL, T).T
    np.testing.assert_allclose(resid, 0.0, atol=1e-8)
    assert merr.shape == (CFG.L,)


def test_pairs_mode_matches_direct_on_adjacent_pairs():
    """With the edge list = all adjacent pairs (t_k−1, t_k) and the same noise,
    pairs mode recovers phases consistent with truth (kf2rms-style check)."""
    truth, _, _, _ = make_series(3, gap_frac=0.0)
    doc = truth[0]
    rng = np.random.default_rng(7)
    rows = []
    for k in range(1, M):
        for d in range(1, min(CFG.t_sep, k) + 1):
            rows.append((k - d, k, doc[k] - doc[k - d] + rng.normal(0, 0.1)))
    pairs = np.array(rows)
    res = kalman_pairs_doc(pairs, T, CFG)
    rms = np.sqrt(np.nanmean((res["phase"] - doc) ** 2))
    assert rms < 0.5


def test_spark_gapfill_matches_local_kernel(spark):
    """applyInPandas wrapper == local batch kernel, doc for doc."""
    _, y, _, _ = make_series(12)
    B = y.shape[0]
    rows = []
    for b in range(B):
        for k in range(M):
            rows.append((f"d{b:03d}", k, float(T[k]), None if np.isnan(y[b, k]) else float(y[b, k])))
    pdf = pd.DataFrame(rows, columns=["doc_id", "step", "t", "value"])
    sdf = spark.createDataFrame(pdf)
    out = (
        kalman_gapfill(sdf, T, CFG, num_buckets=4)
        .toPandas()
        .sort_values(["doc_id", "step"])
        .reset_index(drop=True)
    )
    local = kalman_direct_batch(y, T, CFG)
    got = out.pivot(index="doc_id", columns="step", values="phase").to_numpy()
    np.testing.assert_allclose(got, local["phase"], rtol=1e-9, atol=1e-9)
    gotstd = out.pivot(index="doc_id", columns="step", values="std").to_numpy()
    np.testing.assert_allclose(gotstd, local["std"], rtol=1e-9, atol=1e-9)
    assert bool(out["gap_filled"].sum()) and int(out["gap_filled"].sum()) == int(
        np.isnan(y[:, 1:]).sum()
    )


def test_resume_equals_oneshot_local():
    """Split recursion (run 0..60, snapshot state, resume 60..92) must equal
    the one-shot run exactly — the Spark recast of the reference's
    update-mode consistency test (split_data_4test.py:25-50)."""
    _, y, _, _ = make_series(9)
    one = kalman_direct_batch(y, T, CFG)

    k_split = 60
    r1 = kalman_direct_batch(y[:, :k_split], T[:k_split], CFG)
    r2 = kalman_direct_batch(
        y, T, CFG,
        init={"X": r1["m"], "P": r1["P"], "idx0": r1["idx0"], "k_done": r1["k_done"]},
    )
    # combined output: archived steps from run1, refreshed steps from run2
    p1 = np.concatenate([r1["phase"], np.full((9, M - k_split), np.nan)], axis=1)
    s1 = np.concatenate([r1["std"], np.full((9, M - k_split), np.nan)], axis=1)
    combined = np.where(np.isfinite(r2["phase"]), r2["phase"], p1)
    np.testing.assert_array_equal(combined, one["phase"])
    cstd = np.where(np.isfinite(r2["std"]), r2["std"], s1)
    np.testing.assert_array_equal(cstd, one["std"])
    np.testing.assert_array_equal(r2["m"], one["m"])
    np.testing.assert_array_equal(r2["P"], one["P"])


@pytest.mark.parametrize("resumed", [False, True])
def test_batch_shape_is_bit_invariant(resumed):
    """A doc's output must not depend on the batch it shares: B=1 (resumed
    and rebuild runs) and odd B equal the doc's row of a B=9 batch bit for
    bit, cold and resumed from committed state."""
    _, y, _, _ = make_series(9)
    init = None
    if resumed:
        r1 = kalman_direct_batch(y[:, :60], T[:60], CFG)
        init = {"X": r1["m"], "P": r1["P"], "idx0": r1["idx0"], "k_done": 60}

    def run(lo, hi):
        sub = None
        if init is not None:
            sub = {**init, "X": init["X"][lo:hi], "P": init["P"][lo:hi]}
        return kalman_direct_batch(y[lo:hi], T, CFG, init=sub)

    full = run(0, 9)
    for lo, hi in [(i, i + 1) for i in range(9)] + [(0, 3), (3, 8)]:
        part = run(lo, hi)
        for k in ("phase", "std", "innov", "gap", "m", "P", "fit_max"):
            np.testing.assert_array_equal(part[k], full[k][lo:hi], err_msg=k)


def test_spark_resume_equals_oneshot(spark):
    from kfts_insar_spark.operators.kalman import kalman_resume

    _, y, _, _ = make_series(8)
    B = y.shape[0]
    k_split = 55

    def to_sdf(arr, t, steps):
        rows = []
        for b in range(arr.shape[0]):
            for k in steps:
                v = arr[b, k]
                rows.append((f"d{b:03d}", int(k), float(t[k]),
                             None if np.isnan(v) else float(v)))
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_id", "step", "t", "value"])
        )

    one = (
        kalman_gapfill(to_sdf(y, T, range(M)), T, CFG, num_buckets=3)
        .toPandas().sort_values(["doc_id", "step"]).reset_index(drop=True)
    )
    st = kalman_gapfill(
        to_sdf(y, T, range(k_split)), T[:k_split], CFG, num_buckets=3,
        emit_state=True,
    )
    upd = (
        kalman_resume(to_sdf(y, T, range(k_split, M)), st, T, CFG, num_buckets=3)
        .toPandas()
    )
    # stitch: updated steps replace, archived steps kept from nothing (they
    # were never emitted in this split-run — reconstruct from run1 output)
    r1 = (
        kalman_gapfill(to_sdf(y, T, range(k_split)), T[:k_split], CFG, num_buckets=3)
        .toPandas()
    )
    upd_keys = set(zip(upd.doc_id, upd.step))
    stitched = pd.concat(
        [upd, r1[~r1.apply(lambda r: (r.doc_id, r.step) in upd_keys, axis=1)]]
    ).sort_values(["doc_id", "step"]).reset_index(drop=True)
    np.testing.assert_allclose(
        stitched.phase.to_numpy(), one.phase.to_numpy(), rtol=0, atol=0
    )
    np.testing.assert_allclose(
        stitched["std"].to_numpy(), one["std"].to_numpy(), rtol=0, atol=0
    )


def test_aligned_path_matches_grouped(spark):
    """Shuffle-free mapInPandas path == grouped-map path on aligned input."""
    from kfts_insar_spark.operators.kalman import kalman_gapfill_aligned
    from kfts_insar_spark.synth import series as synth_series

    ser = synth_series(spark, 64, 92, partitions=8)  # 64 % 8 == 0 → aligned
    a = (
        kalman_gapfill_aligned(ser, T, CFG)
        .toPandas().sort_values(["doc_id", "step"]).reset_index(drop=True)
    )
    b = (
        kalman_gapfill(ser, T, CFG, num_buckets=4)
        .toPandas().sort_values(["doc_id", "step"]).reset_index(drop=True)
    )
    assert len(a) == len(b) == 64 * 92
    # batch size differs between the two paths → BLAS blocking differs →
    # last-ulp float differences; tolerance matches the oracle tests
    np.testing.assert_allclose(
        a.phase.to_numpy(), b.phase.to_numpy(), rtol=1e-9, atol=1e-9
    )
    np.testing.assert_allclose(
        a["std"].to_numpy(), b["std"].to_numpy(), rtol=1e-9, atol=1e-9
    )


def test_spark_pairs_mode_matches_local(spark):
    """Spark pairs-mode operator == local per-doc recursion."""
    from kfts_insar_spark.operators.kalman import kalman_pairs

    truth, _, _, _ = make_series(4, gap_frac=0.0)
    rng = np.random.default_rng(3)
    rows = []
    locals_ = {}
    for b in range(4):
        doc = truth[b]
        prs = []
        for k in range(1, M):
            for dlt in range(1, min(CFG.t_sep, k) + 1):
                prs.append((k - dlt, k, doc[k] - doc[k - dlt] + rng.normal(0, 0.1)))
        locals_[f"d{b}"] = kalman_pairs_doc(np.array(prs), T, CFG)
        rows += [
            (f"d{b}", i, int(tm), int(tp), float(v))
            for i, (tm, tp, v) in enumerate(prs)
        ]
    sdf = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "obs_id", "t_minus", "t_plus", "obs_value"])
    )
    out = kalman_pairs(sdf, T, CFG, num_buckets=2).toPandas()
    for doc, res in locals_.items():
        got = out[out.doc_id == doc].sort_values("step")
        np.testing.assert_allclose(got.phase.to_numpy(), res["phase"], rtol=1e-9)
        np.testing.assert_allclose(got["std"].to_numpy(), res["std"], rtol=1e-9)


def test_resume_mixed_strata_and_cold_start(spark):
    """Regression: streaming micro-batches leave per-doc k_done/idx0 in the
    state snapshot (heterogeneous strata), and brand-new docs have no state
    row at all — resume must handle both, matching the one-shot run exactly
    and cold-starting left-only docs instead of dropping them."""
    from kfts_insar_spark.operators.kalman import kalman_resume

    _, y, _, _ = make_series(7)
    ka, kb = 50, 60
    docs_a = [f"d{b:03d}" for b in range(3)]
    docs_b = [f"d{b:03d}" for b in range(3, 6)]
    cold = "d006"

    def to_sdf(doc_ids, steps):
        rows = []
        for d in doc_ids:
            b = int(d[1:])
            for k in steps:
                v = y[b, k]
                rows.append(
                    (d, int(k), float(T[k]), None if np.isnan(v) else float(v))
                )
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_id", "step", "t", "value"])
        )

    one = (
        kalman_gapfill(to_sdf([f"d{b:03d}" for b in range(7)], range(M)), T, CFG,
                       num_buckets=3)
        .toPandas()
        .set_index(["doc_id", "step"])
        .sort_index()
    )
    st_a = kalman_gapfill(
        to_sdf(docs_a, range(ka)), T[:ka], CFG, num_buckets=3, emit_state=True
    )
    st_b = kalman_gapfill(
        to_sdf(docs_b, range(kb)), T[:kb], CFG, num_buckets=3, emit_state=True
    )
    new = (
        to_sdf(docs_a, range(ka, M))
        .unionByName(to_sdf(docs_b, range(kb, M)))
        .unionByName(to_sdf([cold], range(M)))
    )
    upd = kalman_resume(new, st_a.unionByName(st_b), T, CFG, num_buckets=3).toPandas()

    # the cold doc gets its FULL series (cold start), not dropped
    assert (upd.doc_id == cold).sum() == M
    # every emitted (doc, step) matches the one-shot run (rtol bounds the
    # batch-composition ULP wobble: einsum/BLAS reduction order varies with
    # the number of docs in the vectorized batch)
    for _, r in upd.iterrows():
        o = one.loc[(r.doc_id, r.step)]
        np.testing.assert_allclose(r.phase, o.phase, rtol=1e-11)
        np.testing.assert_allclose(r["std"], o["std"], rtol=1e-9)


def test_lazy_growth_matches_dense_oracle_and_dim_trace():
    """Lazy model growth (reference expend_model/expend_m_P,
    kf/timefunction.py:487-557, KF_class.py:381-402,544-550): the STEP
    param enters the state only as t approaches the event; batch kernel ==
    dense oracle, and the state-dim trace shows the mid-series arrival."""
    cfg = KFConfig(
        model=MODEL, sig_y=1.0, sig_i=0.5, sig_a=30.0, t_sep=4,
        grow_dt=0.1, grow_var=70.0**2,
    )
    truth, y, _, _ = make_series(6)
    res = kalman_direct_batch(y, T, cfg)
    for b in range(6):
        ora = kalman_direct_oracle(y[b], T, cfg)
        np.testing.assert_allclose(res["phase"][b], ora["phase"], rtol=1e-8)
        np.testing.assert_allclose(res["std"][b], ora["std"], rtol=1e-6)
        assert (res["L_trace"] == ora["L_trace"]).all()
    # dim trace: 3 always-live params (POLY(1)=2 + SIN + COS = 4) before the
    # event approaches, 5 once the STEP enters at the scheduled step
    k_arr = int(np.searchsorted(T, 1.5 - 0.1))
    tr = res["L_trace"][1:]
    assert (tr[: k_arr - 1] == 4).all(), tr[:5]
    assert (tr[k_arr - 1 :] == 5).all()
    # the grown model still tracks the truth through the event
    rms = np.sqrt(np.nanmean((res["phase"] - truth) ** 2))
    assert rms < 1.0, rms


def test_growth_resume_consistency():
    """Update-mode restart across a growth boundary: state emitted BEFORE
    the event param existed resumes correctly (live set reconstructed from
    the schedule) and matches the one-shot run exactly."""
    cfg = KFConfig(
        model=MODEL, sig_y=1.0, sig_i=0.5, sig_a=30.0, t_sep=4,
        grow_dt=0.1, grow_var=70.0**2,
    )
    _, y, _, _ = make_series(5)
    k_arr = int(np.searchsorted(T, 1.5 - 0.1))
    k_split = k_arr - 5  # split before the STEP param arrives
    assert k_split > cfg.t_sep + 2
    one = kalman_direct_batch(y, T, cfg)
    r1 = kalman_direct_batch(y[:, :k_split], T[:k_split], cfg)
    y2 = y.copy()
    y2[:, : k_split] = np.nan  # resume consumes only new steps
    r2 = kalman_direct_batch(
        y2, T, cfg,
        init={"X": r1["m"], "P": r1["P"], "idx0": r1["idx0"],
              "k_done": r1["k_done"]},
    )
    sl = np.s_[:, r1["idx0"]:]
    np.testing.assert_allclose(r2["phase"][sl], one["phase"][sl], rtol=0, atol=0)
    np.testing.assert_allclose(r2["std"][sl], one["std"][sl], rtol=0, atol=0)


def test_retire_params_folds_step_into_constant():
    """Param retirement (reference identify_outdated + remove_oldstuff,
    kf/timefunction.py:559-664): an old STEP amplitude folds into the POLY
    constant, the constant is fixed (zero variance/covariance), and the
    model forecast past the event is unchanged."""
    from kfts_insar_spark.functions.basis import basis_row
    from kfts_insar_spark.operators.kalman import retire_params

    cfg = KFConfig(model=MODEL, sig_y=1.0, sig_i=0.5, sig_a=30.0, t_sep=4)
    _, y, _, _ = make_series(4)
    res = kalman_direct_batch(y, T, cfg)
    X, P = res["m"], res["P"]
    newmodel, Xn, Pn = retire_params(X, P, MODEL, t_start=float(T[-1]), dtmax=0.5)
    assert newmodel == [("POLY", 1), ("SIN", 2 * np.pi), ("COS", 2 * np.pi)]
    assert Xn.shape[1] == X.shape[1] - 1
    # constant absorbed the step amplitude: forecasts past the event match
    t_eval = float(T[-1]) + 0.1
    b_full = basis_row(MODEL, t_eval)          # STEP basis = 1 here
    b_red = basis_row(newmodel, t_eval)
    L_full, L_red = len(b_full), len(b_red)
    f_full = X[:, :L_full] @ b_full
    f_red = Xn[:, :L_red] @ b_red
    np.testing.assert_allclose(f_red, f_full, rtol=1e-12)
    # the constant is fixed
    assert (Pn[:, 0, :] == 0).all() and (Pn[:, :, 0] == 0).all()
    # no-op guards: young series keeps the model
    same_model, _, _ = retire_params(X, P, MODEL, t_start=0.2, dtmax=0.5)
    assert same_model == MODEL


def test_earthquake_prior_p0_pins_far_docs():
    """Per-doc P0 patch (reference earthquakeIntegration kfts.py:172-220):
    a zero a-priori variance on the STEP param pins its amplitude at 0
    ("not optimized"); a large prior lets the filter recover it. Batch
    kernel honours p0_diag per doc and matches the dense oracle."""
    truth, y, params, _ = make_series(4)
    L = CFG.L  # POLY(1)+SIN+COS+STEP = 5
    # doc 0/1 near the epicentre (large prior), doc 2/3 far (zero prior)
    p0 = np.tile([CFG.sig_a**2] * 4 + [900.0], (4, 1))
    p0[2:, 4] = 0.0
    res = kalman_direct_batch(y, T, CFG, p0_diag=p0)
    # near docs recover their step amplitude; far docs stay pinned at 0
    np.testing.assert_allclose(res["m"][:2, 4], params[:2, 4], atol=2.5)
    np.testing.assert_array_equal(res["m"][2:, 4], 0.0)
    # matches the dense oracle with the same per-doc prior
    for b in (0, 3):
        ora = kalman_direct_oracle(y[b], T, CFG, p0_diag=p0[b])
        np.testing.assert_allclose(res["phase"][b], ora["phase"], rtol=1e-8)
        np.testing.assert_allclose(res["m"][b], ora["m"], rtol=1e-7, atol=1e-9)


def test_combined_sparse_resumes_state_only_rows(spark):
    """kalman_gapfill_combined, sparse layout: a sub-series with committed
    state but NO rows in the incremental window (NULL steps/vals from the
    outer join) must still resume — re-emitting its overlap window and
    forecasting the extended grid — and a cold row must start fresh."""
    from kfts_insar_spark.operators.kalman import kalman_gapfill_combined

    _, y, _, _ = make_series(3)
    k_split = 60
    r1 = kalman_direct_batch(y[:, :k_split], T[:k_split], CFG)
    rows = []
    # doc 0: state + new data; doc 1: state only; doc 2: cold with data
    for b, with_state, with_data in ((0, True, True), (1, True, False), (2, False, True)):
        steps = vals = None
        if with_data:
            ks = [k for k in range((k_split if with_state else 0), M)
                  if np.isfinite(y[b, k])]
            steps = [int(k) for k in ks]
            vals = [float(y[b, k]) for k in ks]
        st = (
            (int(r1["k_done"]), int(r1["idx0"]),
             [float(v) for v in r1["m"][b]],
             [float(v) for v in r1["P"][b].ravel()])
            if with_state
            else (None, None, None, None)
        )
        rows.append((f"d{b:03d}", steps, vals) + st)
    wide = spark.createDataFrame(
        rows,
        "doc_id string, steps array<int>, vals array<double>, "
        "k_done int, idx0 int, m array<double>, P array<double>",
    )
    out = (
        kalman_gapfill_combined(wide, T, CFG)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert set(out.index) == {"d000", "d001", "d002"}
    # resumed docs emit only their window [idx0_prev, M); cold docs the
    # full grid — emit0 records each row's absolute start step
    e0 = int(r1["idx0"])
    assert int(out.loc["d001", "emit0"]) == e0
    assert int(out.loc["d000", "emit0"]) == e0
    assert int(out.loc["d002", "emit0"]) == 0
    # doc 1 (state-only): overlap re-emitted + pure forecasts to the end
    p1 = np.asarray(out.loc["d001", "phase"], dtype=np.float64)
    assert len(p1) == M - e0
    assert np.isfinite(p1).all()
    g1 = np.asarray(out.loc["d001", "gap"])
    assert all(bool(v) for v in g1[k_split - e0:])  # every new step forecast
    assert out.loc["d001", "k_done"] == M
    # doc 0 matches a direct resume; doc 2 matches a cold full run
    y0 = y.copy()
    r2 = kalman_direct_batch(
        y0[0:1], T, CFG,
        init={"X": r1["m"][0:1], "P": r1["P"][0:1],
              "idx0": r1["idx0"], "k_done": r1["k_done"]},
    )
    np.testing.assert_allclose(
        np.asarray(out.loc["d000", "phase"], dtype=np.float64)[k_split - e0:],
        r2["phase"][0][k_split:], rtol=1e-12,
    )
    cold = kalman_direct_batch(y[2:3], T, CFG)
    np.testing.assert_allclose(
        np.asarray(out.loc["d002", "phase"], dtype=np.float64),
        cold["phase"][0], rtol=1e-12,
    )


# ---------------------------------------------------------------- check_fit
def test_check_fit_flags_misfit_series():
    """The in-loop quality gate (reference check_fit, kf/KF_class.py:319-333):
    a series the model can track stays unflagged; a series with an abrupt
    un-modeled level shift under tight noise flags — and the batch kernel's
    flag/score match the dense explicit-matrix oracle exactly."""
    from kfts_insar_spark.operators.kalman import (
        KFConfig,
        kalman_direct_batch,
        kalman_direct_oracle,
    )

    M = 60
    T = np.arange(M) / 365.25
    rng = np.random.default_rng(7)
    smooth = 5.0 + 30.0 * T + rng.normal(0, 0.05, M)
    shifted = smooth.copy()
    shifted[30:] += 400.0  # un-modeled jump ≫ noise
    cfg = KFConfig(
        model=[("POLY", 1)], sig_y=0.5, sig_i=0.1, sig_a=100.0, t_sep=4,
        check_eps=5.0, check_win=5,
    )
    y = np.vstack([smooth, shifted])
    res = kalman_direct_batch(y, T, cfg)
    assert not bool(res["fit_flag"][0]), "well-modeled series must not flag"
    assert bool(res["fit_flag"][1]), "level-shift series must flag"
    for i, series in enumerate((smooth, shifted)):
        ora = kalman_direct_oracle(series, T, cfg)
        assert bool(res["fit_flag"][i]) == bool(ora["fit_flag"])
        np.testing.assert_allclose(res["fit_max"][i], ora["fit_max"], rtol=1e-9)
    # the score separates the two by orders of magnitude
    assert res["fit_max"][1] > 10 * res["fit_max"][0]


def test_check_fit_gap_steps_do_not_update_window(spark):
    """Gap (forecast-only) steps carry no residual: a gappy series and its
    dense restriction produce identical flags (the trailing window skips
    unobserved steps, like the reference which only checks inside update)."""
    from kfts_insar_spark.operators.kalman import (
        KFConfig,
        kalman_direct_batch,
        kalman_fit_flags,
    )
    import pandas as pd

    M = 40
    T = np.arange(M) / 365.25
    y = 10.0 + 50.0 * T
    y_gappy = y.copy()
    y_gappy[[7, 8, 15, 22, 23, 24]] = np.nan
    cfg = KFConfig(
        model=[("POLY", 1)], sig_y=0.5, sig_i=0.1, sig_a=100.0, t_sep=4,
        check_eps=1e-6, check_win=3,  # eps tiny → both flag; scores compare
    )
    res = kalman_direct_batch(np.vstack([y, y_gappy]), T, cfg)
    assert res["fit_flag"].dtype == bool
    # distributed wrapper agrees with the kernel per doc
    rows = []
    for doc, series in (("a", y), ("b", y_gappy)):
        for k in range(M):
            if np.isfinite(series[k]):
                rows.append((doc, k, float(T[k]), float(series[k])))
    ser = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "step", "t", "value"])
    )
    got = (
        kalman_fit_flags(ser, T, cfg, num_buckets=2)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert got.loc["a", "n_obs"] == M - 1
    assert got.loc["b", "n_obs"] == M - 1 - 6
    np.testing.assert_allclose(
        got["fit_max"].to_numpy(), res["fit_max"], rtol=1e-12
    )
    assert list(got["fit_flag"]) == list(res["fit_flag"])


# ------------------------------------------------------------------- LISEG
def test_liseg_pinned_segment_stays_pinned():
    """p0_diag wiring for LISEG: a slope with ZERO a-priori variance never
    moves off its init (the update can't touch a zero-covariance param),
    while the unpinned run tracks the trend."""
    from kfts_insar_spark.operators.kalman import KFConfig, kalman_direct_batch

    M = 40
    T = np.arange(M) / 4.0
    y = (2.5 * T + 1.0).reshape(1, -1)  # strong linear trend
    cfg = KFConfig(
        model=[("LISEG", 0.0)], sig_y=0.1, sig_i=0.05, sig_a=50.0, t_sep=4,
    )
    # params: [a0, s1]; pin the slope
    pinned = kalman_direct_batch(
        y, T, cfg, p0_diag=np.array([[50.0**2, 0.0]])
    )
    free = kalman_direct_batch(y, T, cfg)
    assert abs(pinned["m"][0][1]) < 1e-12, "pinned slope moved"
    assert abs(free["m"][0][1] - 2.5) < 0.2, "free slope should track trend"


def test_liseg_segment_handoff_matches_oracle():
    """The adjust_apriori hand-off (next segment's slope re-inits from the
    previous segment's estimate at the flagged step): batch kernel ==
    dense explicit-matrix oracle, and removing the boundary changes the
    result (proving the hand-off fires)."""
    from kfts_insar_spark.operators.kalman import (
        KFConfig,
        kalman_direct_batch,
        kalman_direct_oracle,
        liseg_adjust_schedule,
    )

    M = 48
    T = np.arange(M) / 4.0
    # piecewise-linear truth: slope 2 then slope -1 after t=5
    y = np.where(T <= 5.0, 2.0 * T, 10.0 - (T - 5.0))
    cfg = KFConfig(
        model=[("LISEG", 0.0, 5.0)], sig_y=0.2, sig_i=0.1, sig_a=30.0, t_sep=4,
    )
    steps, l1, l2 = liseg_adjust_schedule(cfg.model, T)
    assert steps and list(l1) == [1] and list(l2) == [2]
    res = kalman_direct_batch(y.reshape(1, -1), T, cfg)
    ora = kalman_direct_oracle(y, T, cfg)
    np.testing.assert_allclose(res["phase"][0], ora["phase"], rtol=1e-9)
    np.testing.assert_allclose(res["m"][0], ora["m"], rtol=1e-9)
    assert bool(res["fit_flag"][0]) == bool(ora["fit_flag"])
    # without the second boundary inside the grid there is no hand-off;
    # the slope estimates must differ
    cfg2 = KFConfig(
        model=[("LISEG", 0.0, 5.0)], sig_y=0.2, sig_i=0.1, sig_a=30.0,
        t_sep=4, check_eps=1e18,
    )
    s2, _, _ = liseg_adjust_schedule(
        [("LISEG", 0.0, 100.0)], T
    )
    assert not s2  # boundary outside grid → no flagged step


def test_liseg_three_segment_handoff_non_chained():
    """ADVICE r3 (medium): with >= 3 segments, >= 2 hand-off pairs fire at
    every flagged step (the replicated all-pairs quirk). The reference's
    vectorized m[i2] = m[i1] evaluates the RHS before assignment, so the
    (s2 -> s3) pair must read the ORIGINAL s2, not the value (s1 -> s2)
    just wrote. Batch kernel and explicit-matrix oracle must agree to the
    golden 1e-9 on such a model — a sequentially-chained oracle loop
    diverges at ~3e-5 here."""
    from kfts_insar_spark.operators.kalman import (
        KFConfig,
        kalman_direct_batch,
        kalman_direct_oracle,
        liseg_adjust_schedule,
    )

    M = 72
    T = np.arange(M) / 4.0
    # piecewise-linear truth with breaks at t=5 and t=11
    y = np.where(
        T <= 5.0, 2.0 * T, np.where(T <= 11.0, 10.0 - (T - 5.0), 4.0 + 3.0 * (T - 11.0))
    )
    rng = np.random.default_rng(7)
    y = y + 0.05 * rng.standard_normal(M)
    cfg = KFConfig(
        model=[("LISEG", 0.0, 5.0, 11.0)], sig_y=0.2, sig_i=0.1, sig_a=30.0,
        t_sep=4,
    )
    steps, l1, l2 = liseg_adjust_schedule(cfg.model, T)
    assert list(l1) == [1, 2] and list(l2) == [2, 3]
    assert len(steps) == 2  # both boundaries inside the grid
    res = kalman_direct_batch(y.reshape(1, -1), T, cfg)
    ora = kalman_direct_oracle(y, T, cfg)
    np.testing.assert_allclose(res["phase"][0], ora["phase"], rtol=1e-9)
    np.testing.assert_allclose(res["m"][0], ora["m"], rtol=1e-9)


def test_explode_handles_frames_without_emit0(spark):
    """explode_kf_output must serve BOTH producers: the combined kernel
    (emit0-sliced arrays) and kalman_gapfill_wide (full-grid arrays, no
    emit0 column -> implicit 0). Exploding the wide path's cold output
    must cover every grid step with the right t values and match the
    kernel's array contents position-for-position."""
    import pandas as pd

    from kfts_insar_spark.operators.kalman import (
        explode_kf_output,
        kalman_direct_batch,
        kalman_gapfill_wide,
    )

    _, y, _, _ = make_series(3)
    wide = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [f"d{b}" for b in range(3)],
                "values": [
                    [None if not np.isfinite(v) else float(v) for v in y[b]]
                    for b in range(3)
                ],
            }
        )
    )
    out = explode_kf_output(
        kalman_gapfill_wide(wide, T, CFG), T
    ).toPandas()
    assert len(out) == 3 * M
    g = out[out.doc_id == "d1"].sort_values("step")
    assert list(g["step"]) == list(range(M))
    np.testing.assert_allclose(g["t"].to_numpy(), T, rtol=1e-12)
    ref = kalman_direct_batch(y[1:2], T, CFG)
    np.testing.assert_allclose(
        g["phase"].to_numpy(), ref["phase"][0], rtol=1e-9
    )


def test_wide_kernel_batch_slicing_is_value_invariant(spark):
    """The Arrow-path kernel slices its buffered input to min_batch_docs
    (cache sizing); docs are independent along the batch axis, so any
    slicing must yield identical results."""
    from kfts_insar_spark.operators.kalman import (
        KFConfig,
        kalman_gapfill_wide,
    )
    from kfts_insar_spark.synth import series_wide

    t = np.arange(30) * 12.0 / 365.25
    cfg = KFConfig(model=[("POLY", 1)], sig_y=1.0, sig_i=0.5, sig_a=30.0, t_sep=4)
    wide = series_wide(spark, 37, 30, partitions=2)

    def canon(xs):
        # NaN != NaN would fail equality even for identical outputs
        return tuple(
            "nan" if (x is not None and x != x) else x for x in xs
        )

    def rows(mbd):
        out = kalman_gapfill_wide(wide, t, cfg, min_batch_docs=mbd).collect()
        return sorted(
            (r.doc_id, canon(r.phase), canon(r.std), canon(r.innov), tuple(r.gap))
            for r in out
        )

    assert rows(7) == rows(1000)
