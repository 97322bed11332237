"""Functional-model DSL: basis functions of time.

Re-expresses the reference's model mini-language (tuples like
``[('POLY',1), ('SIN',f), ('COS',f), ('ISPLINE',2,210,100), ('STEP',500)]``;
syntax table at /root/reference/kf/timefunction.py:36-49, evaluation
:146-246, spline privates :865-940) in three forms:

- :func:`basis_matrix` — numpy (M, L) design matrix used inside the Kalman
  kernel and the weighted-LSQ fit (reference ``transition_vect`` /
  ``find_coeff_lsq``, kf/timefunction.py:248-272);
- :func:`basis_columns` — Spark Column expressions, so model *evaluation*
  (reference ``draw_model``, kf/timefunction.py:274-297) stays JVM-side;
- :func:`basis_sql` — the same expressions as ANSI SQL strings, for the
  DuckDB oracle queries (piecewise polynomials are double-exact when built
  with the identical multiplication order on both engines).

Full element coverage (reference syntax table, kf/timefunction.py:36-49):
POLY(deg), SIN(f), COS(f), STEP(t1,t2,…), HTAN(t1,w1,t2,w2,…),
EXP(t0,tau), LOG(t0,tau), BSPLINE(order,t1,w1,…), ISPLINE(order,t1,w1,…),
LISEG(t1,t2,…).

Grid-dependent normalization: the reference normalizes each B/I-spline by
its max over the evaluation grid ``self.t`` (kf/timefunction.py:894-899,
935-940) — so a spline basis is a function of (t, grid), not t alone.
:func:`resolve_model` bakes the normalization constant in by replacing each
spline event with an internal single-param element ``('_BSP'|'_ISP', order,
center, width, norm)``; :func:`basis_matrix` resolves automatically against
the time vector it is given (matching the reference, which evaluates
``transition_vect`` on its stored grid).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

Model = list[tuple]

_RESOLVED_SPLINES = ("_BSP", "_ISP")


def n_params(model: Model) -> int:
    """Number of coefficients L implied by the model — one per event for the
    multi-event forms (reference label loop, kf/timefunction.py:760-817)."""
    L = 0
    for mod in model:
        kind = mod[0]
        if kind == "POLY":
            L += mod[1] + 1
        elif kind in ("SIN", "COS", "EXP", "LOG"):
            L += 1
        elif kind == "STEP":
            L += len(mod) - 1
        elif kind == "HTAN":
            L += (len(mod) - 1) // 2
        elif kind in ("BSPLINE", "ISPLINE"):
            L += (len(mod) - 2) // 2
        elif kind in _RESOLVED_SPLINES:
            L += 1
        elif kind == "LISEG":
            # constant a0 + one slope per breakpoint (timefunction.py:227-241)
            L += len(mod)
        else:
            raise ValueError(f"unknown model element {kind!r}")
    return L


# ----------------------------------------------------------------- splines
def _spline_x(t, order: int, center: float, width: float):
    """Normalized spline abscissa (kf/timefunction.py:873-883): shift by
    order+1, minus 0.5 for even orders (the reference's parity tweak)."""
    x = (t - center) / width + order + 1
    if order % 2 == 0:
        x = x - 0.5
    return x


def _spline_raw(x: np.ndarray, order: int, integrated: bool) -> np.ndarray:
    """Unnormalized uniform B-spline (power ``order``) or its integral
    (power ``order+1``) — the truncated-power sum of kf/timefunction.py:
    885-892 / 926-933."""
    p = order + (1 if integrated else 0)
    b = np.zeros(np.shape(x), dtype=np.float64)
    for k in range(order + 2):
        m = np.asarray(x, dtype=np.float64) - k - (order + 1) / 2
        b += ((-1) ** k) * math.comb(order + 1, k) * (m**p) * (m >= 0)
    return b


def resolve_model(model: Model, t_grid: np.ndarray) -> Model:
    """Bake grid-dependent spline normalizations into the model: each
    BSPLINE/ISPLINE event becomes ('_BSP'|'_ISP', order, center, width,
    norm) with norm = max of the raw spline over ``t_grid`` (the reference's
    ``b/np.nanmax(b)``, kf/timefunction.py:894-899)."""
    t_grid = np.asarray(t_grid, dtype=np.float64)
    out: Model = []
    for mod in model:
        kind = mod[0]
        if kind in ("BSPLINE", "ISPLINE"):
            order = int(mod[1])
            integrated = kind == "ISPLINE"
            tag = "_ISP" if integrated else "_BSP"
            for c, w in zip(mod[2::2], mod[3::2]):
                raw = _spline_raw(
                    _spline_x(t_grid, order, float(c), float(w)), order, integrated
                )
                out.append((tag, order, float(c), float(w), float(np.nanmax(raw))))
        else:
            out.append(mod)
    return out


def _needs_resolve(model: Model) -> bool:
    return any(mod[0] in ("BSPLINE", "ISPLINE") for mod in model)


def param_schedule(model: Model) -> list[tuple[float, float] | None]:
    """Per-parameter event timing for lazy model growth (the reference's
    ``expend_model`` conditions, kf/timefunction.py:487-557): None for
    always-live params (polynomials, seasonal terms), else (event_time,
    width_allowance) — the param becomes relevant once
    ``event_time <= t + anticipation + width_allowance``."""
    out: list[tuple[float, float] | None] = []
    for mod in model:
        kind = mod[0]
        if kind == "POLY":
            out.extend(None for _ in range(mod[1] + 1))
        elif kind in ("SIN", "COS"):
            out.append(None)
        elif kind == "STEP":
            out.extend((float(t0), 0.0) for t0 in mod[1:])
        elif kind == "HTAN":
            out.extend(
                (float(t0), float(w)) for t0, w in zip(mod[1::2], mod[2::2])
            )
        elif kind in ("EXP", "LOG"):
            out.append((float(mod[1]), float(mod[2])))
        elif kind in ("BSPLINE", "ISPLINE"):
            out.extend(
                (float(c), float(w)) for c, w in zip(mod[2::2], mod[3::2])
            )
        elif kind in _RESOLVED_SPLINES:
            out.append((float(mod[2]), float(mod[3])))
        elif kind == "LISEG":
            out.append(None)  # constant a0
            out.extend((float(t0), 0.0) for t0 in mod[1:])
        else:
            raise ValueError(f"unknown model element {kind!r}")
    return out


# ------------------------------------------------------------- numpy forms
def basis_row(model: Model, t: float) -> np.ndarray:
    """One row of the design matrix — reference ``transition_vect``
    semantics. Splines must be pre-resolved (see :func:`resolve_model`)."""
    out: list[float] = []
    for mod in model:
        kind = mod[0]
        if kind == "POLY":
            out.extend(t**i for i in range(mod[1] + 1))
        elif kind == "SIN":
            out.append(math.sin(mod[1] * t))
        elif kind == "COS":
            out.append(math.cos(mod[1] * t))
        elif kind == "STEP":
            out.extend(1.0 if t >= t0 else 0.0 for t0 in mod[1:])
        elif kind == "EXP":
            t0, tau = mod[1], mod[2]
            out.append((1.0 - math.exp(-(t - t0) / tau)) if t >= t0 else 0.0)
        elif kind == "LOG":
            t0, tau = mod[1], mod[2]
            out.append(math.log(1.0 + (t - t0) / tau) if t >= t0 else 0.0)
        elif kind == "HTAN":
            # 0.5 + 0.5·tanh — the reference's smoothed step (_htan,
            # kf/timefunction.py:847-863), NOT a bare tanh
            for t0, w in zip(mod[1::2], mod[2::2]):
                out.append(0.5 + 0.5 * math.tanh((t - t0) / w))
        elif kind in _RESOLVED_SPLINES:
            _, order, c, w, norm = mod
            raw = _spline_raw(
                np.float64(_spline_x(t, order, c, w)), order, kind == "_ISP"
            )
            out.append(float(raw) / norm)
        elif kind in ("BSPLINE", "ISPLINE"):
            raise ValueError(
                f"{kind} normalization is grid-dependent: call "
                "resolve_model(model, t_grid) first (basis_matrix does so "
                "automatically)"
            )
        elif kind == "LISEG":
            # constant + per-segment slopes with saturation for continuity
            # (kf/timefunction.py:227-241: value t_{i+1} past the segment)
            out.append(1.0)
            ts = mod[1:]
            for i, t_i in enumerate(ts):
                if i < len(ts) - 1:
                    t_n = ts[i + 1]
                    if t > t_n:
                        out.append(float(t_n))
                    elif t > t_i:
                        out.append(t - t_i)
                    else:
                        out.append(0.0)
                else:
                    out.append(t - t_i if t > t_i else 0.0)
        else:
            raise ValueError(f"unknown model element {kind!r}")
    return np.asarray(out, dtype=np.float64)


def basis_matrix(model: Model, t: np.ndarray) -> np.ndarray:
    """(M, L) design matrix over a time vector. Spline normalization is
    resolved against ``t`` itself — the reference evaluates on its stored
    grid (kf/timefunction.py:199-225 use ``self.t``)."""
    t = np.asarray(t, dtype=np.float64)
    if _needs_resolve(model):
        model = resolve_model(model, t)
    return np.vstack([basis_row(model, float(ti)) for ti in t])


# ------------------------------------------------------------ Column forms
def basis_columns(
    model: Model, t: Column, t_grid: np.ndarray | None = None
) -> list[Column]:
    """The same basis as Spark Column expressions (JVM-side, codegen'd).
    Models with unresolved splines need ``t_grid`` for normalization."""
    if _needs_resolve(model):
        if t_grid is None:
            raise ValueError("spline models need t_grid to resolve norms")
        model = resolve_model(model, t_grid)
    cols: list[Column] = []
    for mod in model:
        kind = mod[0]
        if kind == "POLY":
            cols.extend(F.pow(t, F.lit(i)) for i in range(mod[1] + 1))
        elif kind == "SIN":
            cols.append(F.sin(t * F.lit(mod[1])))
        elif kind == "COS":
            cols.append(F.cos(t * F.lit(mod[1])))
        elif kind == "STEP":
            cols.extend(
                F.when(t >= F.lit(t0), 1.0).otherwise(0.0) for t0 in mod[1:]
            )
        elif kind == "EXP":
            t0, tau = mod[1], mod[2]
            cols.append(
                F.when(t >= F.lit(t0), 1.0 - F.exp(-(t - F.lit(t0)) / F.lit(tau)))
                .otherwise(0.0)
            )
        elif kind == "LOG":
            t0, tau = mod[1], mod[2]
            cols.append(
                F.when(t >= F.lit(t0), F.log(1.0 + (t - F.lit(t0)) / F.lit(tau)))
                .otherwise(0.0)
            )
        elif kind == "HTAN":
            for t0, w in zip(mod[1::2], mod[2::2]):
                cols.append(
                    F.lit(0.5) + F.lit(0.5) * F.tanh((t - F.lit(t0)) / F.lit(w))
                )
        elif kind in _RESOLVED_SPLINES:
            _, order, c, w, norm = mod
            x = (t - F.lit(c)) / F.lit(w) + F.lit(float(order + 1))
            if order % 2 == 0:
                x = x - F.lit(0.5)
            p = order + (1 if kind == "_ISP" else 0)
            expr = F.lit(0.0)
            for k in range(order + 2):
                m = x - F.lit(float(k)) - F.lit((order + 1) / 2)
                # explicit multiplication chain (not pow) so Spark and the
                # DuckDB oracle round identically term-by-term
                mp = F.lit(1.0)
                for _ in range(p):
                    mp = mp * m
                coef = float(((-1) ** k) * math.comb(order + 1, k))
                expr = expr + F.when(m >= 0, F.lit(coef) * mp).otherwise(0.0)
            cols.append(expr / F.lit(norm))
        elif kind == "LISEG":
            cols.append(F.lit(1.0))
            ts = mod[1:]
            for i, t_i in enumerate(ts):
                if i < len(ts) - 1:
                    t_n = ts[i + 1]
                    cols.append(
                        F.when(t > F.lit(t_n), F.lit(float(t_n)))
                        .when(t > F.lit(t_i), t - F.lit(t_i))
                        .otherwise(0.0)
                    )
                else:
                    cols.append(
                        F.when(t > F.lit(t_i), t - F.lit(t_i)).otherwise(0.0)
                    )
        else:
            raise ValueError(f"unknown model element {kind!r}")
    return cols


# --------------------------------------------------------------- SQL forms
def _flit(v: float) -> str:
    """Shortest round-trip double literal — parses to the identical IEEE754
    double in DuckDB and Spark."""
    return repr(float(v))


def basis_sql(
    model: Model, t: str, t_grid: np.ndarray | None = None
) -> list[str]:
    """ANSI-SQL expression strings mirroring :func:`basis_columns`
    term-for-term (same literal values, same multiplication order) — the
    DuckDB oracle side of spline/model-evaluation queries."""
    if _needs_resolve(model):
        if t_grid is None:
            raise ValueError("spline models need t_grid to resolve norms")
        model = resolve_model(model, t_grid)
    out: list[str] = []
    for mod in model:
        kind = mod[0]
        if kind == "POLY":
            out.extend(f"pow({t}, {i})" for i in range(mod[1] + 1))
        elif kind == "SIN":
            out.append(f"sin({t} * {_flit(mod[1])})")
        elif kind == "COS":
            out.append(f"cos({t} * {_flit(mod[1])})")
        elif kind == "STEP":
            out.extend(
                f"(CASE WHEN {t} >= {_flit(t0)} THEN 1.0 ELSE 0.0 END)"
                for t0 in mod[1:]
            )
        elif kind == "EXP":
            t0, tau = _flit(mod[1]), _flit(mod[2])
            out.append(
                f"(CASE WHEN {t} >= {t0} THEN 1.0 - exp(-({t} - {t0}) / {tau})"
                f" ELSE 0.0 END)"
            )
        elif kind == "LOG":
            t0, tau = _flit(mod[1]), _flit(mod[2])
            out.append(
                f"(CASE WHEN {t} >= {t0} THEN ln(1.0 + ({t} - {t0}) / {tau})"
                f" ELSE 0.0 END)"
            )
        elif kind == "HTAN":
            for t0, w in zip(mod[1::2], mod[2::2]):
                out.append(f"(0.5 + 0.5 * tanh(({t} - {_flit(t0)}) / {_flit(w)}))")
        elif kind in _RESOLVED_SPLINES:
            _, order, c, w, norm = mod
            x = f"(({t} - {_flit(c)}) / {_flit(w)} + {_flit(float(order + 1))}"
            x += f" - 0.5)" if order % 2 == 0 else ")"
            p = order + (1 if kind == "_ISP" else 0)
            terms = []
            for k in range(order + 2):
                m = f"({x} - {_flit(float(k))} - {_flit((order + 1) / 2)})"
                mp = "1.0"
                for _ in range(p):
                    mp = f"({mp} * {m})"
                coef = _flit(((-1) ** k) * math.comb(order + 1, k))
                terms.append(
                    f"(CASE WHEN {m} >= 0 THEN {coef} * {mp} ELSE 0.0 END)"
                )
            acc = "0.0"
            for term in terms:  # left-fold, matching the Column chain
                acc = f"({acc} + {term})"
            out.append(f"({acc} / {_flit(norm)})")
        elif kind == "LISEG":
            out.append("1.0")
            ts = mod[1:]
            for i, t_i in enumerate(ts):
                if i < len(ts) - 1:
                    t_n = ts[i + 1]
                    out.append(
                        f"(CASE WHEN {t} > {_flit(t_n)} THEN {_flit(float(t_n))}"
                        f" WHEN {t} > {_flit(t_i)} THEN {t} - {_flit(t_i)}"
                        f" ELSE 0.0 END)"
                    )
                else:
                    out.append(
                        f"(CASE WHEN {t} > {_flit(t_i)} THEN {t} - {_flit(t_i)}"
                        f" ELSE 0.0 END)"
                    )
        else:
            raise ValueError(f"unknown model element {kind!r}")
    return out


def shift_t0_coeffs(model: Model, m: np.ndarray, t0: float) -> np.ndarray:
    """Re-express model coefficients under a time-origin shift t0 =
    t0_new − t0_old (reference ``shift_t0``, kf/timefunction.py:320-401).

    Follows the reference's convention g(t + t0) == f(t): SIN/COS pairs of
    equal frequency rotate by ω·t0 (their exact sign convention,
    :354-366); STEP/HTAN/LISEG event times shift by +t0 (amplitudes
    unchanged). POLY is re-expanded consistently with that convention
    (g const = Σᵢ mᵢ·(−t0)ⁱ) — the reference's own constant-term line
    subtracts m₀ twice (:343-345), which its tests never exercise; we keep
    the self-consistent algebra instead. The rotation factors are computed
    HERE (plan time), so Spark/DuckDB never call trig on data.
    """
    m = np.asarray(m, dtype=np.float64)
    out = m.copy()
    if t0 == 0.0:
        return out
    k = 0
    sin_k, cos_k, freq = None, None, None
    for mod in model:
        kind = mod[0]
        if kind == "POLY":
            c0 = np.zeros(m.shape[:-1])
            for i in range(mod[1] + 1):
                c0 = c0 + m[..., k + i] * (-t0) ** i
            out[..., k] = c0
            k += mod[1] + 1
        elif kind == "SIN":
            sin_k, freq = k, mod[1]
            k += 1
        elif kind == "COS":
            cos_k, freq = k, mod[1]
            k += 1
        elif kind in ("STEP", "HTAN", "LISEG"):
            k += n_params([mod])  # amplitudes unchanged; times shift in model
        else:
            k += n_params([mod])
    if (sin_k is None) != (cos_k is None):
        raise ValueError("need SIN and COS together to shift the time axis")
    if sin_k is not None:
        c, s = math.cos(freq * t0), math.sin(freq * t0)
        b, a = m[..., sin_k], m[..., cos_k]  # b = sin amp, a = cos amp
        out[..., sin_k] = b * c + a * s  # reference :364-366
        out[..., cos_k] = a * c - b * s
    return out


def shift_model_times(model: Model, t0: float) -> Model:
    """The model-side half of shift_t0: event times move by +t0
    (kf/timefunction.py:369-393)."""
    out: Model = []
    for mod in model:
        kind = mod[0]
        if kind == "STEP":
            out.append(("STEP", *[t + t0 for t in mod[1:]]))
        elif kind == "HTAN":
            ts = [t + t0 for t in mod[1::2]]
            ws = list(mod[2::2])
            flat = [v for tw in zip(ts, ws) for v in tw]
            out.append(("HTAN", *flat))
        elif kind == "LISEG":
            out.append(("LISEG", *[t + t0 for t in mod[1:]]))
        elif kind in ("EXP", "LOG"):
            out.append((kind, mod[1] + t0, mod[2]))
        elif kind in ("BSPLINE", "ISPLINE"):
            centers = [c + t0 for c in mod[2::2]]
            ws = list(mod[3::2])
            flat = [v for cw in zip(centers, ws) for v in cw]
            out.append((kind, mod[1], *flat))
        else:
            out.append(mod)
    return out


def amp_phase_errprop(
    b_sin: Column, a_cos: Column, var_sin: Column, var_cos: Column
) -> dict[str, Column]:
    """Oscillation amplitude & phase shift WITH first-order error
    propagation (reference ``comp_phase_shift``, kf/timefunction.py:
    667-745): amp = √(a²+b²), phase = atan2(a, b),
    amp_var = (a²·σ²_cos + b²·σ²_sin)/(a²+b²),
    phase_var = (a²·σ²_sin + b²·σ²_cos)/(a²+b²)²."""
    a2 = a_cos * a_cos
    b2 = b_sin * b_sin
    r2 = a2 + b2
    return {
        "amp": F.sqrt(r2),
        "phase": F.atan2(a_cos, b_sin),
        "amp_var": (a2 * var_cos + b2 * var_sin) / r2,
        "phase_var": (a2 * var_sin + b2 * var_cos) / (r2 * r2),
    }


def weighted_lsq(
    model: Model, t: np.ndarray, y: np.ndarray, err: np.ndarray | float
) -> tuple[np.ndarray, np.ndarray]:
    """Weighted least squares per the reference's ``find_coeff_lsq``
    (kf/timefunction.py:248-272): Cm = (Aᵀ Cd⁻¹ A)⁻¹, m = Cm Aᵀ Cd⁻¹ y.

    ``y`` may be (M,) or (B, M) — vectorized across docs exactly like the
    reference vectorizes across pixels (kf/timefunction.py:263-265).
    """
    A = basis_matrix(model, t)
    w = np.broadcast_to(np.asarray(err, dtype=np.float64), t.shape) ** (-1)
    Aw = A * w[:, None]
    Cm = np.linalg.inv(A.T @ Aw)
    m = np.atleast_2d(y) @ (Aw @ Cm.T)
    merr = np.sqrt(np.diag(Cm))
    return (m[0] if np.ndim(y) == 1 else m), merr
