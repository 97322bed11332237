"""Independent expected results for the benchmark's correctness checks.

Everything here is computed from the benchmark input with pandas/numpy, not
through the pipeline's code paths: the tier rollups are plain group-bys on
the documents, and the gap-filled tier's reference is one call of the
public Kalman kernel over the whole prefix at once (a one-shot build of the
gap tier). The only thing borrowed from the package is its definitions:
bucket widths, the doc-hash shard of a document, and the KF configuration.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

RAW_S, HOUR_S, DAY_S = 300, 3600, 86400
TIER_COLS = ["source", "bucket_es", "n_docs", "sum_tok", "min_tok", "max_tok"]
GAP_KEYS = ["source", "shard", "bucket_es"]
# resumed and one-shot gap tiers may differ in the last bits of phase/std/
# innov (kernel batch shape changes the floating-point contraction order);
# anything beyond this relative tolerance is a wrong value
GAP_RTOL = 1e-9


def rollup(docs: pd.DataFrame, width: int) -> pd.DataFrame:
    """Documents (source, ingest_es, n_tok) → one tier at ``width`` seconds."""
    b = (docs["ingest_es"].to_numpy() // width) * width
    g = docs.assign(bucket_es=b).groupby(["source", "bucket_es"], sort=True)["n_tok"]
    out = pd.DataFrame({
        "n_docs": g.size(),
        "sum_tok": g.sum(),
        "min_tok": g.min(),
        "max_tok": g.max(),
    }).reset_index()
    return out[TIER_COLS].astype({"bucket_es": "int64", "n_docs": "int64",
                                  "sum_tok": "int64", "min_tok": "int64",
                                  "max_tok": "int64"})


def day_str(es) -> np.ndarray:
    return pd.to_datetime(np.asarray(es, dtype="int64"), unit="s").strftime("%Y-%m-%d").to_numpy()


def readthrough(raw: pd.DataFrame, h1: pd.DataFrame, d1: pd.DataFrame) -> pd.DataFrame:
    """Age-routed series as the ``readthrough`` command serves it: raw for
    the newest day, 1h for the four days before it, 1d for older data."""
    c1 = (int(raw["bucket_es"].max()) // DAY_S) * DAY_S
    c2 = c1 - 4 * DAY_S
    parts = [
        raw[raw["bucket_es"] >= c1].assign(tier="raw"),
        h1[(h1["bucket_es"] >= c2) & (h1["bucket_es"] < c1)].assign(tier="1h"),
        d1[d1["bucket_es"] < c2].assign(tier="1d"),
    ]
    return pd.concat(parts, ignore_index=True)[["tier"] + TIER_COLS]


def raw_at(docs: pd.DataFrame, props: dict) -> pd.DataFrame:
    """The raw tier as of a snapshot with properties ``props``: the buckets
    of every document up to its watermark, minus the days retention had
    dropped by then (``retention_cutoff``, a ``YYYY-MM-DD`` day)."""
    raw = rollup(docs[docs["ingest_es"] <= int(props["watermark_es"])], RAW_S)
    cut = props.get("retention_cutoff")
    if cut is None:
        return raw
    return raw[day_str(raw["bucket_es"]) >= cut].reset_index(drop=True)


def deep_days(raw: pd.DataFrame, cutoff_es: int) -> pd.DataFrame:
    """Daily token sums of the raw buckets older than ``cutoff_es``."""
    old = raw[raw["bucket_es"] < cutoff_es]
    day = (old["bucket_es"].to_numpy() // DAY_S) * DAY_S
    out = (old.assign(day_es=day).groupby(["source", "day_es"], sort=True)["sum_tok"]
           .sum().reset_index().rename(columns={"sum_tok": "value"}))
    out["value"] = out["value"].astype("float64")
    return out


def kf_one_shot(series: pd.DataFrame, wm_es: int, cfg) -> pd.DataFrame:
    """Gap-filled tier rows for (source, shard, bucket_es, sum_tok) partial
    sums up to watermark ``wm_es``, from ONE kernel call over all
    sub-series and the whole grid."""
    from kfts_insar_spark.operators.kalman import kalman_direct_batch

    lo = int(series["bucket_es"].min())
    hi = (int(wm_es) // RAW_S) * RAW_S
    m = (hi - lo) // RAW_S + 1
    doc = series["source"] + "/" + series["shard"].astype(str)
    docs = np.array(sorted(doc.unique()))
    row = np.searchsorted(docs, doc.to_numpy())
    step = ((series["bucket_es"].to_numpy() - lo) // RAW_S).astype(np.int64)
    keep = (step >= 0) & (step < m)
    values = np.full((len(docs), m), np.nan)
    values[row[keep], step[keep]] = series["sum_tok"].to_numpy(np.float64)[keep]
    t_grid = np.arange(m) * (RAW_S / DAY_S)
    res = kalman_direct_batch(values, t_grid, cfg)
    d_idx, s_idx = np.nonzero(~np.isnan(res["phase"]))
    src_shard = np.array([d.split("/") for d in docs])
    return pd.DataFrame({
        "source": src_shard[d_idx, 0],
        "shard": src_shard[d_idx, 1].astype(np.int64),
        "bucket_es": lo + s_idx.astype(np.int64) * RAW_S,
        "phase": res["phase"][d_idx, s_idx],
        "std": res["std"][d_idx, s_idx],
        "innov": res["innov"][d_idx, s_idx],
        "gap_filled": res["gap"][d_idx, s_idx].astype(bool),
    })


def series_partials(docs_with_shard: pd.DataFrame) -> pd.DataFrame:
    """(source, shard, ingest_es, n_tok) → per-(source, shard, 300 s bucket)
    token sums, the gap-fill stage's input."""
    b = (docs_with_shard["ingest_es"].to_numpy() // RAW_S) * RAW_S
    return (docs_with_shard.assign(bucket_es=b)
            .groupby(["source", "shard", "bucket_es"], sort=True)["n_tok"].sum()
            .reset_index().rename(columns={"n_tok": "sum_tok"}))


# ------------------------------------------------------------ comparisons
def _sorted(df: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    return df.sort_values(keys, kind="mergesort").reset_index(drop=True)


def compare_exact(want: pd.DataFrame, got: pd.DataFrame, keys: list[str]) -> str | None:
    """None when ``got`` holds exactly the rows of ``want``, else why not."""
    cols = list(want.columns)
    if not set(cols) <= set(got.columns):
        return f"missing columns {sorted(set(cols) - set(got.columns))}"
    if len(want) != len(got):
        return f"{len(got)} rows, expected {len(want)}"
    w, g = _sorted(want[cols], keys), _sorted(got[cols], keys)
    for c in cols:
        a, b = w[c].to_numpy(), g[c].to_numpy()
        if a.dtype.kind in "if" and b.dtype.kind in "if":
            bad = ~((a == b) | (np.isnan(a.astype(float)) & np.isnan(b.astype(float))))
        else:
            bad = a.astype(str) != b.astype(str)
        if bad.any():
            i = int(np.flatnonzero(bad)[0])
            return f"column {c} differs at {w.loc[i, keys].to_dict()}: {b[i]!r} != {a[i]!r}"
    return None


def compare_gap(want: pd.DataFrame, got: pd.DataFrame) -> tuple[str | None, float]:
    """Keys and gap flags must match exactly, phase/std/innov within
    :data:`GAP_RTOL`. Returns (error or None, max absolute difference)."""
    got = got.assign(shard=got["shard"].astype(np.int64),
                     innov=got["innov"].astype("float64"))
    if len(want) != len(got):
        return f"{len(got)} gap rows, expected {len(want)}", float("nan")
    w, g = _sorted(want, GAP_KEYS), _sorted(got, GAP_KEYS)
    for k in GAP_KEYS:
        if not (w[k].to_numpy().astype(str) == g[k].to_numpy().astype(str)).all():
            return f"gap tier keys differ in {k}", float("nan")
    if not (w["gap_filled"].to_numpy() == g["gap_filled"].to_numpy().astype(bool)).all():
        return "gap_filled flags differ", float("nan")
    worst = 0.0
    for c in ("phase", "std", "innov"):
        a, b = w[c].to_numpy(np.float64), g[c].to_numpy(np.float64)
        na, nb = np.isnan(a), np.isnan(b)
        if (na != nb).any():
            return f"{c} NULLs differ", float("nan")
        d = np.abs(a[~na] - b[~na])
        if d.size:
            worst = max(worst, float(d.max()))
            lim = GAP_RTOL * np.maximum(1.0, np.abs(a[~na]))
            if (d > lim).any():
                return f"{c} differs by {float(d.max())!r} (> rtol {GAP_RTOL})", worst
    return None, worst
