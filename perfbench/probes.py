"""Direct calls into the numeric kernels, on arrays shaped like what the
pipeline hands them in a workload: the Kalman kernel over the gap-fill
stage's sub-series, and the codec over the raw tier's day chunks."""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

from oracle import DAY_S, RAW_S

REPEATS = 3


def _rate(points: int, fn) -> float:
    """Points per second of ``fn``, median of :data:`REPEATS` calls."""
    walls = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return points / statistics.median(walls)


def kalman_rate(series: pd.DataFrame, cfg, resume_steps: int | None) -> float:
    """Kernel points/s over the (sub-series × grid) matrix of ``series``.

    ``resume_steps=None`` runs a cold start over the whole grid (what a
    backfill does); otherwise the kernel resumes from the state of all but
    the last ``resume_steps`` steps, as an incremental run does."""
    from kfts_insar_spark.operators.kalman import kalman_direct_batch

    lo = int(series["bucket_es"].min())
    m = (int(series["bucket_es"].max()) - lo) // RAW_S + 1
    doc = (series["source"] + "/" + series["shard"].astype(str)).to_numpy()
    docs, row = np.unique(doc, return_inverse=True)
    values = np.full((len(docs), m), np.nan)
    values[row, (series["bucket_es"].to_numpy() - lo) // RAW_S] = series["sum_tok"]
    t = np.arange(m) * (RAW_S / DAY_S)
    if resume_steps is None:
        return _rate(values.size, lambda: kalman_direct_batch(values, t, cfg))
    k0 = m - resume_steps
    st = kalman_direct_batch(values[:, :k0], t[:k0], cfg)
    init = {"X": st["m"], "P": st["P"], "idx0": st["idx0"], "k_done": st["k_done"]}
    pts = len(docs) * (m - int(st["idx0"]))
    return _rate(pts, lambda: kalman_direct_batch(values, t, cfg, init=init))


def codec_rates(raw: pd.DataFrame) -> tuple[float, float, bool]:
    """(encode points/s, decode points/s, round trip exact) of the chunked
    timestamp + integer-value codec over the raw tier cut into
    (source, day) chunks, the compressed tier's chunking."""
    from kfts_insar_spark.functions.codec import (
        decode_ints_lockstep,
        decode_timestamps_lockstep,
        encode_ints_chunked,
        encode_timestamps_chunked,
    )

    r = raw.sort_values(["source", "bucket_es"], kind="mergesort")
    ts = r["bucket_es"].to_numpy(np.int64)
    vals = r["sum_tok"].to_numpy(np.int64)
    key = r["source"].to_numpy().astype(str)
    day = ts // DAY_S
    bound = np.ones(len(ts), dtype=bool)
    bound[1:] = (key[1:] != key[:-1]) | (day[1:] != day[:-1])
    starts = np.flatnonzero(bound).astype(np.int64)
    ns = np.diff(np.append(starts, len(ts)))

    def enc():
        return encode_timestamps_chunked(ts, starts), encode_ints_chunked(vals, starts)

    ts_c, val_c = enc()

    def dec():
        return decode_timestamps_lockstep(ts_c, ns), decode_ints_lockstep(val_c, ns)

    t_mat, v_mat = dec()
    mask = np.arange(t_mat.shape[1])[None, :] < ns[:, None]
    exact = bool((t_mat[mask] == ts).all() and (v_mat[mask] == vals).all())
    return _rate(len(ts), enc), _rate(len(ts), dec), exact
