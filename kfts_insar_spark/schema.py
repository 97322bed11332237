"""Canonical schemas of the Kalman output, its resumable state and the
compressed tier.

The KF output / state shapes re-express the reference's dense HDF5 cube
relationally (SURVEY.md §1.4; reference cube: kf/readinput.py:77-106).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ----------------------------------------------------------------- KF output
# One row per (doc, step): smoothed phase + std + innovation — the relational
# recast of Phases.h5 rawts/rawts_std and Updates.h5 mean_innov
# (kf/readinput.py:560-612).
KF_OUTPUT = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("step", T.IntegerType(), False),
        T.StructField("t", T.DoubleType(), False),
        T.StructField("phase", T.DoubleType(), True),
        T.StructField("std", T.DoubleType(), True),
        T.StructField("innov", T.DoubleType(), True),
        T.StructField("gap_filled", T.BooleanType(), False),
    ]
)

# State snapshot — mirrors States.h5 (state, state_cov, indx) per pixel
# (kf/readinput.py:560-575); P stored row-major.
KF_STATE = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("k_done", T.IntegerType(), False),  # steps processed
        T.StructField("idx0", T.IntegerType(), False),  # step idx of m[L]
        T.StructField("m", T.ArrayType(T.DoubleType(), False), False),
        T.StructField("P", T.ArrayType(T.DoubleType(), False), False),
    ]
)

# ------------------------------------------------------------- rollup tiers
# Gorilla-compressed tier buckets: one row per (source, coarse bucket)
COMPRESSED_TIER = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("bucket_es", T.LongType(), False),
        T.StructField("n_points", T.IntegerType(), False),
        T.StructField("ts_codec", T.BinaryType(), False),  # delta-of-delta
        T.StructField("val_codec", T.BinaryType(), False),  # 1 tag byte + stream
    ]
)
