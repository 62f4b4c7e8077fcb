"""Canonical declared schemas (the reference never declares any —
column sets are repeated as literals in four files, SURVEY.md §1.3;
here there is exactly one source of truth)."""

from __future__ import annotations

from pyspark.sql import types as T

from .functions.hrv import ALL_FEATURES

SEQUENCES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("source", T.StringType(), True),
    ]
)

ANNOTATIONS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("onset", T.DoubleType(), False),
        T.StructField("duration", T.DoubleType(), True),
        T.StructField("event_type", T.StringType(), True),
    ]
)

# intermediate: one self-contained slice of one doc's tachogram.
# tok is the int32 token slice (rr = tok/1000.0 is recomputed in the
# kernel — exact) and bounds holds the per-window [lo, hi) beat indices
# into tok, precomputed against the FULL doc's cumsum so float parity
# with the oracle is preserved while the shuffle carries 4 bytes/beat
# instead of 16. rr_t (absolute times) is shipped only when the Welch
# fallback needs it.
CHUNKS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("chunk_id", T.IntegerType(), False),
        T.StructField("win_lo", T.LongType(), False),
        T.StructField("n_win", T.LongType(), False),
        T.StructField("n_samples", T.LongType(), False),
        T.StructField("tok", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("bounds", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("rr_t", T.ArrayType(T.DoubleType(), False), True),
    ]
)

# what actually crosses the Python->JVM Arrow boundary: the four
# window-time/center columns are pure functions of window_id and are
# reattached as native expressions (32 fewer bytes/row through Arrow)
FEATURES_ARROW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("window_id", T.LongType(), False),
        T.StructField("n_beats", T.IntegerType(), False),
    ]
    + [T.StructField(name, T.DoubleType(), True) for name in ALL_FEATURES]
)
