"""End-to-end gate: Spark flagship plan vs NumPy loop oracle.

Covers: token decode, chunk split (including overlap stitching for long
docs), window grid parity, all 23 kernels, FixedSPH labeling with
priority/skip_overlap, and exact label equality — per SURVEY.md §5 plan 1.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from seizury_hrv_featuresextraction_spark.functions.hrv import ALL_FEATURES
from seizury_hrv_featuresextraction_spark.oracle import oracle_pipeline
from seizury_hrv_featuresextraction_spark.plans.hrv_pipeline import extract_features
from seizury_hrv_featuresextraction_spark.schemas import ANNOTATIONS_SCHEMA, SEQUENCES_SCHEMA

from conftest import assert_frames_allclose

KEYS = ["doc_id", "window_id"]


def run_engine(spark, seq_pdf, ann_pdf, cfg) -> pd.DataFrame:
    seq_df = spark.createDataFrame(seq_pdf, schema=SEQUENCES_SCHEMA)
    ann_df = spark.createDataFrame(ann_pdf, schema=ANNOTATIONS_SCHEMA) if ann_pdf is not None else None
    return extract_features(seq_df, ann_df, cfg).toPandas()


def test_flagship_allclose(spark, fixture_tables, tiny_cfg):
    seq, ann = fixture_tables
    got = run_engine(spark, seq, ann, tiny_cfg)
    exp = oracle_pipeline(seq, ann, tiny_cfg)
    assert len(got) > 0
    assert_frames_allclose(
        got,
        exp,
        float_cols=ALL_FEATURES + ["window_start_time", "window_center_time", "window_end_time"],
        key_cols=KEYS,
    )
    # labels are exact integers
    g = got.sort_values(KEYS, kind="mergesort")["label"].to_numpy()
    e = exp.sort_values(KEYS, kind="mergesort")["label"].to_numpy()
    assert (g == e).all()
    # the fixtures must actually exercise all three classes
    assert set(np.unique(e)) == {0, 1, 2}


def test_chunking_invariance(spark, fixture_tables):
    """Chunk size must not change results (overlap stitching is exact)."""
    from seizury_hrv_featuresextraction_spark.config import HRVConfig

    seq, ann = fixture_tables
    seq = seq.iloc[:4]
    a = run_engine(spark, seq, ann, HRVConfig(max_windows_per_chunk=16))
    b = run_engine(spark, seq, ann, HRVConfig(max_windows_per_chunk=100000))
    assert_frames_allclose(a, b, float_cols=ALL_FEATURES, key_cols=KEYS)
    ga = a.sort_values(KEYS)["label"].to_numpy()
    gb = b.sort_values(KEYS)["label"].to_numpy()
    assert (ga == gb).all()


def test_partition_count_invariance(spark, fixture_tables, tiny_cfg):
    """The chunk shuffle's partition count only places rows: chunked with
    and without the repartition, and the fused plan, give equal rows."""
    from dataclasses import replace

    seq, ann = fixture_tables
    seq_df = spark.createDataFrame(seq, schema=SEQUENCES_SCHEMA)
    ann_df = spark.createDataFrame(ann, schema=ANNOTATIONS_SCHEMA)
    runs = [
        extract_features(seq_df, ann_df, tiny_cfg, fused=False).toPandas(),
        extract_features(seq_df, ann_df, replace(tiny_cfg, repartition_chunks=False), fused=False).toPandas(),
        extract_features(seq_df, ann_df, tiny_cfg, fused=True).toPandas(),
    ]
    ref = runs[0].sort_values(KEYS, kind="mergesort").reset_index(drop=True)
    assert len(ref) > 0
    for other in runs[1:]:
        assert_frames_allclose(
            other,
            ref,
            float_cols=ALL_FEATURES + ["window_start_time", "window_center_time", "window_end_time"],
            key_cols=KEYS,
        )
        o = other.sort_values(KEYS, kind="mergesort").reset_index(drop=True)
        for c in ("n_beats", "label"):
            assert (o[c].to_numpy() == ref[c].to_numpy()).all(), c


def test_no_annotations_all_normal(spark, fixture_tables, tiny_cfg):
    seq, _ = fixture_tables
    got = run_engine(spark, seq.iloc[:2], None, tiny_cfg)
    assert (got["label"] == 0).all()


def test_beat_count_guards(spark, tiny_cfg):
    """Windows with <5 beats are all-NaN; 5-8 have freq zeros; >=10 full.

    Built from a doc with a long asystole gap so some windows are sparse.
    """
    # 40 s of beats, a 36 s asystole gap (wider than one window), then a
    # second 36 s gap broken by a handful of beats -> windows with 0-8 beats
    tokens = [800] * 50 + [36000] + [800] * 50 + [18000, 800, 800, 800, 17000] + [800] * 50
    seq = pd.DataFrame(
        [{"doc_id": "sub-900_ses-01_run-01", "tokens": tokens, "n_tok": len(tokens), "source": "t"}]
    )
    got = run_engine(spark, seq, None, tiny_cfg)
    exp = oracle_pipeline(seq, pd.DataFrame(columns=["doc_id", "onset", "duration", "event_type"]), tiny_cfg)
    assert_frames_allclose(got, exp, float_cols=ALL_FEATURES, key_cols=KEYS)
    sparse = got[got["n_beats"] < 5]
    assert len(sparse) > 0
    assert sparse[ALL_FEATURES].isna().all().all()
    mid = got[(got["n_beats"] >= 5) & (got["n_beats"] < 9)]
    if len(mid):
        assert (mid["TOTAL_POWER"] == 0.0).all()
        assert mid["SDNN"].notna().all()


def test_token_roundtrip_equality(spark, fixture_tables, tmp_path):
    """Per-row token-array equality through a parquet round trip (the
    input_hint invariant)."""
    seq, _ = fixture_tables
    df = spark.createDataFrame(seq, schema=SEQUENCES_SCHEMA)
    path = str(tmp_path / "seq.parquet")
    df.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path).toPandas().sort_values("doc_id").reset_index(drop=True)
    orig = seq.sort_values("doc_id").reset_index(drop=True)
    assert list(back["doc_id"]) == list(orig["doc_id"])
    for got_tok, exp_tok in zip(back["tokens"], orig["tokens"]):
        assert np.array_equal(np.asarray(got_tok, dtype=np.int64), np.asarray(exp_tok, dtype=np.int64))


def test_empty_and_degenerate_inputs(spark, tiny_cfg):
    """Empty sequences table and all-too-short docs both yield zero
    feature rows without erroring."""
    import pandas as pd

    empty = spark.createDataFrame(
        pd.DataFrame({"doc_id": pd.Series(dtype=str), "tokens": pd.Series(dtype=object),
                      "n_tok": pd.Series(dtype="int32"), "source": pd.Series(dtype=str)}),
        schema=SEQUENCES_SCHEMA,
    )
    assert extract_features(empty, None, tiny_cfg).count() == 0

    short = pd.DataFrame(
        [{"doc_id": "tiny", "tokens": [800] * 5, "n_tok": 5, "source": "t"}]
    )  # 4 s of signal < one 30 s window
    sdf = spark.createDataFrame(short, schema=SEQUENCES_SCHEMA)
    assert extract_features(sdf, None, tiny_cfg).count() == 0
    assert extract_features(sdf, None, tiny_cfg, fused=True).count() == 0


def _labels_one_event(spark, onset, duration, cfg):
    """Window labels of one 320 s doc with one seizure event, from the
    chunked plan, the fused plan and ``oracle_labels``."""
    from seizury_hrv_featuresextraction_spark.oracle import n_samples_for, oracle_labels, window_grid

    tokens = [780, 800, 820, 800] * 100  # 320 000 ms
    doc = "sub-901_ses-01_run-01"
    seq = pd.DataFrame([{"doc_id": doc, "tokens": tokens, "n_tok": len(tokens), "source": "t"}])
    ann = pd.DataFrame([{"doc_id": doc, "onset": onset, "duration": duration, "event_type": "sz"}])
    seq_df = spark.createDataFrame(seq, schema=SEQUENCES_SCHEMA)
    ann_df = spark.createDataFrame(ann, schema=ANNOTATIONS_SCHEMA)
    got = {}
    for fused in (False, True):
        out = extract_features(seq_df, ann_df, cfg, fused=fused).toPandas().sort_values("window_id")
        got[fused] = out["label"].to_numpy()
    n_samples = n_samples_for(sum(tokens), cfg)
    dense = oracle_labels(n_samples, ann, cfg)
    exp = np.array([dense[center] for _, _, center, _ in window_grid(n_samples, cfg)])
    return got[False], got[True], exp


def test_label_sample_index_truncates_like_reference(spark, tiny_cfg):
    """The reference converts seconds to samples with int(t * fs), which
    truncates toward zero: onset -0.001 s is sample 0, not -1, so the
    ictal span [0, 3841) holds window 0's center sample 3840."""
    chunked, fused, exp = _labels_one_event(spark, -0.001, 15.00390625, tiny_cfg)
    assert exp[0] == 2
    assert (chunked == exp).all()
    assert (fused == exp).all()


def test_label_target_clamped_to_recording_end(spark, tiny_cfg):
    """An event past the end of its recording: only the clamp of the SPH
    target's end to n_samples keeps it clear of the ictal start in the
    skip_overlap test, so the target interval survives and window 58 is
    labeled 1."""
    from dataclasses import replace

    cfg = replace(tiny_cfg, sph_seconds=5.0)
    chunked, fused, exp = _labels_one_event(spark, 321.0, 10.0, cfg)
    assert len(exp) == 59 and exp[58] == 1
    assert (chunked == exp).all()
    assert (fused == exp).all()


@pytest.mark.parametrize("fused", [False, True], ids=["chunked", "fused"])
def test_negative_token_raises_naming_doc(spark, tiny_cfg, fused):
    """A negative RR token fails the job with a ValueError naming its doc:
    it would make the beat-time cumsum non-monotone, and searchsorted
    would then pick wrong windows without error. Zero tokens stay valid."""
    rows = pd.DataFrame(
        [
            {"doc_id": "ok", "tokens": [800] * 60 + [0] + [800] * 60, "n_tok": 121, "source": "t"},
            {"doc_id": "bad", "tokens": [800] * 60 + [-3] + [800] * 60, "n_tok": 121, "source": "t"},
        ]
    )
    seq = spark.createDataFrame(rows, schema=SEQUENCES_SCHEMA)
    assert extract_features(seq.where("doc_id = 'ok'"), None, tiny_cfg, fused=fused).count() > 0
    with pytest.raises(Exception, match=r"ValueError: doc_id 'bad': negative RR token -3"):
        extract_features(seq, None, tiny_cfg, fused=fused).collect()
