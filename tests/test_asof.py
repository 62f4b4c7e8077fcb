from __future__ import annotations

import pandas as pd
import pytest

from seizury_hrv_featuresextraction_spark.operators.asof import asof_join


@pytest.fixture(scope="module")
def sides(spark):
    left = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": ["a", "a", "a", "b", "b", "c"],
                "ts": [1.0, 5.0, 9.0, 2.0, 3.0, 4.0],
                "lv": [10, 20, 30, 40, 50, 60],
            }
        )
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": ["a", "a", "b", "b"],
                "ts": [0.5, 5.0, 2.5, 7.0],
                "rv": [100.0, 200.0, 300.0, 400.0],
            }
        )
    )
    return left, right


def expected_merge_asof(left, right, direction):
    lp = left.toPandas().sort_values("ts")
    rp = right.toPandas().sort_values("ts")
    return (
        pd.merge_asof(lp, rp, on="ts", by="k", direction=direction)
        .sort_values(["k", "ts"])
        .reset_index(drop=True)
    )


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_native_asof_matches_merge_asof(spark, sides, direction):
    left, right = sides
    got = (
        asof_join(left, right, on="ts", by="k", value_cols=["rv"], direction=direction)
        .toPandas()
        .sort_values(["k", "ts"])
        .reset_index(drop=True)
    )
    exp = expected_merge_asof(left, right, direction)
    pd.testing.assert_series_equal(got["rv"], exp["rv"], check_names=False)


def test_exact_match_inclusive(spark, sides):
    """right.ts == left.ts must match in both directions."""
    left, right = sides
    back = asof_join(left, right, on="ts", by="k", value_cols=["rv"], direction="backward").toPandas()
    row = back[(back["k"] == "a") & (back["ts"] == 5.0)]
    assert row["rv"].iloc[0] == 200.0
    fwd = asof_join(left, right, on="ts", by="k", value_cols=["rv"], direction="forward").toPandas()
    row = fwd[(fwd["k"] == "a") & (fwd["ts"] == 5.0)]
    assert row["rv"].iloc[0] == 200.0


def test_unmatched_is_null(spark, sides):
    left, right = sides
    back = asof_join(left, right, on="ts", by="k", value_cols=["rv"], direction="backward").toPandas()
    assert back[back["k"] == "c"]["rv"].isna().all()


def test_matched_null_payload_survives(spark):
    """ADVICE r1: a matched right row whose value is genuinely NULL must
    yield NULL (pd.merge_asof semantics), not an older right row's value."""
    import pandas as pd
    import numpy as np

    left = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "a"], "ts": [5.0, 9.0]})
    )
    # a TRUE SQL NULL payload (not NaN) on the matched right row
    right = spark.createDataFrame(
        [("a", 1.0, 100.0), ("a", 8.0, None)], schema="k string, ts double, rv double"
    )
    assert right.filter("rv IS NULL").count() == 1
    out = (
        asof_join(left, right, on="ts", by="k", value_cols=["rv"], direction="backward")
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    assert out.loc[0, "rv"] == 100.0        # ts=5 matches right ts=1
    assert pd.isna(out.loc[1, "rv"])        # ts=9 matches right ts=8 (rv NULL)

    exp = expected_merge_asof(left, right, "backward")
    assert exp["rv"].isna().tolist() == out["rv"].isna().tolist()
