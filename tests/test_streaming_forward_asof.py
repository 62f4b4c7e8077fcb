"""True Structured Streaming forward as-of (O19 streaming form): a
stream-stream inner join with watermarks and a bounded time-range
condition (click -> any error within the next 60 s), checked two ways:

1. the streamed pair set equals the batch run of the same interval join;
2. min(error time) per click equals the engine's forward as-of operator
   with the same tolerance (pd.merge_asof on the collected frames).

Offsets are chosen so no pair sits exactly on the 60 s boundary (the
interval join and merge_asof are both inclusive, but floating-point
boundary cases would test nothing).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

SCHEMA_C = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("click_id", T.LongType(), False),
        T.StructField("event_time", T.TimestampType(), False),
    ]
)
SCHEMA_E = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("event_time", T.TimestampType(), False),
    ]
)

JOIN_COND = (
    "c.doc_id = e.doc_id AND e.event_time >= c.event_time "
    "AND e.event_time <= c.event_time + interval 60 seconds"
)


def _join(cs, es):
    return cs.alias("c").join(es.alias("e"), F.expr(JOIN_COND)).select(
        F.col("c.doc_id").alias("doc_id"),
        F.col("c.click_id").alias("click_id"),
        F.col("c.event_time").alias("c_ts"),
        F.col("e.event_time").alias("e_ts"),
    )


@pytest.mark.timeout(300)
def test_streaming_forward_asof_matches_batch(spark, tmp_path):
    base = pd.Timestamp("2024-01-01")
    clicks = pd.DataFrame(
        [
            (doc, i, base + pd.Timedelta(seconds=17.0 * i))
            for doc in ("a", "b")
            for i in range(20)
        ],
        columns=["doc_id", "click_id", "event_time"],
    )
    errors = pd.DataFrame(
        [
            (doc, base + pd.Timedelta(seconds=40.0 * j + 5.0))
            for doc in ("a", "b")
            for j in range(8)
        ],
        columns=["doc_id", "event_time"],
    )
    csrc, esrc = str(tmp_path / "clicks"), str(tmp_path / "errors")
    spark.createDataFrame(clicks, schema=SCHEMA_C).write.mode("overwrite").parquet(csrc)
    spark.createDataFrame(errors, schema=SCHEMA_E).write.mode("overwrite").parquet(esrc)

    cs = spark.readStream.schema(SCHEMA_C).parquet(csrc).withWatermark("event_time", "30 seconds")
    es = spark.readStream.schema(SCHEMA_E).parquet(esrc).withWatermark("event_time", "30 seconds")
    q = (
        _join(cs, es)
        .writeStream.format("memory")
        .queryName("fwd_asof")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    streamed = spark.sql("select * from fwd_asof").toPandas()

    batch = _join(
        spark.createDataFrame(clicks, schema=SCHEMA_C),
        spark.createDataFrame(errors, schema=SCHEMA_E),
    ).toPandas()

    key = lambda df: sorted(map(tuple, df[["doc_id", "click_id", "e_ts"]].to_numpy()))  # noqa: E731
    assert len(streamed) > 0
    assert key(streamed) == key(batch)

    # min error per click == a forward as-of with tolerance
    nxt = (
        streamed.groupby(["doc_id", "click_id"], as_index=False)["e_ts"].min()
        .rename(columns={"e_ts": "next_err"})
    )
    cb = spark.createDataFrame(clicks, schema=SCHEMA_C).select(
        "doc_id", "click_id", (F.unix_micros("event_time") / F.lit(1e6)).alias("t")
    )
    eb = spark.createDataFrame(errors, schema=SCHEMA_E).select(
        "doc_id",
        (F.unix_micros("event_time") / F.lit(1e6)).alias("t"),
        (F.unix_micros("event_time") / F.lit(1e6)).alias("err_t"),
    )
    asof = pd.merge_asof(
        cb.toPandas().sort_values("t"),
        eb.toPandas().sort_values("t"),
        on="t",
        by="doc_id",
        direction="forward",
        tolerance=60.0,
    )
    asof_matched = asof[asof["err_t"].notna()].rename(columns={"err_t": "t_right"})
    assert len(asof_matched) == len(nxt)
    merged = nxt.merge(asof_matched, on=["doc_id", "click_id"])
    assert len(merged) == len(nxt)
    got = merged["next_err"].map(lambda ts: ts.timestamp()).to_numpy()
    exp = merged["t_right"].to_numpy()
    assert (abs(got - exp) < 1e-6).all()
