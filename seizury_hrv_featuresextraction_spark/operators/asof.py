"""As-of (point-in-time) join — the reference's core label-lookup
semantic (data_processing_pipeline.py:708-716 backward;
stream_emulator.py:331-337 forward), generalized.

Spark SQL <= 4.x has no ASOF JOIN, so ``asof_join`` is fully native:
union the two sides with a side tag, sort by (key, ts, side-priority)
inside one window, and carry the right side's payload as ONE struct with
``last(..., ignorenulls=True)`` (backward) or ``first`` over the
following frame (forward) — the struct keeps a matched right row's
genuine NULL values (same semantics as pd.merge_asof). One shuffle on
the key — identical to what a built-in sort-merge as-of would do; stays
entirely in the JVM (whole-stage codegen, no Python).

Tie semantics: a right row with ts == left ts MATCHES for
direction='backward' (merge_asof default allow_exact_matches=True) and
likewise for 'forward'.

At scale: one shuffle, partitioned by `by` key; if the left side is
already bucketed/partitioned by the key the sort is the only extra
work. Skewed keys go through AQE; keys are entity ids
(doc_id/user_id), the same partitioning the rest of the plan uses.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: Sequence[str] | str,
    value_cols: Sequence[str] | None = None,
    direction: str = "backward",
    suffix: str = "_right",
) -> DataFrame:
    """Native as-of join: for each left row, the latest right row with
    right.on <= left.on (backward) or earliest with >= (forward), per key.

    Returns left columns + the right ``value_cols`` (renamed with
    ``suffix`` when they collide). Unmatched rows get nulls.
    """
    by = [by] if isinstance(by, str) else list(by)
    value_cols = list(value_cols) if value_cols is not None else [
        c for c in right.columns if c not in set(by) | {on}
    ]
    out_names = {c: (c + suffix if c in left.columns else c) for c in value_cols}

    # side ordering inside equal timestamps: right rows must be visible to
    # left rows at the same ts (allow_exact_matches) -> for backward, right
    # sorts BEFORE left at equal ts; for forward, right sorts AFTER... but
    # "first over following" must still see same-ts right rows, so right
    # sorts BEFORE left there too when scanning forward from the current
    # row. We encode right=0, left=1 and pick frames accordingly.
    #
    # The payload is carried as ONE struct per right row (null for left
    # rows), so last/first(ignorenulls) skips left rows but keeps a matched
    # right row whose value columns are genuinely NULL — the same right-
    # side NULL semantics as pd.merge_asof.
    import pyspark.sql.types as T

    pay_type = T.StructType(
        [T.StructField(c, right.schema[c].dataType, True) for c in value_cols]
    )
    l_tag = left.select(
        *[F.col(c) for c in left.columns],
        F.lit(1).alias("__side"),
        F.lit(None).cast(pay_type).alias("__pay"),
    )
    r_tag = right.select(
        *by,
        F.col(on),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left.columns if c not in set(by) | {on}],
        F.lit(0).alias("__side"),
        F.struct(*[F.col(c) for c in value_cols]).alias("__pay"),
    ).select(*[c for c in l_tag.columns])  # align column order

    u = l_tag.unionByName(r_tag)

    if direction == "backward":
        w = (
            Window.partitionBy(*by)
            .orderBy(F.col(on).asc(), F.col("__side").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        pay = F.last("__pay", ignorenulls=True).over(w)
    elif direction == "forward":
        w = (
            Window.partitionBy(*by)
            .orderBy(F.col(on).asc(), F.col("__side").desc())
            .rowsBetween(0, Window.unboundedFollowing)
        )
        pay = F.first("__pay", ignorenulls=True).over(w)
    else:
        raise ValueError(f"direction must be backward|forward, got {direction!r}")

    carried = [pay[c].alias(out_names[c]) for c in value_cols]
    return (
        u.select(*left.columns, F.col("__side"), *carried)
        .filter(F.col("__side") == 1)
        .drop("__side")
    )
