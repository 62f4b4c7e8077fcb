"""Plan-introspection helpers.

``spread()`` and ``plan_stats()`` want the input split count as a pure
plan-time metadata lookup. ``df.rdd.getNumPartitions()`` IS that lookup
for a narrow plan (scan + project/filter), but under AQE touching
``.rdd`` on a plan that contains exchanges finalizes the adaptive plan
and can eagerly execute upstream shuffle stages (ADVICE r4). The guard
here inspects the optimized LOGICAL plan (analysis only — never runs a
job) and refuses the probe unless every node is narrow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# logical nodes that cannot introduce an exchange: file/in-memory scans
# plus per-row ops. Anything else (Join/Aggregate/Repartition/Sort/
# Window/Generate/FlatMap*/Limit/...) disqualifies the probe. DSv2
# scans render as RelationV2 / DataSourceV2Relation (r5 ADVICE — absent
# from the original list, which silently forced the conservative path
# for every DSv2 table).
_NARROW_NODES = {
    "Relation",
    "RelationV2",
    "DataSourceV2Relation",
    "DataSourceV2ScanRelation",
    "StreamingRelationV2",
    "LogicalRDD",
    "LocalRelation",
    "InMemoryRelation",
    "Range",
    "Project",
    "Filter",
    "SubqueryAlias",
    "View",
}

# unknown node names that already forced the conservative path, logged
# once each — plan-string rendering drifts across Spark versions, and a
# silently-always-repartitioning spread() is a hidden performance cliff
_WARNED_NODES: set[str] = set()


def scan_num_partitions(df: DataFrame) -> int | None:
    """Input split count of a narrow plan, or None when unknown.

    None means "the plan has wide operators (or introspection failed) —
    probing .rdd could trigger execution, so don't": callers fall back
    to their conservative default (spread() repartitions, plan_stats()
    reports 0 splits which selects the skew-safe chunked plan).
    """
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:  # pragma: no cover - introspection unavailable
        return None
    lines = plan.splitlines()
    i = 0
    while i < len(lines):
        line = lines[i]
        stripped = line.lstrip(" :+-=")
        node = stripped.split(" ", 1)[0].split("(", 1)[0]
        indent = len(line) - len(stripped)
        if node == "InMemoryRelation":
            # a cache boundary: the relation's tree text embeds the
            # whole CACHED child plan (aggregates, exchanges, AQE
            # annotations), but to this query it is a leaf — the probe
            # reads the cached RDD's partition count. (On a cache that
            # was never materialized the probe may build it — callers
            # here always materialize before probing.) Skip its subtree.
            i += 1
            while i < len(lines):
                nxt = lines[i].lstrip(" :+-=")
                if nxt and len(lines[i]) - len(nxt) <= indent:
                    break
                i += 1
            continue
        if node and node not in _NARROW_NODES:
            # wide operators are the expected reason to refuse; an
            # unknown LEAF/scan-looking node is worth one warning so a
            # renamed relation node in a future Spark doesn't silently
            # degrade every spread()/plan_stats() call (safe direction:
            # the fallback only over-repartitions, never corrupts)
            if node not in _WARNED_NODES and (
                "Relation" in node or "Scan" in node
            ):  # pragma: no cover - future-Spark guard
                _WARNED_NODES.add(node)
                import warnings

                warnings.warn(
                    f"scan_num_partitions: unrecognized scan-like node {node!r} "
                    "forces the conservative repartition path; add it to "
                    "_NARROW_NODES if it cannot introduce an exchange",
                    stacklevel=3,
                )
            return None
        i += 1
    try:
        return df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - defensive
        return None


def literal_array(values, sql_type: str):
    """A large numeric literal array as ONE parsed SQL expression.

    ``F.lit(big_list)`` / ``F.array(*[F.lit(x) ...])`` pay a py4j
    round-trip per element at QUERY BUILD time — measured ~6 s of
    driver wall for a 16 384-int list (the r9 cms_estimate finding) and
    ~1 s for 1 024 doubles, every time the query function is invoked.
    Formatting the values into one ``array(...)`` SQL text parses in
    milliseconds and analyzes to the identical literal array: integer
    text parses exactly, and float repr() text parses as an exact
    DECIMAL (or an exponent DOUBLE literal) whose cast to DOUBLE is
    correctly rounded — recovering the exact IEEE bits repr() encodes.

    Values are coerced here (int() for integral ``sql_type``s, float()
    otherwise), so NumPy scalars format as plain numbers; a non-finite
    value raises ValueError, since 'inf'/'nan' text would not parse.
    """
    import math

    from pyspark.sql import functions as F

    integral = sql_type.upper() in {"TINYINT", "SMALLINT", "INT", "INTEGER", "BIGINT", "LONG"}
    vals = [int(v) if integral else float(v) for v in values]
    if not integral and not all(math.isfinite(v) for v in vals):
        raise ValueError(f"literal_array: non-finite value in {sql_type} array")
    body = ",".join(repr(v) for v in vals)
    return F.expr(f"CAST(array({body}) AS ARRAY<{sql_type}>)")
