"""Physical-plan audit: build every registered query at sf0.001 and
inventory its executed-plan shape — exchanges by type, broadcasts,
sort-merge joins, Python/Arrow stages, and parquet scan column sets.

Writes BENCH/plan_audit.md. This is the whole-surface complement to the
targeted asserts in tests/test_plan_shape.py: a refactor that sneaks an
extra shuffle or flips a broadcast join to SMJ in any registered query
shows up as a diff of this table.

Usage: python tools/plan_audit.py  (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from seizury_hrv_featuresextraction_spark.session import get_spark  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def audit(plan: str) -> dict[str, object]:
    scans = re.findall(r"FileScan parquet[^\[]*\[([^\]]*)\]", plan)
    scan_cols = sorted({c.split("#")[0] for m in scans for c in m.split(",") if c})
    return {
        "hash_ex": len(re.findall(r"Exchange hashpartitioning", plan)),
        "rr_ex": len(re.findall(r"Exchange RoundRobinPartitioning", plan)),
        "single_ex": len(re.findall(r"Exchange SinglePartition", plan)),
        "range_ex": len(re.findall(r"Exchange rangepartitioning", plan)),
        "bcast": len(re.findall(r"BroadcastExchange", plan)),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
        "py_stages": len(re.findall(r"MapInArrow|MapInPandas|FlatMapGroupsInPandas|ArrowEvalPython|BatchEvalPython", plan)),
        "scans": len(scans),
        "scan_cols": ",".join(scan_cols) if len(",".join(scan_cols)) < 60 else ",".join(scan_cols)[:57] + "...",
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    spark = get_spark(app_name="plan-audit", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    rows = []
    for name, fn in entrymod.queries().items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            rows.append((name, audit(plan), None))
        except Exception as e:  # noqa: BLE001
            rows.append((name, None, f"{type(e).__name__}: {str(e)[:80]}"))

    lines = [
        "# BENCH/plan_audit.md — physical-plan inventory of every registered query",
        "",
        f"- built (not executed) at `{sf_dir}`, plans from queryExecution().executedPlan()",
        "- columns: hash/rr/single/range exchanges, broadcast exchanges,",
        "  sort-merge vs broadcast-hash joins, Python/Arrow stages, parquet",
        "  scans + the UNION of pruned column sets",
        "- queries whose CONSTRUCTION runs driver-side jobs (k-means training,",
        "  connected components, corpus-DF collection) audit their final plan;",
        "  their pre-pass jobs are part of the operator contract and documented",
        "  in the operator docstrings.",
        "",
        "| query | hash | rr | single | range | bcast | SMJ | BHJ | py/arrow | scans | scan cols |",
        "|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    bad = []
    for name, a, err in rows:
        if err:
            bad.append((name, err))
            lines.append(f"| {name} | — | — | — | — | — | — | — | — | — | ERROR: {err} |")
        else:
            lines.append(
                f"| {name} | {a['hash_ex']} | {a['rr_ex']} | {a['single_ex']} | {a['range_ex']} "
                f"| {a['bcast']} | {a['smj']} | {a['bhj']} | {a['py_stages']} | {a['scans']} | `{a['scan_cols']}` |"
            )
    path = os.path.join(REPO, "BENCH", "plan_audit.md")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {path} ({len(rows)} queries, {len(bad)} errors)")
    for name, err in bad:
        print(f"  ERROR {name}: {err}")
    spark.stop()


if __name__ == "__main__":
    main()
