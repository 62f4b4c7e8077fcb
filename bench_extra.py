"""Extra measurement harness for optimization rounds (guide §1.4).

NOT the driver bench (bench.py is frozen): this file isolates the
flagship plan's phases with the noop sink, labels jobs, and dumps
.explain("formatted") for every headline query so plan claims in
OPTIMIZATION_r*.md are reproducible.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py phases
    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py plans plans/r09 suffix
    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py queries q1 q2 ...
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys
import time

for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from seizury_hrv_featuresextraction_spark.config import DEFAULT_CONFIG  # noqa: E402
from seizury_hrv_featuresextraction_spark.plans.driver_queries import QUERIES  # noqa: E402
from seizury_hrv_featuresextraction_spark.session import get_spark  # noqa: E402
from seizury_hrv_featuresextraction_spark.sources.registry import (  # noqa: E402
    annotations_from_events,
    sequences_from_events,
)

HEADLINE = [
    "pricing_summary",
    "sessionize_events",
    "asof_backward_join",
    "sliding_window_counts",
    "tumbling_time_features",
    "lsh_dup_pairs",
    "ngram_jaccard_pairs",
    "simhash_docs",
    "hrv_time_features_windows",
]


def noop(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def make_session():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="seizury-hrv-bench-extra", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus * 2, 32))
    spark.sparkContext.setLogLevel("ERROR")
    return spark, sf_dir


def bench_phases():
    """Flagship phase isolation, mirroring bench.py's setup (persisted
    replicated sequences), each phase under the noop sink."""
    from seizury_hrv_featuresextraction_spark.operators.labeling import (
        build_label_intervals,
        label_windows,
    )
    from seizury_hrv_featuresextraction_spark.operators.skew import explode_chunks
    from seizury_hrv_featuresextraction_spark.plans.hrv_pipeline import (
        doc_dimensions,
        extract_features,
    )

    spark, sf_dir = make_session()
    repeat = int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "40"))
    seq = sequences_from_events(spark, sf_dir)
    if repeat > 1:
        seq = seq.withColumn("tokens", F.flatten(F.array_repeat(F.col("tokens"), repeat))).withColumn(
            "n_tok", F.size("tokens").cast("int")
        )
    seq = seq.persist()
    seq.count()
    ann = annotations_from_events(spark, sf_dir)
    cfg = DEFAULT_CONFIG
    cfg_noshuffle = dataclasses.replace(cfg, repartition_chunks=False)
    out = {}
    sc = spark.sparkContext
    best = int(os.environ.get("SPARK_GRAFT_BENCH_BEST_OF", "2"))

    def run(name, df_factory):
        b = 1e18
        for _ in range(best):
            sc.setJobDescription(f"phase:{name}")
            b = min(b, noop(df_factory()))
        out[name] = round(b, 3)
        sc.setJobDescription(None)
        print(f"  {name}: {out[name]}", flush=True)

    run("p1_chunks_noshuffle", lambda: explode_chunks(seq, cfg_noshuffle))
    run("p2_chunks_shuffled", lambda: explode_chunks(seq, cfg))
    run("p3_kernel_unlabeled", lambda: extract_features(seq, None, cfg, fused=False).drop("label"))
    run(
        "p3f_kernel_unlabeled_fused",
        lambda: extract_features(seq, None, cfg, fused=True).drop("label"),
    )
    run("p4_full_labeled", lambda: extract_features(seq, ann, cfg, fused=False))
    run("p5_doc_dimensions", lambda: doc_dimensions(seq, cfg))
    run("p6_label_intervals", lambda: build_label_intervals(ann, doc_dimensions(seq, cfg), cfg))
    # count-based timing as bench.py does, for the cross-check
    t0 = time.time()
    n = extract_features(seq, ann, cfg, fused=False).count()
    out["p7_full_labeled_count"] = round(time.time() - t0, 3)
    out["windows"] = n
    print(json.dumps(out))


def dump_plans(outdir: str, suffix: str, names: list[str] | None = None):
    spark, sf_dir = make_session()
    os.makedirs(outdir, exist_ok=True)
    for name in names or HEADLINE:
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        print(f"wrote {name}_{suffix}.txt ({plan.count('Exchange')} Exchange refs)")


def bench_queries(names: list[str]):
    spark, sf_dir = make_session()
    best = int(os.environ.get("SPARK_GRAFT_BENCH_BEST_OF", "2"))
    out = {}
    for name in names:
        b = 1e18
        for _ in range(best):
            spark.sparkContext.setJobDescription(f"query:{name}")
            b = min(b, noop(QUERIES[name](spark, sf_dir)))
        out[name] = round(b, 3)
        print(f"  {name}: {out[name]}", flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "phases"
    if mode == "phases":
        bench_phases()
    elif mode == "plans":
        dump_plans(sys.argv[2], sys.argv[3], sys.argv[4:] or None)
    elif mode == "queries":
        bench_queries(sys.argv[2:])
    else:
        raise SystemExit(f"unknown mode {mode}")
