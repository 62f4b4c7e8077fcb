"""Benchmark harness.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line (each timing is best-of-$SPARK_GRAFT_BENCH_BEST_OF, default 2 —
this box's co-tenant noise spreads identical runs up to ~40%, see
BENCH/executors.md): {"metric", "value" (total seconds), "unit": "sec",
"queries": {name: sec}, "sf", plus throughput extras
(tokens_per_sec / windows_per_sec for the flagship plan — the
BASELINE.json target metric)}.

Scaling-efficiency evidence (N vs 4N cores) is produced by
tools/bench_scaling.py, which shells out to this file at two
parallelism levels and writes BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

# one BLAS thread per task: Spark's task parallelism owns the cores; an
# unpinned OpenBLAS lets a local[8] run secretly use all physical cores
# through the GEMM kernels, corrupting any scaling measurement
for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from seizury_hrv_featuresextraction_spark.config import DEFAULT_CONFIG  # noqa: E402
from seizury_hrv_featuresextraction_spark.plans.driver_queries import QUERIES  # noqa: E402
from seizury_hrv_featuresextraction_spark.plans.hrv_pipeline import extract_features  # noqa: E402
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


def run_noop(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="seizury-hrv-bench", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus * 2, 32))
    spark.sparkContext.setLogLevel("ERROR")

    results: dict[str, float] = {}

    # --- flagship: pre-tokenized sequences -> windowed HRV features ---
    # events-derived docs are short (~50 s); replicate each doc's token
    # array REPEAT times (deterministic) so the flagship measures kernel
    # throughput, not job-startup overhead, and long docs exercise the
    # chunk-split path. Override with SPARK_GRAFT_BENCH_REPEAT.
    repeat = int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "40"))
    seq = sequences_from_events(spark, sf_dir)
    if repeat > 1:
        seq = seq.withColumn("tokens", F.flatten(F.array_repeat(F.col("tokens"), repeat))).withColumn(
            "n_tok", F.size("tokens").cast("int")
        )
    seq = seq.persist()
    n_docs = seq.count()
    n_tokens = seq.agg(F.sum("n_tok")).collect()[0][0] or 0
    ann = annotations_from_events(spark, sf_dir)
    best_of = int(os.environ.get("SPARK_GRAFT_BENCH_BEST_OF", "2"))
    if os.environ.get("SPARK_GRAFT_BENCH_ONLY_FLAGSHIP", "") == "1":
        best_of = 1  # bench_scaling does its own interleaved best-of rounds
    # the FUSED zero-shuffle variant and the AUTO selection
    # (extract_features default: choose_fused from table stats) are
    # reported alongside; the headline stays the skew-safe chunked plan
    # so round-over-round numbers compare the same physical plan.
    # The three variants are measured INTERLEAVED per round — this box's
    # throughput drifts within a single process (later timings run
    # slower), so sequential chunked*K -> fused*K -> auto*K blocks bias
    # whichever config is measured last; interleaving gives each config
    # the same drift exposure and best-of-K then compares fairly.
    measure_variants = os.environ.get("SPARK_GRAFT_BENCH_ONLY_FLAGSHIP", "") != "1"
    flagship_s, n_windows = 1e18, 0
    fused_s, auto_s, chunked_noop_s, auto_pick = 0.0, 0.0, 0.0, None
    if measure_variants:
        from seizury_hrv_featuresextraction_spark.plans.hrv_pipeline import (
            choose_fused,
            plan_stats,
        )

        auto_pick = "fused" if choose_fused(plan_stats(seq, DEFAULT_CONFIG), DEFAULT_CONFIG) else "chunked"
        fused_s = auto_s = chunked_noop_s = 1e18
    for _ in range(best_of):
        t0 = time.time()
        feats = extract_features(seq, ann, DEFAULT_CONFIG, fused=False)
        n_windows = feats.count()
        flagship_s = min(flagship_s, time.time() - t0)
        if measure_variants:
            # chunked under the SAME noop action as fused/auto — the
            # count()-based headline above is NOT comparable across
            # plans (different final action; the r4 auto-selection
            # confusion came from exactly that cross-action comparison)
            t0 = time.time()
            extract_features(seq, ann, DEFAULT_CONFIG, fused=False).write.format(
                "noop"
            ).mode("overwrite").save()
            chunked_noop_s = min(chunked_noop_s, time.time() - t0)
            t0 = time.time()
            extract_features(seq, ann, DEFAULT_CONFIG, fused=True).write.format(
                "noop"
            ).mode("overwrite").save()
            fused_s = min(fused_s, time.time() - t0)
            t0 = time.time()
            extract_features(seq, ann, DEFAULT_CONFIG).write.format("noop").mode(
                "overwrite"
            ).save()
            auto_s = min(auto_s, time.time() - t0)
    results["hrv_features_flagship"] = round(flagship_s, 3)
    seq.unpersist()

    if os.environ.get("SPARK_GRAFT_BENCH_ONLY_FLAGSHIP", "") != "1":
        for name in HEADLINE:
            fn = QUERIES[name]
            best = 1e18
            for _ in range(best_of):
                t0 = time.time()
                run_noop(fn(spark, sf_dir))
                best = min(best, time.time() - t0)
            results[name] = round(best, 3)

    total = round(sum(results.values()), 3)
    out = {
        "metric": "headline suite wall time (flagship HRV plan + operator queries)",
        "value": total,
        "unit": "sec",
        "queries": results,
        "sf": sf_dir,
        "cpus": cpus,
        "flagship": {
            "docs": int(n_docs),
            "tokens": int(n_tokens),
            "windows": int(n_windows),
            "tokens_per_sec": round(n_tokens / flagship_s, 1) if flagship_s > 0 else None,
            "windows_per_sec": round(n_windows / flagship_s, 1) if flagship_s > 0 else None,
            "sequences_per_sec": round(n_docs / flagship_s, 3) if flagship_s > 0 else None,
            "chunked_noop_tokens_per_sec": round(n_tokens / chunked_noop_s, 1) if chunked_noop_s > 0 else None,
            "fused_tokens_per_sec": round(n_tokens / fused_s, 1) if fused_s > 0 else None,
            "auto_tokens_per_sec": round(n_tokens / auto_s, 1) if auto_s > 0 else None,
            "auto_plan": auto_pick,
        },
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
