"""spark-submit entry point for the flagship job.

Package and launch:

    cd /root/repo
    zip -r /tmp/seizury_spark.zip seizury_hrv_featuresextraction_spark
    spark-submit --py-files /tmp/seizury_spark.zip tools/submit_job.py \
        --sequences /data/sequences_parquet \
        --annotations /data/annotations_parquet \
        --output /data/features_out \
        --buckets 64

Runs the resumable bucket-at-a-time flagship plan (checkpoint.py) in the
engine's session (``session.get_spark``) on the master spark-submit was
given: on a restart with the same config it skips every bucket whose
lineage manifest matches the config md5.
"""

from __future__ import annotations

import argparse
import json


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sequences", required=True)
    ap.add_argument("--annotations", default=None)
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--sph-seconds", type=float, default=180.0)
    ap.add_argument("--window-seconds", type=float, default=30.0)
    ap.add_argument("--stride-seconds", type=float, default=5.0)
    ap.add_argument(
        "--no-check-input",
        action="store_true",
        help="skip the input-fingerprint pre-pass: resumes trust config+output "
        "alone and manifests are stamped input_fp='disabled', so a later "
        "validating (default) run recomputes those buckets rather than "
        "serving output whose input was never validated",
    )
    args = ap.parse_args()

    from pyspark import SparkConf, SparkContext

    from seizury_hrv_featuresextraction_spark.checkpoint import run_resumable
    from seizury_hrv_featuresextraction_spark.config import HRVConfig
    from seizury_hrv_featuresextraction_spark.session import get_spark

    # attach to spark-submit's JVM first, so the conf holds its --master
    SparkContext._ensure_initialized()
    spark = get_spark("seizury-hrv-features", master=SparkConf().get("spark.master", None))
    cfg = HRVConfig(
        sph_seconds=args.sph_seconds,
        window_seconds=args.window_seconds,
        stride_seconds=args.stride_seconds,
    )
    seq = spark.read.parquet(args.sequences)
    ann = spark.read.parquet(args.annotations) if args.annotations else None
    results = run_resumable(
        spark, seq, ann, args.output, cfg,
        n_buckets=args.buckets, check_input=not args.no_check_input,
    )
    from seizury_hrv_featuresextraction_spark.checkpoint import list_snapshots

    snaps = list_snapshots(args.output)
    print(json.dumps({
        "buckets": [
            {"bucket": r.bucket, "status": r.status, "rows": r.row_count,
             "rows_per_s": round(r.rows_per_s, 1)}
            for r in results
        ],
        "snapshot": snaps[-1]["version"] if snaps else None,
        "config_hash": cfg.config_hash(),
    }))


if __name__ == "__main__":
    main()
