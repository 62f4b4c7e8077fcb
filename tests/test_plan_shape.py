"""Physical-plan regression gates (SURVEY.md §4 design goals).

The flagship plan's scale story is structural: column-pruned scan, ONE
exchange on the main branch (the skew rebalancing), broadcast label join,
no extra shuffles sneaking in through refactors. Assert it from
the executed plan text so a regression fails loudly.
"""

from __future__ import annotations

import re

from seizury_hrv_featuresextraction_spark.config import DEFAULT_CONFIG, HRVConfig
from seizury_hrv_featuresextraction_spark.datagen import make_annotations, make_sequences, write_parquet
from seizury_hrv_featuresextraction_spark.plans.hrv_pipeline import extract_features


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _setup(spark, tmp_path):
    seq = make_sequences(6, short_range=(500, 800), long_range=(1000, 1200))
    write_parquet(seq, str(tmp_path / "seq.parquet"))
    write_parquet(make_annotations(seq), str(tmp_path / "ann.parquet"))
    return (
        spark.read.parquet(str(tmp_path / "seq.parquet")),
        spark.read.parquet(str(tmp_path / "ann.parquet")),
    )


def test_flagship_plan_one_shuffle_and_pruned_scan(spark, tmp_path):
    sdf, adf = _setup(spark, tmp_path)
    plan = _plan(extract_features(sdf, adf, DEFAULT_CONFIG))

    main_branch = plan.split("BroadcastExchange")[0]
    exchanges = re.findall(r"Exchange (\w+)", main_branch)
    assert len(exchanges) == 1, f"main branch must have exactly one shuffle, got {exchanges}"
    assert "RoundRobinPartitioning" in main_branch

    # label join is broadcast, not shuffled
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

    # the scan reads only (doc_id, tokens) — column pruning reached
    # parquet (match on the column set; the tmp path gets truncated in
    # the plan string)
    scans = [set(c.split("#")[0] for c in m.split(",")) for m in re.findall(r"FileScan parquet \[([^\]]*)\]", plan)]
    assert {"doc_id", "tokens"} in scans, scans


def test_fused_plan_zero_shuffles(spark, tmp_path):
    sdf, _ = _setup(spark, tmp_path)
    plan = _plan(extract_features(sdf, None, DEFAULT_CONFIG, fused=True))
    assert "Exchange" not in plan, plan
    assert "FileScan parquet" in plan


def test_chunk_shuffle_sized_to_parallelism(spark, tmp_path):
    """The chunk shuffle runs one kernel task per slot, whatever the
    session's shuffle-partition default: AQE never coalesces a user-set
    repartition(n), so each partition past the slot count adds one more
    Python task's fixed cost."""
    sdf, adf = _setup(spark, tmp_path)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        plan = _plan(extract_features(sdf, adf, DEFAULT_CONFIG, fused=False))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    counts = [int(n) for n in re.findall(r"RoundRobinPartitioning\((\d+)\)", plan)]
    assert counts, plan
    assert set(counts) == {spark.sparkContext.defaultParallelism}, counts


def test_partition_pruned_bucket_scan(spark, tmp_path):
    """O3/O5: a bucket filter over the bucket=<k> directory layout must
    prune the file listing (PartitionFilters), not scan-and-discard."""
    import pandas as pd

    from pyspark.sql import functions as F

    pdf = pd.DataFrame({"doc_id": range(64), "n_chars": [10 * i for i in range(64)]})
    src = spark.createDataFrame(pdf).withColumn(
        "bucket", F.pmod(F.col("doc_id"), F.lit(8)).cast("int")
    )
    path = str(tmp_path / "docs_bucketed")
    src.write.mode("overwrite").partitionBy("bucket").parquet(path)

    scan = spark.read.parquet(path).filter(F.col("bucket") == 3)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "bucket" in m.group(1) and "3" in m.group(1), plan
    got = scan.agg(F.count(F.lit(1)).alias("n")).collect()[0].n
    assert got == 8


def test_label_side_stays_small_aggregates(spark, tmp_path):
    """The annotation branch may shuffle (it is tiny); the big side must
    not re-shuffle after the kernel stage."""
    sdf, adf = _setup(spark, tmp_path)
    plan = _plan(extract_features(sdf, adf, HRVConfig(max_windows_per_chunk=64)))
    after_kernel = plan.split("MapInArrow")[0]  # text above the top MapInArrow
    assert "Exchange" not in after_kernel.split("BroadcastExchange")[0].replace(
        "BroadcastExchange", ""
    )


def test_dedup_keeper_no_broadcast_of_groups(spark):
    """VERDICT r2 item 2: the exact-dedup keeper view must not broadcast
    the fingerprint-groups table (one row per DISTINCT document — an
    unbounded side at 100 TB). The window formulation shuffles once on
    the 16-byte fp and never broadcasts."""
    import pandas as pd

    from seizury_hrv_featuresextraction_spark.operators.dedup import dedup_exact_keep

    pdf = pd.DataFrame(
        {"doc_id": range(40), "text": [f"doc {i % 10} body" for i in range(40)]}
    )
    keep = dedup_exact_keep(spark.createDataFrame(pdf), "text", "doc_id")
    plan = _plan(keep)
    assert "BroadcastExchange" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    # exactly one shuffle: the fp window partitioning
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    got = sorted(r.doc_id for r in keep.collect())
    assert got == list(range(10))


def test_curation_ops_plan_shapes(spark):
    """E15 scale contract: the per-group cap shuffles exactly once (the
    group-key window) and never broadcasts."""
    import pandas as pd

    from seizury_hrv_featuresextraction_spark.operators.stats import cap_per_group

    pdf = pd.DataFrame(
        {"doc_id": range(100), "lang": ["en" if i % 2 else "de" for i in range(100)],
         "src": [f"s{i % 5}" for i in range(100)]}
    )
    df = spark.createDataFrame(pdf)

    capped = cap_per_group(df, "doc_id", "src", k=3)
    plan = _plan(capped)
    assert "BroadcastExchange" not in plan, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan


def test_spread_conditional_no_shuffle_on_wide_input(spark, tmp_path):
    """VERDICT r3 item 2: spread() must NOT add a RoundRobin exchange when
    the scan already has >= defaultParallelism splits — at 100 TB an
    unconditional repartition would shuffle the full raw corpus at the
    head of every dedup/similarity op. A 1-split input must still be
    spread (the manufactured-parallelism case this helper exists for)."""
    from seizury_hrv_featuresextraction_spark.operators.dedup import spread

    wide = str(tmp_path / "wide")
    spark.range(0, 4000).repartition(16).write.mode("overwrite").parquet(wide)
    out = spread(spark.read.parquet(wide))
    assert "RoundRobinPartitioning" not in _plan(out), _plan(out)

    narrow = str(tmp_path / "narrow")
    spark.range(0, 4000).coalesce(1).write.mode("overwrite").parquet(narrow)
    out2 = spread(spark.read.parquet(narrow))
    assert "RoundRobinPartitioning" in _plan(out2), _plan(out2)


def test_flagship_auto_plan_selection(spark, tmp_path):
    """VERDICT r3 item 3: extract_features defaults to AUTO plan selection
    from table stats. A 1-split scan must choose the chunked plan (the
    repartition manufactures parallelism); a wide scan of bounded docs
    must choose fused (zero Exchange)."""
    from seizury_hrv_featuresextraction_spark.plans.hrv_pipeline import (
        choose_fused,
        plan_stats,
    )

    sdf, adf = _setup(spark, tmp_path)  # single parquet file -> 1 split
    stats = plan_stats(sdf, DEFAULT_CONFIG)
    assert stats["n_splits"] < stats["parallelism"]
    assert choose_fused(stats, DEFAULT_CONFIG) is False
    plan = _plan(extract_features(sdf, adf, DEFAULT_CONFIG))
    assert "RoundRobinPartitioning" in plan

    wide = str(tmp_path / "seq_wide")
    sdf.repartition(8).write.mode("overwrite").parquet(wide)
    wdf = spark.read.parquet(wide)
    wstats = plan_stats(wdf, DEFAULT_CONFIG)
    assert wstats["n_splits"] >= wstats["parallelism"], wstats
    assert wstats["max_windows_per_doc"] is not None
    assert wstats["total_tokens"] is not None
    # VERDICT r4 item 3: a wide-but-SMALL job picks fused — below the
    # measured token-volume crossover the job is overhead-dominated and
    # fused's avoided shuffle round-trip is the whole gap
    from seizury_hrv_featuresextraction_spark.plans.hrv_pipeline import (
        _FUSED_MAX_TOKENS_PER_CORE,
    )

    assert wstats["total_tokens"] <= _FUSED_MAX_TOKENS_PER_CORE * wstats["parallelism"]
    assert choose_fused(wstats, DEFAULT_CONFIG) is True
    plan = _plan(extract_features(wdf, None, DEFAULT_CONFIG, stats=wstats))
    assert "Exchange" not in plan, plan
    # ...and the same layout above the crossover flips to chunked (the
    # rebalancing side wins once per-core work amortizes the shuffle)
    big = dict(wstats, total_tokens=_FUSED_MAX_TOKENS_PER_CORE * wstats["parallelism"] + 1)
    assert choose_fused(big, DEFAULT_CONFIG) is False

    # a table whose max n_tok implies a straggler doc refuses fused even
    # when wide and small (the chunk cap bounds per-task work)
    huge = dict(wstats, max_windows_per_doc=DEFAULT_CONFIG.max_windows_per_chunk * 9)
    assert choose_fused(huge, DEFAULT_CONFIG) is False


def test_url_dedup_one_shuffle_no_broadcast(spark):
    """E21 scale contract: URL normalization + domain extraction are
    scan-stage expressions; the dedup is ONE hash shuffle on the
    normalized-URL key (rollup: one on domain), nothing broadcasts."""
    import pandas as pd

    from seizury_hrv_featuresextraction_spark.operators.dedup import (
        derive_url,
        domain_url_rollup,
        url_dedup,
    )

    pdf = pd.DataFrame({"doc_id": range(200), "source": [f"s{i % 7}" for i in range(200)]})
    df = derive_url(spark.createDataFrame(pdf))

    plan = _plan(url_dedup(df))
    assert "BroadcastExchange" not in plan, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan

    plan = _plan(domain_url_rollup(df))
    assert "BroadcastExchange" not in plan, plan
    # groupBy(domain) + exact countDistinct = the standard two-phase
    # distinct aggregate: both exchanges hash on the domain key
    for m in re.findall(r"Exchange hashpartitioning\(([^,]+)", plan):
        assert "domain" in m, plan


def test_blocklist_filter_broadcast_anti_join(spark):
    """E24 scale contract: the blocklist rides as the broadcast side of a
    LEFT ANTI join — the corpus never shuffles for the filter."""
    import pandas as pd

    from seizury_hrv_featuresextraction_spark.operators.dedup import (
        blocklist_filter,
        derive_url,
    )

    pdf = pd.DataFrame({"doc_id": range(100), "source": [f"s{i % 5}" for i in range(100)]})
    docs = derive_url(spark.createDataFrame(pdf))
    blocked = spark.createDataFrame([("s1.example.com",), ("s3.example.com",)], "domain string")
    out = blocklist_filter(docs, blocked)
    got = out.toPandas()  # execute: AQE replans the join once sizes are known
    plan = _plan(out)
    assert "isFinalPlan=true" in plan, plan
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final and "LeftAnti" in final, plan
    assert "SortMergeJoin" not in final, plan
    assert len(got) == 60
    assert all(int(s[1:]) % 5 not in (1, 3) for s in got["source"])


def test_bucketed_colocated_join_zero_exchange(spark, tmp_path):
    """E29: storage-bucketed layout (bucketBy on the join key, both
    sides, same bucket count) lets repeated doc-key joins run with ZERO
    exchanges AND zero sorts — the 100 TB co-location move for
    features x labels / dedup-verdicts x corpus joins that would
    otherwise shuffle the full corpus every time."""
    from pyspark.sql import functions as F

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # one file per bucket (repartition on the bucket key before the
        # write) — Spark only trusts the sortBy order, and elides the
        # join-side Sort, when a bucket is a single file
        a = spark.range(0, 2000).withColumn("v", F.col("id") * 2).repartition(8, "id")
        b = spark.range(0, 2000).withColumn("w", F.col("id") + 1).repartition(8, "id")
        a.write.mode("overwrite").bucketBy(8, "id").sortBy("id").saveAsTable("bkt_a")
        b.write.mode("overwrite").bucketBy(8, "id").sortBy("id").saveAsTable("bkt_b")
        j = spark.table("bkt_a").join(spark.table("bkt_b"), "id").select("id", "v", "w")
        plan = _plan(j)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        # NOTE: the residual per-task Sort stays — since Spark 3.0 the
        # sortBy layout's output ordering is only honored behind
        # spark.sql.legacy.bucketedTableScan.outputOrdering (multi-file
        # correctness); the co-location win is the eliminated Exchange
        # (the sort is per-bucket local work, the shuffle is the
        # all-to-all network move that dominates at 100 TB).
        assert j.count() == 2000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_aqe_skew_join_splits_hot_partition(spark, tmp_path):
    """Runtime skew mitigation: for plain joins the engine leans on AQE's
    skew-join (OptimizeSkewedJoin splits oversized partitions at runtime)
    instead of hand-salting — hand-salting is reserved for the flagship's
    kernel stage where the skew unit is a single oversized document
    (operators/skew.py chunk split). Asserts the FINAL adaptive plan
    marked the hot-key join skew=true under thresholds scaled to the
    fixture."""
    import pandas as pd
    from pyspark.sql import functions as F

    prev = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # scale the skew thresholds down so a ~MB hot partition counts as skewed
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    try:
        # left: 200k rows, 95% on one hot key; right: uniform dimension
        n = 200_000
        left = spark.range(n).select(
            F.when(F.col("id") % 20 != 0, F.lit(7)).otherwise(F.col("id") % 1000).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 10).alias("w"))
        j = left.join(right, "k")
        # execute THIS DataFrame (count() would build a different plan
        # tree and leave j's adaptive plan unfinalized)
        assert len(j.collect()) == n
        plan = _plan(j)
        assert "isFinalPlan=true" in plan, plan
        final = plan.split("== Initial Plan ==")[0]
        assert "skew=true" in final, final
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_curation_pipeline_three_shuffles(spark):
    """E30 composed-pipeline scale contract: URL dedup -> Gopher filter ->
    exact dedup -> per-source cap is exactly THREE hash shuffles (url_norm
    window, content-fp window, source window); everything between is
    scan-stage, nothing broadcasts, nothing sort-merge-joins."""
    import pandas as pd
    from pyspark.sql import functions as F

    from seizury_hrv_featuresextraction_spark.operators.curation import (
        gopher_repetition_filter,
    )
    from seizury_hrv_featuresextraction_spark.operators.dedup import (
        dedup_exact_keep,
        derive_url,
        url_dedup_keep,
    )
    from seizury_hrv_featuresextraction_spark.operators.stats import cap_per_group

    pdf = pd.DataFrame(
        {
            "doc_id": range(200),
            "source": [f"s{i % 4}" for i in range(200)],
            "text": [" ".join(f"tok{i}x{j}" for j in range(30)) for i in range(200)],
        }
    )
    docs = spark.createDataFrame(pdf).repartition(8)
    u = url_dedup_keep(derive_url(docs)).drop("url")
    g = gopher_repetition_filter(u)
    e = dedup_exact_keep(g, "text", "doc_id")
    c = cap_per_group(e, "doc_id", "source", k=20).select("doc_id", "source", "domain")
    plan = _plan(c)
    assert "BroadcastExchange" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    hashex = re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    assert len(hashex) == 3, (hashex, plan)
    assert c.count() > 0


def test_substring_dup_spans_two_shuffles_no_join(spark):
    """E36 scale contract: substring dedup is exactly TWO hash shuffles —
    one on the 8-byte shingle hash (window count; the shuffle never
    carries shingle text or documents), one on doc_id shared by the
    lag/running-sum/span-agg trio — with zero joins and zero broadcasts
    (no join-back of a duplicated-shingle set)."""
    import re

    import pandas as pd

    from seizury_hrv_featuresextraction_spark.operators.dedup import substring_dup_spans

    base = " ".join(f"w{j}" for j in range(40))
    pdf = pd.DataFrame(
        {
            "doc_id": range(60),
            "text": [base + f" tail{i} " + " ".join(f"u{i}x{j}" for j in range(15)) for i in range(60)],
        }
    )
    docs = spark.createDataFrame(pdf).repartition(8)
    out = substring_dup_spans(docs, "text", "doc_id", n=10)
    plan = _plan(out)
    assert "BroadcastExchange" not in plan, plan
    assert "Join" not in plan, plan
    keys = re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    assert len(keys) == 2, (keys, plan)
    assert any(k.strip().startswith("h#") for k in keys), keys
    assert any(k.strip().startswith("doc_id#") for k in keys), keys
    # semantics: the shared 40-word prefix is one merged span per doc
    rows = out.collect()
    assert len(rows) == 60
    assert all(r["span_start"] == 1 and r["span_end"] == 40 and r["span_words"] == 40 for r in rows)


def test_containment_candidates_hash_join_no_cartesian(spark):
    """E46 scale contract (r7): candidate generation self-joins on the
    8-byte xxhash64(shingle) key — never a cartesian/nested-loop pair
    enumeration, never a join on shingle TEXT — and the pair count is a
    hash aggregate (map-side combine on the pair key)."""
    import re

    import pandas as pd

    from seizury_hrv_featuresextraction_spark.operators.dedup import (
        containment_candidate_pairs,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": range(40),
            "text": [" ".join(f"d{i}w{j}" for j in range(20)) for i in range(40)],
        }
    )
    docs = spark.createDataFrame(pdf).repartition(8)
    # disable auto-broadcast so the tiny test input shows the at-scale
    # join strategy (at 100 TB neither shingle side broadcasts)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = containment_candidate_pairs(docs, "text", "doc_id", 3, min_containment=0.8)
        plan = _plan(out)
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
        # the self-join partitions on the hash column h, not on shingle strings
        keys = [k.strip() for k in re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)]
        assert any(k.startswith("h#") for k in keys), (keys, plan)
        assert "HashAggregate" in plan, plan
        # all-unique vocab: zero candidate pairs
        assert out.count() == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_scan_num_partitions_guard(spark):
    """planutil.scan_num_partitions: narrow plans (scans, cached
    relations, project/filter over either) report their split count;
    wide uncached plans return None (probing .rdd there could finalize
    the AQE plan and execute shuffle stages — ADVICE r4)."""
    from pyspark.sql import functions as F

    from seizury_hrv_featuresextraction_spark.planutil import scan_num_partitions

    assert scan_num_partitions(spark.range(100)) is not None
    wide = spark.range(100).groupBy((F.col("id") % 10).alias("k")).count()
    assert scan_num_partitions(wide) is None
    cached = spark.range(100).groupBy((F.col("id") % 10).alias("k")).agg(F.sum("id").alias("v")).persist()
    try:
        cached.count()
        # the cache is a LEAF to this query even though its stored plan
        # text embeds aggregates/exchanges — must probe, not refuse
        n = scan_num_partitions(cached)
        assert n is not None and n >= 1
        assert scan_num_partitions(cached.filter(F.col("v") >= 0).select("k")) == n
    finally:
        cached.unpersist()


def test_literal_array_coerces_and_rejects_non_finite(spark):
    """planutil.literal_array formats NumPy scalars as plain numbers
    (numpy>=2 repr is 'np.int64(5)') and refuses values whose repr
    would not parse as a number."""
    import numpy as np
    import pytest

    from seizury_hrv_featuresextraction_spark.planutil import literal_array

    row = spark.range(1).select(
        literal_array([np.int64(5), 3, np.int32(-2)], "BIGINT").alias("i"),
        literal_array([np.float64(0.1), 2, 1e-300], "DOUBLE").alias("d"),
    ).first()
    assert row["i"] == [5, 3, -2]
    assert row["d"] == [0.1, 2.0, 1e-300]
    for bad in (float("inf"), float("nan")):
        with pytest.raises(ValueError):
            literal_array([1.0, bad], "DOUBLE")


def test_winnowing_and_budget_select_plan_shapes(spark):
    """E50/E51 scale contracts: winnowing fingerprinting is pure
    scan-stage (zero hash shuffles, zero joins — the whole selection is
    in-row expressions); budget selection shuffles exactly once (the
    source-key window) with no broadcast (the model is a plan literal)."""
    import pandas as pd

    from seizury_hrv_featuresextraction_spark.operators.curation import (
        md5_feature_weights,
        quality_budget_select,
    )
    from seizury_hrv_featuresextraction_spark.operators.dedup import winnowing_fingerprints

    pdf = pd.DataFrame(
        {
            "doc_id": range(50),
            "source": [f"s{i % 4}" for i in range(50)],
            "text": [" ".join(f"v{i}x{j}" for j in range(20)) for i in range(50)],
        }
    )
    df = spark.createDataFrame(pdf).repartition(8)

    plan = _plan(winnowing_fingerprints(df, "text", "doc_id"))
    assert "Join" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BroadcastExchange" not in plan, plan

    plan = _plan(quality_budget_select(df, md5_feature_weights(32), budget=100))
    assert "BroadcastExchange" not in plan, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan

    # E51b salted path: every corpus-sized exchange keys on (source, __b)
    # — a hot source spreads over n_salts tasks — and the quantile cuts +
    # exclusive offsets ride broadcasts, never shuffled joins; no window
    # partitioned by source alone orders by prob (that would be the
    # single-task straggler the salt exists to kill)
    plan = _plan(
        quality_budget_select(df, md5_feature_weights(32), budget=100, salted=True, n_salts=8)
    )
    assert re.search(r"Exchange hashpartitioning\(source#\d+, __b#\d+", plan), plan
    assert "BroadcastExchange" in plan, plan
    assert not re.search(r"windowspecdefinition\(source#\d+, prob", plan), plan


def test_tokenizer_pipeline_two_corpus_exchanges(spark):
    """E75 composed-pipeline scale contract: encode (plan-literal
    folds) -> BFD packing -> delivery-order manifest is exactly TWO
    corpus hash exchanges (the packing shard shuffle + the (shard, bin)
    manifest agg) with zero joins of any kind — training the merges
    driver-local (E52c) keeps the merge list out of the plan entirely.
    The bounded word-frequency shuffle happens at TRAIN time (separate
    action), not in this plan."""
    import re

    import pandas as pd
    from pyspark.sql import functions as F

    from seizury_hrv_featuresextraction_spark.operators.curation import (
        bpe_encode,
        bpe_train_merges_local,
    )
    from seizury_hrv_featuresextraction_spark.operators.stats import (
        pack_sequences_bfd,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": range(120),
            "text": [" ".join(f"w{j % 9}" for j in range(5 + i % 17)) for i in range(120)],
        }
    )
    docs = spark.createDataFrame(pdf).repartition(8)
    merges = bpe_train_merges_local(docs, "text", k=6)
    enc = bpe_encode(docs, merges)
    packed = pack_sequences_bfd(
        enc, "doc_id", "n_tokens", budget=64, n_shards=4, carry=("tok_md5",)
    )
    out = packed.groupBy("shard", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("bin_tokens")
    )
    plan = _plan(out)
    assert "Join" not in plan, plan
    assert "BroadcastExchange" not in plan, plan
    hashex = re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    assert len(hashex) == 2, (hashex, plan)
    assert "Exchange rangepartitioning" not in plan, plan
    rows = out.collect()
    assert rows and sum(r["n_docs"] for r in rows) == 120
