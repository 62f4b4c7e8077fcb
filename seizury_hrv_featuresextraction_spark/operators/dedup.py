"""Deduplication operators for training-data pipelines.

Exact (hash-groupBy), MinHash+LSH banding, SimHash, n-gram Jaccard, and
embedding-cosine near-dup — each returns a DataFrame and composes with
the rest of the engine. Scale notes per operator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import doc_fingerprint, simhash64, word_shingles_of, words
from ..functions.vectors import cosine, lsh_band_buckets, lsh_bucket, to_double


def spread(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Repartition a narrow-but-CPU-heavy input (e.g. a single small
    parquet file read as 1 split) up to cluster parallelism. At 100 TB
    inputs already arrive in many splits and this is a no-op."""
    from ..planutil import scan_num_partitions

    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    # conditional: df.repartition() ALWAYS materializes a RoundRobin
    # exchange (AQE can coalesce its output but never delete it), so at
    # 100 TB an unconditional call would shuffle the full raw corpus at
    # the head of every dedup/similarity op. The split probe is a pure
    # metadata lookup only for NARROW plans — scan_num_partitions guards
    # the plan shape first (touching .rdd on a plan with exchanges would
    # finalize the AQE plan and can eagerly run shuffle stages), and
    # returns None for wide/unknown plans, which falls through to the
    # conservative repartition.
    n_parts = scan_num_partitions(df)
    if n_parts is not None and n_parts >= target:
        return df
    return df.repartition(target)


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup on normalized-text fingerprint. One shuffle on the
    16-byte fingerprint (not the full text). Keeps min(id) per group."""
    fp = df.select(F.col(id_col), doc_fingerprint(F.col(text_col)).alias("fp"))
    groups = fp.groupBy("fp").agg(
        F.min(id_col).alias("keeper_id"),
        F.count(F.lit(1)).alias("group_size"),
    )
    return groups


def dedup_exact_keep(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """The deduplicated view: one row per fingerprint (the keeper =
    min(id) in the group), computed as a window over the fingerprint —
    ONE shuffle on the 16-byte fp and zero broadcasts. (The previous
    self-join broadcast the full fingerprint-groups table: one row per
    DISTINCT document, i.e. billions of rows at 100 TB — a driver-OOM
    scale-killer that a green small-SF row hides.)"""
    from pyspark.sql import Window

    fp = df.withColumn("fp", doc_fingerprint(F.col(text_col)))
    keeper = F.min(id_col).over(Window.partitionBy("fp"))
    return (
        fp.withColumn("__keeper", keeper)
        .filter(F.col(id_col) == F.col("__keeper"))
        .drop("fp", "__keeper")
    )


def minhash_signature_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 8,
    shingle_words: int = 3,
) -> DataFrame:
    """(id, mh0..mh{n-1}): MinHash signature via explode + codegen'd min
    aggregations — same values as functions.text.minhash_signature
    (min over shingles of md5(seed ':' shingle)) but whole-stage-codegen
    instead of nested interpreted higher-order expressions. Docs with no
    shingles drop out (explode of an empty array)."""
    sh = (
        spread(df)
        .select(F.col(id_col).alias("id"), words(F.col(text_col)).alias("__ws"))
        .select("id", F.explode(word_shingles_of(F.col("__ws"), shingle_words)).alias("s"))
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{k}:"), F.col("s")))).alias(f"mh{k}")
        for k in range(n_hashes)
    ]
    return sh.groupBy("id").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 8,
    band_size: int = 2,
    shingle_words: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs via MinHash banding.

    signature (n_hashes minhashes) -> bands of band_size -> self-join on
    (band_idx, band_value) -> distinct (a < b) pairs. The join key is a
    short string; the shuffle carries only (id, band) rows — at 100 TB
    this is the standard shingle->minhash->band->bucket-join plan, and
    hot buckets (boilerplate docs) are the skew case AQE handles.
    """
    n_bands = n_hashes // band_size
    sig = minhash_signature_table(df, text_col, id_col, n_hashes, shingle_words)
    # single-pass banding: ONE posexplode over an array of band values —
    # the signature aggregate is scanned exactly once by construction
    # (the previous n_bands-way union relied on Catalyst exchange reuse
    # to avoid recomputing the groupBy per branch)
    bands = sig.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "|", *[F.col(f"mh{b * band_size + j}") for j in range(band_size)]
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    left = bands.alias("l")
    right = bands.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    return pairs


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_words: int = 3,
    min_jaccard: float = 0.0,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard: |A∩B| and |A∪B| = |A|+|B|-∩ over distinct
    word shingles.

    Two plans:

    - ``candidates`` given (THE SCALE PATH — e.g. ``minhash_lsh_pairs``):
      candidate-pair VERIFICATION. Each doc's distinct-shingle set rides
      as one array column; two hash joins on doc id attach both sets to
      each candidate pair and the intersection is a native
      ``array_intersect`` — work is O(|candidates| * shingles/doc), never
      quadratic, and the shingle self-join is never built.
    - ``candidates=None`` (correctness baseline, bounded inputs only):
      the unrestricted shingle self-join — quadratic in hot-shingle
      frequency, kept for oracle parity checks at small SF.
    """
    if candidates is not None:
        sets = (
            spread(df)
            .select(F.col(id_col).alias("id"), words(F.col(text_col)).alias("__ws"))
            .select("id", word_shingles_of(F.col("__ws"), shingle_words).alias("sg"))
        )
        sa = sets.select(F.col("id").alias("id_a"), F.col("sg").alias("sg_a"))
        sb = sets.select(F.col("id").alias("id_b"), F.col("sg").alias("sg_b"))
        out = (
            candidates.select("id_a", "id_b")
            .join(sa, "id_a")
            .join(sb, "id_b")
            .select(
                "id_a",
                "id_b",
                F.size(F.array_intersect("sg_a", "sg_b")).cast("long").alias("n_inter"),
                F.size("sg_a").alias("n_a"),
                F.size("sg_b").alias("n_b"),
            )
            .withColumn(
                "jaccard", F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            )
        )
        return out.filter(F.col("jaccard") >= min_jaccard).select(
            "id_a", "id_b", "n_inter", "jaccard"
        )

    sh = (
        spread(df)
        .select(F.col(id_col).alias("id"), words(F.col(text_col)).alias("__ws"))
        .select("id", F.explode(word_shingles_of(F.col("__ws"), shingle_words)).alias("sh"))
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    # no broadcast hints: the sizes table is one row per doc (unbounded at
    # corpus scale) — let AQE broadcast only when it is measured-small
    out = (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn("jaccard", F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")))
    )
    return out.filter(F.col("jaccard") >= min_jaccard).select("id_a", "id_b", "n_inter", "jaccard")


def simhash_table(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, sh): 60-bit SimHash per doc via explode + 60 codegen'd sums.

    Semantically identical to functions.text.simhash64 (bit k set iff
    sum over tokens of (2*bit_k - 1) > 0) but evaluated as a whole-stage-
    codegen aggregation instead of a nested interpreted higher-order
    expression — ~10x faster on wide corpora.
    """
    # tokenization as a codegen'd split+explode instead of the interpreted
    # words() higher-order filter: empty-string tokens survive the split
    # but carry h = NULL, which contributes nothing to any bit sum while
    # keeping every doc's group alive (same role the explode_outer null
    # played) — measured 2.4 -> 1.3 s at sf1.0 together with the
    # single-shuffle aggregation below, output identical.
    toks = spread(df).select(
        F.col(id_col).alias("id"),
        F.explode_outer(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("w"),
    ).select(
        "id",
        F.when(
            F.col("w") != "",
            F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long"),
        ).alias("h"),
    )
    # ONE shuffle: 60 partial bit-count sums + the token count straight
    # off the exploded rows (sum over tokens of (2b-1) == 2*sum(b) - n);
    # map-side partial aggregation ships 61 longs per (task, doc) — the
    # previous (id, h) pre-collapse bought ~2.3x fewer rows into the wide
    # aggregate but paid a second exchange and a second hash-agg pass,
    # which measured strictly slower on this corpus (r9 A/B).
    # no when/isNotNull wrapper: sum() skips NULL inputs, and a group of
    # only NULL hashes (empty doc) sums to NULL, whose `NULL > 0` final
    # term is false -> bit 0 — identical output with ~half the generated
    # aggregate code (this query's wall at small SF is dominated by the
    # per-run janino compile of the 61-buffer hash agg, measured ~1.8 s
    # fixed at 50 docs; the leaner exprs cut it to ~1.4 s)
    sums = [
        F.sum(F.shiftright(F.col("h"), k).bitwiseAND(F.lit(1).cast("long"))).alias(f"s{k}")
        for k in range(60)
    ] + [F.count("h").alias("__n")]
    agg = toks.groupBy("id").agg(*sums)
    sh = None
    for k in range(60):
        term = F.when(
            F.col(f"s{k}") * 2 - F.col("__n") > 0, F.lit(1 << k).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        sh = term if sh is None else sh + term
    return agg.select("id", sh.alias("sh"))


def simhash_near_dups(df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs: 60-bit simhash, blocked by 4 x 15-bit
    chunks (any pair within hamming distance 3 shares at least one exact
    chunk — pigeonhole), verified with bit_count on the xor."""
    sig = (
        spread(df)
        .select(F.col(id_col).alias("id"), words(F.col(text_col)).alias("__ws"))
        .select("id", simhash64(F.col("__ws")).alias("sh"))
    )
    chunks = sig.select(
        "id",
        "sh",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(3)),
                lambda c: F.struct(
                    c.alias("chunk_idx"),
                    F.call_function("shiftright", F.col("sh"), (c * 15).cast("int"))
                    .bitwiseAND(F.lit((1 << 15) - 1))
                    .alias("chunk_val"),
                ),
            )
        ).alias("c"),
    ).select("id", "sh", "c.chunk_idx", "c.chunk_val")
    a, b = chunks.alias("a"), chunks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a.sh").alias("sh_a"), F.col("b.sh").alias("sh_b"))
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs.select("id_a", "id_b", "hamming")


def embedding_near_dups(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    min_cosine: float = 0.95,
    n_planes: int = 0,
    n_bands: int = 1,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-dup pairs.

    n_planes=0: brute-force all pairs (correctness baseline — only for
    bounded inputs). n_planes>0, n_bands=1: single-table random-hyperplane
    LSH blocking (recall p^n_planes — lossy; kept for the twin history).
    n_planes>0, n_bands>1: THE SCALE PATH — band-OR over ``n_bands``
    independent hyperplane tables (AND-OR amplification): a pair is a
    candidate if any band's bucket matches, recall 1-(1-p^r)^B, then the
    exact cosine verifies each candidate. Measured at sf0.1 against the
    brute-force cos>=0.95 baseline in BENCH/dedup_paths.md.
    """
    base = spread(df).select(F.col(id_col).alias("id"), to_double(F.col(vec_col)).alias("v"))
    if n_planes > 0 and n_bands > 1:
        bands = base.select(
            "id",
            F.posexplode(lsh_band_buckets(F.col("v"), n_planes, n_bands, dim=dim)).alias(
                "band_idx", "bucket"
            ),
        )
        ba, bb = bands.alias("a"), bands.alias("b")
        cand = (
            ba.join(
                bb,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
        va = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
        vb = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
        return (
            cand.join(va, "id_a")
            .join(vb, "id_b")
            .select("id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("cos"))
            .filter(F.col("cos") >= min_cosine)
        )
    if n_planes > 0:
        base = base.withColumn("bucket", lsh_bucket(F.col("v"), n_planes, dim=dim))
        join_cond = (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id"))
    else:
        join_cond = F.col("a.id") < F.col("b.id")
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(b, join_cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cosine(F.col("a.v"), F.col("b.v")).alias("cos"),
        )
        .filter(F.col("cos") >= min_cosine)
    )


def connected_components(
    edges: DataFrame,
    id_col_a: str = "id_a",
    id_col_b: str = "id_b",
    nodes: DataFrame | None = None,
    max_iters: int = 25,
) -> DataFrame:
    """Dedup clustering: connected components over near-dup pairs.

    Iterative min-label propagation (the standard Spark CC pattern):
    every node starts as its own component; each round propagates the
    smallest known component id across edges until a fixpoint. Rounds
    needed = graph diameter (near-dup clusters are tiny, so 2-4 in
    practice); each round is one shuffle on the node id, and
    ``localCheckpoint`` truncates the lineage so plans stay flat at any
    iteration count. The fixpoint is unique, so the result is
    deterministic regardless of execution order.

    ``nodes`` (one ``id`` column) adds isolated docs as singleton
    components; defaults to the ids appearing in ``edges``.
    Returns (id, component) with component = min id in the component.
    """
    e = edges.select(F.col(id_col_a).alias("src"), F.col(id_col_b).alias("dst"))
    # materialize the (sparse) symmetric edge set ONCE: without this,
    # every iteration's propagate join AND every changed-count action
    # re-executes the caller's full edge-derivation plan (e.g. the
    # 9M-pair Fellegi-Sunter scoring upstream of golden_record) — the
    # same lineage-truncation discipline the per-round labels already
    # use. Edges here are the post-threshold sparse matches, the same
    # storage class as the labels table.
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    if nodes is None:
        nodes = sym.select(F.col("src").alias("id")).distinct()
    labels = nodes.select("id", F.col("id").alias("comp")).localCheckpoint(eager=True)
    for _ in range(max_iters):
        prop = sym.join(labels, sym["src"] == labels["id"]).select(
            F.col("dst").alias("id"), "comp"
        )
        new_labels = (
            labels.unionByName(prop).groupBy("id").agg(F.min("comp").alias("comp"))
        ).localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # loop exhausted without reaching the fixpoint: the partial labels
        # would silently split components (pathological long-chain graphs
        # whose diameter exceeds max_iters) — fail loudly instead.
        raise RuntimeError(
            f"connected_components did not converge within max_iters={max_iters}; "
            "the dedup graph's diameter exceeds the iteration budget — raise max_iters"
        )
    return labels


# ---------------------------------------------------------------------------
# E21: URL/domain-scoped dedup (VERDICT r3 item 7). Real curation
# pipelines (CCNet/RefinedWeb-style) dedup by normalized URL before any
# text pass and apply per-domain policies. The testdata carries no url
# column, so ``derive_url`` synthesizes one deterministically from
# (source, doc_id) — messy on purpose (mixed-case scheme/host, tracking
# query params, trailing slashes, shared page paths) so normalization
# does real work; the DuckDB twin derives the identical strings.
# ---------------------------------------------------------------------------


def derive_url(df: DataFrame, id_col: str = "doc_id", source_col: str = "source") -> DataFrame:
    """Deterministic synthetic URL per doc (no RNG, twin-reproducible):
    scheme/host case, a tracking query string and a trailing slash vary
    by doc_id residues; docs sharing (source, doc_id//40) share a page
    path, so normalized-URL duplicate groups exist by construction."""
    i = F.col(id_col)
    scheme = F.when(i % 2 == 0, F.lit("https://")).otherwise(F.lit("HTTPS://"))
    hostbase = F.concat(F.col(source_col), F.lit(".example.com"))
    host = F.when(i % 4 < 2, hostbase).otherwise(F.upper(hostbase))
    path = F.concat(F.lit("/page-"), F.floor(i / 40).cast("long").cast("string"))
    slash = F.when(i % 5 == 0, F.lit("/")).otherwise(F.lit(""))
    qs = F.when(
        i % 3 == 0,
        F.concat(F.lit("?utm_source=feed&ref="), F.substring(F.md5(i.cast("string")), 1, 4)),
    ).otherwise(F.lit(""))
    return df.withColumn("url", F.concat(scheme, host, path, slash, qs))


def normalize_url(url):
    """Canonical URL: strip query string + fragment, lowercase, strip
    trailing slashes. Mirrors the DuckDB twin expression exactly."""
    base = F.substring_index(F.substring_index(url, "?", 1), "#", 1)
    return F.regexp_replace(F.lower(base), "/+$", "")


def url_domain(norm_url):
    """Host part of an already-normalized URL."""
    return F.substring_index(F.substring_index(norm_url, "://", -1), "/", 1)


def url_dedup(df: DataFrame, url_col: str = "url", id_col: str = "doc_id") -> DataFrame:
    """URL-keyed exact dedup: one row per normalized URL with the keeper
    (min id) and group size. ONE shuffle on the normalized-URL string —
    normalization/domain extraction are scan-stage expressions, nothing
    broadcasts, so at 100 TB this is the same shape as dedup_exact."""
    norm = normalize_url(F.col(url_col))
    return (
        df.select(F.col(id_col).alias("id"), norm.alias("url_norm"))
        .groupBy("url_norm")
        .agg(F.min("id").alias("keeper_id"), F.count(F.lit(1)).alias("group_size"))
        .withColumn("domain", url_domain(F.col("url_norm")))
    )


def url_dedup_keep(df: DataFrame, url_col: str = "url", id_col: str = "doc_id") -> DataFrame:
    """Row-preserving URL dedup: the documents that SURVIVE the URL pass
    (keeper = min(id) per normalized URL), with the extracted ``domain``
    column riding along. Same scale shape as ``dedup_exact_keep``: one
    window shuffle on the normalized URL, zero broadcasts — the
    composable stage the E30 curation pipeline chains."""
    from pyspark.sql import Window

    d = df.withColumn("__url_norm", normalize_url(F.col(url_col))).withColumn(
        "domain", url_domain(F.col("__url_norm"))
    )
    keeper = F.min(id_col).over(Window.partitionBy("__url_norm"))
    return (
        d.withColumn("__ukeep", keeper)
        .filter(F.col(id_col) == F.col("__ukeep"))
        .drop("__url_norm", "__ukeep")
    )


def domain_url_rollup(df: DataFrame, url_col: str = "url", id_col: str = "doc_id") -> DataFrame:
    """Per-domain curation stats: docs, distinct normalized URLs, and
    how many docs URL-dedup would drop. One shuffle on the domain key
    (count_distinct is a partial-agg-friendly exact distinct here since
    urls within a domain are co-partitioned by the groupBy)."""
    norm = normalize_url(F.col(url_col))
    return (
        df.select(F.col(id_col).alias("id"), norm.alias("url_norm"))
        .withColumn("domain", url_domain(F.col("url_norm")))
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("url_norm").alias("n_urls"),
            (F.count(F.lit(1)) - F.countDistinct("url_norm")).alias("n_dup_docs"),
        )
    )


def blocklist_filter(
    df: DataFrame,
    blocked: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """E24: drop docs whose URL domain appears in a blocklist table
    (one ``domain`` column). LEFT ANTI join on the normalized domain —
    Spark broadcasts the blocklist when it is measured-small (AQE/size
    threshold; a few million domains fits comfortably), otherwise it
    degrades gracefully to a shuffle join on the short domain string.
    Domain extraction stays a scan-stage expression."""
    norm = normalize_url(F.col(url_col))
    with_domain = df.withColumn("domain", url_domain(norm))
    return with_domain.join(blocked.select("domain"), "domain", "left_anti").drop("domain")


def dedup_against_corpus(
    new_df: DataFrame,
    ref_df: DataFrame,
    text_col: str,
    id_col: str,
    near: bool = True,
    n_hashes: int = 4,
    band_size: int = 2,
    shingle_words: int = 3,
) -> DataFrame:
    """E47: CROSS-corpus dedup — drop new-crawl documents already
    present in (or near-duplicating) an existing corpus. Every other
    dedup op here is within-corpus; real ingestion is incremental, and
    the reference side is the accumulated training set, so this is the
    pass each new crawl snapshot runs FIRST (then within-crawl dedup on
    the survivors).

    Two stages, each an anti-join against the reference side:
    1. exact: drop new docs whose normalized-text fingerprint exists in
       the reference (left_anti on the 16-byte fp — the shuffle carries
       fingerprints, never text);
    2. near (``near=True``): drop new docs sharing any MinHash LSH band
       bucket with a reference doc (left_anti on (band_idx, band_val) —
       the same banding device as ``minhash_lsh_pairs``, so recall
       follows the band curve; survivors are banding-novel).

    Scale shape: both anti-joins shuffle on short keys (16-byte fp /
    band strings); the reference side at 100 TB is corpus-scale, so
    neither side broadcasts — a sort-merge/shuffled-hash anti-join on a
    uniformly-hashed key, or co-located joins when both sides live in
    the fp/band-bucketed layout (E13/E29). The reference side in
    steady state is a PRECOMPUTED fp/band table maintained
    incrementally (checkpoint pattern), not re-derived per crawl —
    derivation here keeps the operator self-contained.

    Returns the surviving new-crawl rows unchanged."""
    new_fp = new_df.withColumn("__fp", doc_fingerprint(F.col(text_col)))
    ref_fp = (
        ref_df.select(doc_fingerprint(F.col(text_col)).alias("__fp")).distinct()
    )
    survivors = new_fp.join(ref_fp, "__fp", "left_anti").drop("__fp")
    if not near:
        return survivors

    def bands(d: DataFrame) -> DataFrame:
        sig = minhash_signature_table(d, text_col, id_col, n_hashes, shingle_words)
        n_bands = n_hashes // band_size
        return sig.select(
            "id",
            F.posexplode(
                F.array(
                    *[
                        F.concat_ws(
                            "|", *[F.col(f"mh{b * band_size + j}") for j in range(band_size)]
                        )
                        for b in range(n_bands)
                    ]
                )
            ).alias("band_idx", "band_val"),
        )

    hit_ids = (
        bands(survivors)
        .join(
            bands(ref_df).select("band_idx", "band_val").distinct(),
            ["band_idx", "band_val"],
        )
        .select(F.col("id").alias(id_col))
        .distinct()
    )
    return survivors.join(hit_ids, id_col, "left_anti")


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_words: int = 3,
    min_containment: float = 0.8,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """E46: ASYMMETRIC near-dup via shingle containment
    C(A in B) = |A∩B| / |A| (Broder's containment, the measure Jaccard
    misses: a wire story embedded verbatim in a long page has tiny
    Jaccard but containment ~1 in one direction). Emits one row per
    ORDERED pair direction that clears ``min_containment`` —
    (id_small, id_big, n_inter, containment), where id_small is the
    contained side.

    Scale shape mirrors ``ngram_jaccard_pairs``: with ``candidates``
    (LSH pairs — the scale path; note banding RECALL for containment is
    bounded by the Jaccard the band scheme sees, so pure-containment
    pairs with tiny Jaccard need a shingle-partitioned candidate pass —
    documented tradeoff), each doc's distinct-shingle set joins the
    candidate pair once and both directions come from ONE
    array_intersect. Without candidates, the bounded-input baseline
    self-join."""
    sets = (
        spread(df)
        .select(F.col(id_col).alias("id"), words(F.col(text_col)).alias("__ws"))
        .select("id", word_shingles_of(F.col("__ws"), shingle_words).alias("sg"))
    )
    if candidates is None:
        sh = sets.select("id", F.explode("sg").alias("sh"))
        pairs = (
            sh.alias("a")
            .join(sh.alias("b"), (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    else:
        sa = sets.select(F.col("id").alias("id_a"), F.col("sg").alias("sg_a"))
        sb = sets.select(F.col("id").alias("id_b"), F.col("sg").alias("sg_b"))
        pairs = (
            candidates.select("id_a", "id_b")
            .join(sa, "id_a")
            .join(sb, "id_b")
            .select(
                "id_a",
                "id_b",
                F.size(F.array_intersect("sg_a", "sg_b")).cast("long").alias("n_inter"),
            )
            .filter(F.col("n_inter") > 0)
        )
    sizes = sets.select("id", F.size("sg").alias("n_sg"))
    both = (
        pairs.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sg", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sg", "n_b"), "id_b")
    )
    # two directed rows from one undirected pair row
    directed = both.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("id_small"),
                    F.col("id_b").alias("id_big"),
                    (F.col("n_inter") / F.col("n_a")).alias("containment"),
                    F.col("n_inter"),
                ),
                F.struct(
                    F.col("id_b").alias("id_small"),
                    F.col("id_a").alias("id_big"),
                    (F.col("n_inter") / F.col("n_b")).alias("containment"),
                    F.col("n_inter"),
                ),
            )
        ).alias("d")
    ).select("d.id_small", "d.id_big", "d.n_inter", "d.containment")
    return directed.filter(F.col("containment") >= min_containment)


def corpus_reference_keys(
    df: DataFrame,
    text_col: str,
    id_col: str,
    near: bool = True,
    n_hashes: int = 4,
    band_size: int = 2,
    shingle_words: int = 3,
) -> DataFrame:
    """E47 steady state: the PRECOMPUTED dedup keys of a corpus slice —
    one (kind, key) row per exact fingerprint ('fp') and, with
    ``near=True``, per MinHash LSH band ('band', key =
    band_idx ':' band_val). ``dedup_against_reference`` anti-joins new
    crawls against this table instead of re-deriving the accumulated
    corpus per crawl; ``append_reference_keys`` maintains it
    incrementally (append-only — duplicate keys are harmless to an
    anti-join, so maintenance never rewrites or distinct-compacts the
    accumulated table)."""
    fp = df.select(
        F.lit("fp").alias("kind"),
        doc_fingerprint(F.col(text_col)).alias("key"),
    ).filter(F.col("key").isNotNull())
    if not near:
        return fp
    sig = minhash_signature_table(df, text_col, id_col, n_hashes, shingle_words)
    n_bands = n_hashes // band_size
    bands = sig.select(
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        F.lit(str(b)),
                        F.concat_ws(
                            "|", *[F.col(f"mh{b * band_size + j}") for j in range(band_size)]
                        ),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("key")
    ).select(F.lit("band").alias("kind"), "key")
    return fp.unionByName(bands)


def dedup_against_reference(
    new_df: DataFrame,
    ref_keys: DataFrame,
    text_col: str,
    id_col: str,
    near: bool = True,
    n_hashes: int = 4,
    band_size: int = 2,
    shingle_words: int = 3,
) -> DataFrame:
    """E47 steady-state path: ``dedup_against_corpus`` semantics against
    a MAINTAINED (kind, key) reference table — the accumulated corpus is
    never re-scanned or re-hashed per crawl; the reference side of both
    anti-joins is the precomputed key table (at 100 TB: short strings,
    fp/band-bucketable for co-located anti-joins). Same two stages:
    exact fp left_anti, then LSH band left_anti on the survivors.
    Identical output to ``dedup_against_corpus(new_df, ref_df, ...)``
    when ``ref_keys = corpus_reference_keys(ref_df, ...)`` (pinned by
    pytest)."""
    ref_fp = ref_keys.filter(F.col("kind") == "fp").select(F.col("key").alias("__fp"))
    new_fp = new_df.withColumn("__fp", doc_fingerprint(F.col(text_col)))
    survivors = new_fp.join(ref_fp, "__fp", "left_anti").drop("__fp")
    if not near:
        return survivors

    sig = minhash_signature_table(survivors, text_col, id_col, n_hashes, shingle_words)
    n_bands = n_hashes // band_size
    new_bands = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        F.lit(str(b)),
                        F.concat_ws(
                            "|", *[F.col(f"mh{b * band_size + j}") for j in range(band_size)]
                        ),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("key"),
    )
    ref_bands = ref_keys.filter(F.col("kind") == "band").select("key")
    hit_ids = new_bands.join(ref_bands, "key").select(F.col("id").alias(id_col)).distinct()
    return survivors.join(hit_ids, id_col, "left_anti")


def append_reference_keys(
    df: DataFrame,
    ref_path: str,
    text_col: str,
    id_col: str,
    near: bool = True,
    n_hashes: int = 4,
    band_size: int = 2,
    shingle_words: int = 3,
) -> None:
    """Maintain the steady-state reference table: append the keys of a
    crawl's SURVIVORS to the accumulated parquet table after each
    ingestion round (append mode — no read-modify-write of the
    corpus-scale key table; dupes are anti-join-neutral)."""
    corpus_reference_keys(
        df, text_col, id_col, near, n_hashes, band_size, shingle_words
    ).write.mode("append").parquet(ref_path)


def containment_candidate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_words: int = 3,
    min_containment: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """E46 scale path: SHINGLE-PARTITIONED candidate generation for
    containment pairs. Jaccard banding (``minhash_lsh_pairs``) collides
    with probability driven by JACCARD similarity, but the pairs E46
    exists for — a 200-word wire story verbatim inside a 20k-word page —
    have J ≈ 0.01 and essentially never share a band. This pass
    partitions by the shingles themselves, so a pair sharing ANY
    non-capped shingle is counted and the recall bound is structural:
    every pair whose true containment clears ``min_containment`` is
    emitted (proof below), independent of the Jaccard value.

    Plan — one self-join on the 8-byte xxhash64(shingle) key, never on
    shingle text and never all-pairs:
    1. explode distinct shingles, reduce to (id, h=xxhash64(shingle));
    2. optional doc-frequency cap (``max_doc_freq``): window count over
       h — the E36 hot-shingle device — drops corpus-boilerplate
       shingles BEFORE pairing, since a shingle in d docs creates
       O(d^2) join rows; capped recall is documented, not silent: a doc
       whose shingles are predominantly corpus-hot can be missed;
    3. self-join on h (a < b) + pair-key groupBy with map-side combine
       -> n_match per candidate pair;
    4. keep pairs with n_match >= floor(min_containment *
       least(n_a, n_b)) where n_a/n_b are the docs' KEPT shingle counts
       (a cheap groupBy(id).count side table).

    Recall proof (uncapped): if either direction of a pair passes the
    exact filter then n_inter >= min_c * n_small_side >= min_c *
    least(n_a, n_b) >= floor(min_c * least(n_a, n_b)), and n_match >=
    n_inter (hash collisions only ever ADD matches) — so the candidate
    set is a superset of the exact answer and the downstream
    array_intersect verify (``containment_pairs``) makes the composed
    output EQUAL to the brute-force exact result. floor() (never
    ceil/round) keeps the 0.8*5-style float knife edges one-sided.

    Returns (id_a, id_b) with id_a < id_b."""
    from pyspark.sql import Window

    sh = (
        spread(df)
        .select(F.col(id_col).alias("id"), words(F.col(text_col)).alias("__ws"))
        .select("id", F.explode(word_shingles_of(F.col("__ws"), shingle_words)).alias("s"))
        .select("id", F.xxhash64("s").alias("h"))
    )
    if max_doc_freq is not None:
        sh = (
            sh.withColumn("__df", F.count(F.lit(1)).over(Window.partitionBy("h")))
            .filter(F.col("__df") <= max_doc_freq)
            .drop("__df")
        )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_kept"))
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_match"))
    )
    return (
        pairs.join(sizes.select(F.col("id").alias("id_a"), F.col("n_kept").alias("n_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n_kept").alias("n_b")), "id_b")
        .filter(
            F.col("n_match")
            >= F.floor(F.lit(float(min_containment)) * F.least(F.col("n_a"), F.col("n_b")))
        )
        .select("id_a", "id_b")
    )


def substring_dup_spans(
    df: DataFrame, text_col: str, id_col: str, n: int = 10, keep_first: bool = False
) -> DataFrame:
    """E36: substring-granularity exact dedup detection (the Lee et al.
    "Deduplicating Training Data" ExactSubstr pass at a fixed shingle
    length — whole-doc fingerprints miss boilerplate embedded inside
    otherwise-unique pages). A word position is DUPLICATED when its
    n-word shingle occurs more than once corpus-wide (within OR across
    docs, as in the paper); per doc, overlapping duplicated shingle
    ranges merge into maximal spans.

    Returns (doc_id, span_start, span_end, span_words): 1-based word
    positions of each maximal duplicated span.

    ``keep_first=True`` is the keep-one-canonical variant (Lee et al.
    §4.2: real corpora keep one occurrence of each duplicated string):
    the FIRST occurrence of each shingle by (doc_id, pos) is the
    canonical keeper and is NOT marked duplicated — a row_number over
    the same shingle-hash partition as the occurrence count, so the
    plan shape is unchanged (the rank shares stage-1's exchange; the
    partition just gains a sort).

    Scale shape — exactly TWO hash shuffles and zero joins:
    1. shingle key: occurrence counting is a window count partitioned by
       xxhash64(shingle), so the shuffle carries (doc_id, pos, 8-byte
       hash) — never the shingle text, never the document, and there is
       no second scan + join-back (the count rides the same row).
    2. doc key: gaps-and-islands span merge (lag + running sum + agg all
       share the doc_id partitioning, so Catalyst plans ONE exchange for
       all three).
    Fixed n keeps the blow-up linear (len-n+1 rows/doc) — the suffix
    arrays of the paper find variable-length matches but cannot shard
    this way. Hash note: dup detection is on xxhash64(shingle); a 64-bit
    collision could mark a span spuriously (~n_shingles^2/2^65 — vanishing
    at corpus scale; the paper's BigQuery variant hashes identically).

    Skew at 100 TB: the window count has no map-side combine, so every
    occurrence of a hot shingle lands in one task's partition. The cost
    is LINEAR in that shingle's occurrence count (sort + one sorted-run
    count, never quadratic), so even a boilerplate 10-gram repeated
    millions of times is one well-sized task; the window only becomes
    the wrong shape if a single shingle approaches a meaningful
    fraction of the whole corpus. If such a corpus exists, swap stage 1
    for groupBy(h).count (map-side combine shrinks the shuffle to one
    row per distinct shingle per task) + join-back on h, where AQE
    skew-join splits the hot key — one extra small shuffle for
    unbounded-skew safety; the span-merge stage is unchanged.
    """
    from pyspark.sql import Window

    w = (
        spread(df)
        # null-safe: words(NULL) is NULL and F.size(NULL) = -1 downstream
        .select(
            F.col(id_col).alias("doc_id"),
            words(F.coalesce(F.col(text_col), F.lit(""))).alias("ws"),
        )
        # guard before sequence(): Spark's sequence(1, k) DESCENDS for
        # k <= 0, so short docs must not reach the shingle builder
        .filter(F.size("ws") >= n)
    )
    shingles = F.transform(
        F.sequence(F.lit(1), F.size("ws") - F.lit(n - 1)),
        lambda i: F.xxhash64(F.array_join(F.slice("ws", i, n), " ")),
    )
    g = w.select("doc_id", F.posexplode(shingles).alias("pos0", "h")).select(
        "doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "h"
    )
    dup = g.withColumn("cnt", F.count(F.lit(1)).over(Window.partitionBy("h")))
    if keep_first:
        rk = F.row_number().over(Window.partitionBy("h").orderBy("doc_id", "pos"))
        dup = dup.withColumn("rk", rk).filter((F.col("cnt") > 1) & (F.col("rk") > 1))
    else:
        dup = dup.filter(F.col("cnt") > 1)
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos", 1).over(wdoc) > n, 1).otherwise(0)
    islands = dup.withColumn("island", F.sum(brk).over(wdoc))
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (n - 1)).alias("span_end"),
            (F.max("pos") + (n - 1) - F.min("pos") + 1).alias("span_words"),
        )
        .select("doc_id", "span_start", "span_end", "span_words")
    )


def substring_dedup_apply(
    df: DataFrame, text_col: str, id_col: str, n: int = 10, keep_first: bool = False
) -> DataFrame:
    """E37: APPLY substring dedup — rewrite each document with its
    duplicated spans removed (``substring_dup_spans`` detects; this is
    the pass that actually changes the training corpus, the same
    detect->act closure as tokenize->detokenize). Default removal drops
    every detected span occurrence (the aggressive published variant);
    ``keep_first=True`` keeps the first occurrence of each duplicated
    shingle by (doc_id, pos) as the canonical copy (Lee et al. §4.2 —
    the variant real corpora ship), at the same 3-shuffle plan shape.

    Returns every document: (doc_id, text_clean, n_words, n_removed) —
    docs without duplicated spans pass through verbatim with
    n_removed=0.

    Scale shape — THREE hash shuffles: the two from the span detection
    (shingle hash, doc-key islands) plus one doc-key join attaching the
    merged span list back to the documents; the span side joins as
    array<struct> per affected doc (bounded by doc length), the word
    drop is a native higher-order filter, and docs without spans ride
    the left join untouched.

    The join-back is the one place the full TEXT can move: on an
    unbucketed corpus a shuffle join partitions both sides by doc_id
    (at small scale AQE broadcasts the span side instead — see the plan
    audit). On the doc_id-bucketed layout (E29) the text side is
    already co-located and only the small span table shuffles — the
    right deployment shape for a rewrite pass that is typically run
    once per corpus snapshot.
    """
    spans = (
        substring_dup_spans(df, text_col, id_col, n, keep_first=keep_first)
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("span_start", "span_end")).alias("spans"))
    )
    w = spread(df).select(
        F.col(id_col).alias("doc_id"),
        words(F.coalesce(F.col(text_col), F.lit(""))).alias("ws"),
    )
    joined = w.join(spans, "doc_id", "left")
    # two-arg lambda in F.filter = (element, 0-based index); spans carry
    # 1-based word positions
    in_span = lambda i: F.exists(
        F.col("spans"),
        lambda s: ((i + 1) >= s["span_start"]) & ((i + 1) <= s["span_end"]),
    )
    kept = F.when(F.col("spans").isNull(), F.col("ws")).otherwise(
        F.filter(F.col("ws"), lambda x, i: ~in_span(i))
    )
    return joined.select(
        "doc_id",
        F.array_join(kept, " ").alias("text_clean"),
        F.size("ws").cast("long").alias("n_words"),
        (F.size("ws") - F.size(kept)).cast("long").alias("n_removed"),
    )


def winnow_keys(ws: Column, k: int = 5, w: int = 4) -> Column:
    """Winnowing selection as a pure IN-ROW column expression over a
    word array: the distinct packed ``h28 * 2^32 + (2^32-1-pos0)``
    int64 keys selected by robust winnowing (min per w-hash window,
    rightmost on ties via the position complement). Shared by the
    batch sketch builder below and the streaming evidence pass
    (streaming/curation_stream.py) so both select IDENTICAL keys."""
    return winnow_select(winnow_packed_keys(ws, k), w)


def winnow_packed_keys(ws: Column, k: int = 5) -> Column:
    """The packed per-shingle key array (winnowing phase 1). Project
    this as its OWN column before applying ``winnow_select``: embedded
    directly inside the selection lambda, the whole n-hash array would
    re-evaluate per WINDOW (no common-subexpression elimination across
    higher-order lambdas) — the O(n^2)-md5 shape r9 measured and fixed.
    Empty when the doc has fewer than k words."""
    n_sh = F.size(ws) - F.lit(k - 1)
    # k element_at lookups instead of slice-then-join per shingle
    # (identical string, no per-shingle array allocation)
    h28 = lambda i: F.conv(  # noqa: E731
        F.substring(
            F.md5(F.concat_ws(" ", *[F.element_at(ws, i + j) for j in range(k)])), 1, 7
        ),
        16,
        10,
    ).cast("long")
    return F.when(
        n_sh >= 1,
        F.transform(
            F.sequence(F.lit(1), n_sh),
            lambda i: h28(i) * F.lit(4294967296) + (F.lit(4294967295) - (i - 1)),
        ),
    ).otherwise(F.array().cast("array<long>"))


def winnow_select(keys: Column, w: int = 4) -> Column:
    """Winnowing phase 2 over a MATERIALIZED packed-key column: min per
    w-key window (rightmost on ties via the position complement).
    try_element_at is NULL past the array end and least() SKIPS nulls,
    so the clamped short-doc window (n_sh < w -> one all-shingle
    window) selects the identical minimum the old array_min(slice)
    form produced, without a w-element slice allocation per window."""
    n_sh = F.size(keys)
    starts = F.when(
        n_sh >= 1, F.sequence(F.lit(1), F.greatest(F.lit(1), n_sh - F.lit(w - 1)))
    ).otherwise(F.array().cast("array<int>"))
    if w == 1:
        pick = lambda s: F.try_element_at(keys, s.cast("int"))  # noqa: E731
    else:
        pick = lambda s: F.least(  # noqa: E731
            *[F.try_element_at(keys, (s + j).cast("int")) for j in range(w)]
        )
    return F.array_distinct(F.transform(starts, pick))


def winnowing_fingerprints(
    df: DataFrame, text_col: str, id_col: str, k: int = 5, w: int = 4
) -> DataFrame:
    """E50: winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    MOSS — the local document-fingerprinting guarantee: any shared run
    of >= w+k-1 words between two docs shares at least one selected
    fingerprint). Per doc: hash every k-word shingle, slide a w-hash
    window, select each window's MINIMUM hash (rightmost occurrence on
    ties — the paper's robust-winnowing rule), and emit the distinct
    selected (position, hash) pairs. Density is ~2/(w+1) fingerprints
    per shingle, so the output is a bounded-size sketch usable for
    copy/overlap detection without shipping the text.

    Hash device: 28-bit md5-prefix shingle hash (the repo's standard
    exactly-reproducible-everywhere device), packed with the position
    complement as ``h * 2**32 + (2**32 - 1 - pos0)`` — an int64 whose
    MINIMUM is lexicographic (min hash, then max position): the
    rightmost-min selection becomes a plain ``array_min``. Decode is
    shift/mask, all exact integer arithmetic, zero float risk.

    Scale shape: the entire operator is in-row higher-order expressions
    in the SCAN STAGE — zero shuffle, zero join, zero UDF; fingerprinting
    100 TB costs one read and writes the ~2n/(w+1)-row sketch. Short
    docs (fewer than k+w-1 words but at least k) emit the single global
    minimum — the standard short-document convention; docs under k
    words emit nothing.

    Ref parity note: the reference engine has no fingerprint sketch; this
    extends the doc-fingerprint family (functions/text.py:doc_fingerprint)
    with the positional local sketch a 100 TB near-dup triage pass needs.
    """
    d = (
        spread(df)
        .select(
            F.col(id_col).alias("doc_id"),
            words(F.coalesce(F.col(text_col), F.lit(""))).alias("ws"),
        )
        .filter(F.size("ws") >= k)
        # phase 1 as its own projection so the n-hash key array is
        # evaluated once per doc, not once per selection window
        .select("doc_id", winnow_packed_keys(F.col("ws"), k).alias("__keys"))
    )
    e = d.select("doc_id", F.explode(winnow_select(F.col("__keys"), w)).alias("key"))
    return e.select(
        "doc_id",
        (F.lit(4294967295) - F.col("key").bitwiseAND(F.lit(4294967295)) + 1)
        .cast("long")
        .alias("pos"),
        F.shiftright(F.col("key"), 32).cast("long").alias("fp"),
    )


def fingerprint_overlap_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    df_cap: int | None = None,
) -> DataFrame:
    """E50b: copy-detection candidate pairs from the winnowing sketch —
    the MOSS consumer: two docs are candidates when they share >=
    ``min_shared`` distinct selected fingerprints (by the winnowing
    guarantee, any >= w+k-1-word shared run contributes one). Ranking
    by ``shared_fps`` is exactly how MOSS orders its report.

    ``df_cap`` drops fingerprints selected in more than that many docs
    before pairing (boilerplate k-grams — the E46b hot-key device):
    without it a fingerprint in d docs emits d^2/2 pairs; with it the
    join is provably bounded at cap^2/2 per fingerprint. Capped hits
    lose only boilerplate evidence — a real copied run also carries
    rarer fingerprints.

    Scale shape: the sketch build is scan-stage (E50); then one
    fp-key exchange SHARED by the doc-frequency window and both join
    sides (same child plan), and one pair-key aggregation. The joined
    rows carry only (8-byte-packed fp, two ids) — never text."""
    # one explicit fp-key exchange up front: hashpartitioning(fp) satisfies
    # the clustering needs of the (doc_id, fp) distinct, the doc-frequency
    # window AND both self-join sides (subset-key clustering), so none of
    # them re-shuffles — without it each stage plans its own exchange
    fps = (
        winnowing_fingerprints(df, text_col, id_col, k=k, w=w)
        .select("doc_id", "fp")
        .repartition("fp")
        .distinct()
    )
    if df_cap is not None:
        from pyspark.sql import Window

        fps = (
            fps.withColumn("__df", F.count(F.lit(1)).over(Window.partitionBy("fp")))
            .filter(F.col("__df") <= df_cap)
            .drop("__df")
        )
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def fingerprint_overlap_against(
    new_df: DataFrame,
    ref_fps: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    ref_df_cap: int | None = None,
) -> DataFrame:
    """E50c: CROSS-corpus MOSS evidence — (new_id, ref_id, shared_fps)
    pairs between a new crawl and a MAINTAINED winnowing-sketch table
    (``ref_fps`` = persisted ``winnowing_fingerprints`` output — the
    same fp-table-reuse move as E47b's (kind, key) table, but carrying
    per-doc evidence so a hit names WHICH corpus document was copied,
    exactly what E47's band anti-join cannot say). Complements E47:
    band collisions follow whole-doc Jaccard, while the winnowing
    guarantee is LOCAL — any shared >= w+k-1-word run contributes a
    fingerprint — so a paragraph lifted into an otherwise-novel page is
    found here and invisible there.

    ``ref_df_cap`` drops corpus-boilerplate fingerprints (selected in
    more than that many REFERENCE docs) before the join — the E50b
    hot-key device, applied to the accumulated side where the
    boilerplate lives; the join is then bounded at cap rows per new-side
    fingerprint.

    Scale shape: the new-crawl sketch is scan-stage (E50); the corpus
    side is READ, never re-hashed (the sketch is ~2/(w+1) per shingle —
    the 100 TB corpus compresses to a short int64-keyed table,
    fp-bucketable for co-located joins); one fp-key join + one pair-key
    agg, both on 8-byte keys, text never shuffles."""
    new = (
        winnowing_fingerprints(new_df, text_col, id_col, k=k, w=w)
        .select(F.col("doc_id").alias("new_id"), "fp")
        .distinct()
    )
    ref = ref_fps.select(F.col("doc_id").alias("ref_id"), "fp").distinct()
    if ref_df_cap is not None:
        from pyspark.sql import Window

        ref = (
            ref.withColumn("__df", F.count(F.lit(1)).over(Window.partitionBy("fp")))
            .filter(F.col("__df") <= ref_df_cap)
            .drop("__df")
        )
    return (
        new.join(ref, "fp")
        .groupBy("new_id", "ref_id")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def fingerprint_dedup_against_corpus(
    new_df: DataFrame,
    ref_fps: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    ref_df_cap: int | None = None,
) -> DataFrame:
    """E50c consumer: drop new-crawl docs with MOSS-grade copy evidence
    against the maintained corpus sketch (any reference doc sharing >=
    ``min_shared`` capped winnowing fingerprints). Survivors' sketches
    append to ``ref_fps`` for the next crawl (the E47b maintenance
    pattern — append-only; duplicate (doc, fp) rows are join-then-
    distinct-neutral). Returns surviving rows unchanged."""
    hits = (
        fingerprint_overlap_against(
            new_df, ref_fps, text_col, id_col, k=k, w=w,
            min_shared=min_shared, ref_df_cap=ref_df_cap,
        )
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    return new_df.join(hits, id_col, "left_anti")


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 8,
) -> DataFrame:
    """E55: C4-style GLOBAL line-level dedup (Raffel et al. 2020 §2.2
    dedup "three-sentence spans" corpus-wide) — every consecutive run of
    ``span_words`` words is a line; only the globally-first occurrence
    (min (doc_id, line_no)) of each distinct line survives, including
    repeats WITHIN a doc; surviving lines reassemble in original order.

    Distinct from the repo's other dedup axes: E1 drops whole docs, E36
    rewrites spans found by pairwise candidate joins — this is the
    corpus-wide set-semantics pass C4 runs FIRST, no pairing at all.

    Plan (100 TB): one corpus scan; line splitting is a scan-stage
    higher-order transform (no row amplification until the explode,
    whose output is ~n_words/span rows); ONE exchange on the line hash
    (window min — at scale swap md5 for xxhash64, functions/text.py
    note) and ONE on doc_id for reassembly. Boilerplate lines (the C4
    target) concentrate on single hash keys; the window-min form spills
    rather than OOMs on a hot key since min needs no buffering.

    Returns (doc_id, total_lines, kept_lines, text_md5) for docs with
    >= 1 surviving line; a doc whose every line was seen earlier
    disappears (C4 drops it as pure boilerplate).
    """
    from pyspark.sql import Window

    # ws materialized as a COLUMN before the lambda references it: an
    # inline words() expression re-inlines the regex split into the
    # per-ELEMENT transform body (the r7 10x finding)
    pre = spread(docs).select(
        F.col(id_col).alias("doc_id"),
        words(F.coalesce(F.col(text_col), F.lit(""))).alias("__ws"),
    )
    ws = F.col("__ws")
    n_lines = F.ceil(F.size(ws) / F.lit(float(span_words))).cast("int")
    lines = F.when(
        n_lines >= 1,
        F.transform(
            F.sequence(F.lit(1), n_lines),
            lambda i: F.concat_ws(
                " ", F.slice(ws, (i - 1) * span_words + 1, span_words)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = pre.select(
        "doc_id",
        n_lines.cast("long").alias("total_lines"),
        F.posexplode(lines).alias("ln0", "line"),
    )
    exploded = base.select(
        "doc_id",
        "total_lines",
        (F.col("ln0") + 1).cast("long").alias("line_no"),
        "line",
    )
    keeper = F.min(F.struct("doc_id", "line_no")).over(
        Window.partitionBy(F.md5("line"))
    )
    kept = exploded.withColumn("k", keeper).filter(
        (F.col("k.doc_id") == F.col("doc_id"))
        & (F.col("k.line_no") == F.col("line_no"))
    )
    return kept.groupBy("doc_id").agg(
        F.first("total_lines").alias("total_lines"),
        F.count(F.lit(1)).alias("kept_lines"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("line_no", "line"))),
                    lambda x: x["line"],
                ),
                " ",
            )
        ).alias("text_md5"),
    )


def fuzzy_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_words: int = 8,
    max_dist: int = 5,
    len_band: int = 8,
    block_cap: int | None = None,
) -> DataFrame:
    """E76: edit-distance near-duplicate pairs with standard record-
    linkage BLOCKING — the dedup family none of the set-similarity ops
    cover: two docs whose title/prefix differs by a few character
    edits (typos, OCR noise, mojibake variants) can have LOW shingle
    Jaccard (every k-gram crossing the edit changes) yet be the same
    record. Classic entity-resolution shape: block -> verify.

    Candidates: docs sharing a blocking key = (first word, prefix
    length // ``len_band``) — the documented recall contract: a true
    pair is found iff its first word is intact and the prefix lengths
    fall in the same band (standard multi-pass blocking adds more keys;
    one pass keeps the plan one self-join). Verification is NATIVE
    ``levenshtein`` on the ``prefix_words``-word prefix — JVM codegen,
    and exactly the same dynamic-programming distance in any engine,
    so pairs value-twin bit-for-bit.

    ``block_cap`` drops blocks larger than the cap before pairing (the
    E50b df_cap device: a boilerplate first word otherwise emits
    |block|^2/2 candidate pairs; capped blocks lose only boilerplate
    recall). Scale shape: prefix + key are scan-stage; ONE block-key
    exchange shared by the cap window and both self-join sides; the
    verify runs on candidate pairs only, never corpus x corpus."""
    from pyspark.sql import Window

    ws = words(F.coalesce(F.col(text_col), F.lit("")))
    title = F.array_join(F.slice(ws, 1, prefix_words), " ")
    t = (
        spread(df)
        .select(
            F.col(id_col).alias("doc_id"),
            title.alias("title"),
            # F.get, not element_at: NULL (never an ANSI error) for
            # empty word arrays
            F.get(ws, 0).alias("__w1"),
        )
        .filter(F.col("__w1").isNotNull())
        .withColumn(
            "blk",
            F.concat_ws(":", F.col("__w1"), F.floor(F.length("title") / F.lit(len_band))),
        )
        .repartition("blk")
    )
    if block_cap is not None:
        t = (
            t.withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy("blk")))
            .filter(F.col("__n") <= block_cap)
            .drop("__n")
        )
    a = t.select(F.col("doc_id").alias("id_a"), F.col("title").alias("ta"), "blk")
    b = t.select(F.col("doc_id").alias("id_b"), F.col("title").alias("tb"), "blk")
    # banded threshold levenshtein (r9): lev(a, b, k) returns the exact
    # distance when <= k and -1 otherwise, computing only the O(len*k)
    # band — kept pairs carry the identical dist value, dropped pairs
    # are exactly those the full DP would have filtered.
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", F.levenshtein("ta", "tb", max_dist).cast("long"))
        .filter(F.col("dist") >= 0)
        .select("id_a", "id_b", "dist")
    )
