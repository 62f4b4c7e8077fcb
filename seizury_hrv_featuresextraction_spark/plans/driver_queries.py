"""Driver-contract query suite: one entry per SURVEY.md §2 operator
family, each as a (spark, sf_dir) -> DataFrame callable plus an
ANSI-SQL DuckDB twin for the correctness gate.

Cross-engine float policy: every computed double is round(x, 6) on BOTH
sides so accumulation-order noise (different partial-sum trees) cannot
break the value-hash; rankings always carry a deterministic integer
tiebreak. Epoch seconds come from unix_micros/epoch_us over the same
int64 micros, so they are bit-identical before any arithmetic.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import langid, quality_features, words
from ..operators.asof import asof_join
from ..operators.dedup import dedup_exact, minhash_lsh_pairs, ngram_jaccard_pairs
from ..operators.filters import iqr_filter, median_mad_filter
from ..operators.stats import class_weights, zscore_normalize
from ..operators.windows import session_bounds, sliding_window_grid
from ..sources.registry import annotations_from_events, load_table, sequences_from_events

# NB: in Spark SQL a literal `1000000.0` is DECIMAL — divide by a double
EPOCH = "unix_micros(cast(ts as timestamp)) / cast(1000000 as double)"  # Spark
EPOCH_DD = "epoch_us(ts) / 1000000.0"                             # DuckDB
WORDS_DD = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), w -> w <> '')"

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}

# contrast baselines (r5 ADVICE item 8): brute-force twins of operators
# whose SCALE path is separately oracled. They stay value-gated in-repo
# (tools/check_queries.py runs them alongside QUERIES) but are NOT
# exported to the driver — re-verifying a baseline every round would
# spend rotation slots the real operators need.
CONTRAST_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
CONTRAST_ORACLE: dict[str, str] = {}


def q(name: str, sql: str | None = None, contrast: bool = False):
    def deco(fn):
        (CONTRAST_QUERIES if contrast else QUERIES)[name] = fn
        if sql is not None:
            (CONTRAST_ORACLE if contrast else ORACLE)[name] = sql
        return fn
    return deco


def _ev(spark, sf_dir):
    return load_table(spark, sf_dir, "events").withColumn("e", F.expr(EPOCH))


# ---------------------------------------------------------------------------
# relational core (O16, O20/O56, O51, O54; generic agg/join/sort)
# ---------------------------------------------------------------------------


@q(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4)                                 AS sum_qty,
           round(sum(l_extendedprice), 4)                            AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4)         AS sum_disc_price,
           round(avg(l_quantity), 6)                                 AS avg_qty,
           round(avg(l_discount), 6)                                 AS avg_disc,
           count(*)                                                  AS count_order
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@q(
    "top_customers_revenue",
    """
    WITH rev AS (
      SELECT c.c_custkey, c.c_name, round(sum(o.o_totalprice), 4) AS revenue
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_name)
    SELECT c_custkey, c_name, revenue,
           row_number() OVER (ORDER BY revenue DESC, c_custkey) AS rank
    FROM rev QUALIFY rank <= 10
    """,
)
def top_customers_revenue(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum("o_totalprice"), 4).alias("revenue"))
    )
    w = Window.orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return (
        rev.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
        .select("c_custkey", "c_name", "revenue", "rank")
    )


@q(
    "run_match_full_outer",
    """
    WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
         v AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
         e AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
    SELECT coalesce(c.user_id, v.user_id, e.user_id) AS user_id,
           c.user_id IS NOT NULL AS has_click,
           v.user_id IS NOT NULL AS has_view,
           e.user_id IS NOT NULL AS has_error
    FROM c FULL OUTER JOIN v ON c.user_id = v.user_id
           FULL OUTER JOIN e ON coalesce(c.user_id, v.user_id) = e.user_id
    """,
)
def run_match_full_outer(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    sets = {
        t: ev.filter(F.col("event_type") == t).select("user_id").distinct().withColumnRenamed("user_id", f"u_{t}")
        for t in ("click", "view", "error")
    }
    j = sets["click"].join(sets["view"], F.col("u_click") == F.col("u_view"), "full").join(
        sets["error"], F.coalesce("u_click", "u_view") == F.col("u_error"), "full"
    )
    return j.select(
        F.coalesce("u_click", "u_view", "u_error").alias("user_id"),
        F.col("u_click").isNotNull().alias("has_click"),
        F.col("u_view").isNotNull().alias("has_view"),
        F.col("u_error").isNotNull().alias("has_error"),
    )


@q(
    "split_semi_anti",
    """
    WITH keys AS (SELECT c_custkey FROM customer WHERE c_nationkey < 5)
    SELECT 'in' AS split, count(*) AS n, round(sum(o_totalprice), 4) AS total
      FROM orders WHERE o_custkey IN (SELECT c_custkey FROM keys)
    UNION ALL
    SELECT 'out' AS split, count(*) AS n, round(sum(o_totalprice), 4) AS total
      FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM keys)
    """,
)
def split_semi_anti(spark, sf_dir):
    from ..operators.stats import split_by_keys

    o = load_table(spark, sf_dir, "orders")
    keys = load_table(spark, sf_dir, "customer").filter(F.col("c_nationkey") < 5).select(
        F.col("c_custkey").alias("o_custkey")
    )
    inside, outside = split_by_keys(o, keys, "o_custkey")
    agg = lambda df, tag: df.agg(  # noqa: E731
        F.lit(tag).alias("split"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 4).alias("total"),
    )
    return agg(inside, "in").unionByName(agg(outside, "out"))


# ---------------------------------------------------------------------------
# point-stream operators over events (O14/O15/O19, O41, O45, O46, O48)
# ---------------------------------------------------------------------------


@q(
    "sessionize_events",
    f"""
    WITH t AS (
      SELECT user_id, {EPOCH_DD} AS e,
             CASE WHEN {EPOCH_DD} - lag({EPOCH_DD}) OVER w > 1800.0 THEN 1 ELSE 0 END AS brk
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY {EPOCH_DD})),
    s AS (
      SELECT user_id, e,
             (sum(brk) OVER (PARTITION BY user_id ORDER BY e
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::bigint AS session_id
      FROM t)
    SELECT user_id, session_id,
           round(min(e), 6) AS start_e, round(max(e), 6) AS end_e,
           round(max(e) - min(e), 6) AS duration, count(*) AS n_rows
    FROM s GROUP BY user_id, session_id
    """,
)
def sessionize_events(spark, sf_dir):
    ev = _ev(spark, sf_dir)
    b = session_bounds(ev, "e", "user_id", gap=1800.0)
    return b.select(
        "user_id",
        F.col("session_id").cast("long").alias("session_id"),
        F.round("start_time", 6).alias("start_e"),
        F.round("end_time", 6).alias("end_e"),
        F.round("duration", 6).alias("duration"),
        F.col("n_rows").alias("n_rows"),
    )


@q(
    "asof_backward_join",
    f"""
    WITH clicks AS (SELECT event_id, user_id, {EPOCH_DD} AS e, value FROM events WHERE event_type = 'click'),
         errors AS (SELECT user_id, {EPOCH_DD} AS e, value AS err_value FROM events WHERE event_type = 'error')
    SELECT c.event_id, round(c.e, 6) AS e,
           round(err_value, 6) AS err_value,
           round(c.e - er.e, 6) AS secs_since_error
    FROM clicks c ASOF LEFT JOIN errors er
      ON c.user_id = er.user_id AND c.e >= er.e
    """,
)
def asof_backward_join(spark, sf_dir):
    ev = _ev(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "e", "value")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "e", F.col("value").alias("err_value")
    )
    j = asof_join(clicks, errors, on="e", by="user_id", value_cols=["err_value", "e"], direction="backward")
    return j.select(
        "event_id",
        F.round("e", 6).alias("e"),
        F.round("err_value", 6).alias("err_value"),
        F.round(F.col("e") - F.col("e_right"), 6).alias("secs_since_error"),
    )


@q(
    "asof_forward_tte",
    f"""
    WITH clicks AS (SELECT event_id, user_id, {EPOCH_DD} AS e FROM events WHERE event_type = 'click'),
         errors AS (SELECT user_id, {EPOCH_DD} AS e FROM events WHERE event_type = 'error'),
         nxt AS (
           SELECT c.event_id, min(er.e) AS next_e
           FROM clicks c JOIN errors er ON er.user_id = c.user_id AND er.e >= c.e
           GROUP BY c.event_id)
    SELECT c.event_id, round(nxt.next_e - c.e, 6) AS tte
    FROM clicks c JOIN nxt ON c.event_id = nxt.event_id
    """,
)
def asof_forward_tte(spark, sf_dir):
    ev = _ev(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "e")
    errors = ev.filter(F.col("event_type") == "error").select("user_id", "e")
    j = asof_join(clicks, errors, on="e", by="user_id", value_cols=["e"], direction="forward")
    return j.filter(F.col("e_right").isNotNull()).select(
        "event_id", F.round(F.col("e_right") - F.col("e"), 6).alias("tte")
    )


@q(
    "datacard_incremental",
    """
    WITH s AS (SELECT source, lang, count(*)::bigint AS n_docs,
                      sum(coalesce(length(text), 0))::bigint AS sum_chars,
                      sum(coalesce(length(text), 0)::bigint
                          * coalesce(length(text), 0)::bigint)::bigint AS sum_sq
               FROM documents GROUP BY source, lang),
    per_src AS (SELECT source, sum(n_docs)::bigint AS n_docs,
                       sum(sum_chars)::bigint AS total_chars,
                       sum(sum_sq)::bigint AS sumsq
                FROM s GROUP BY source),
    top AS (SELECT source, lang AS top_lang, n_docs AS top_n FROM (
              SELECT *, row_number() OVER (PARTITION BY source
                                           ORDER BY n_docs DESC, lang) AS rn
              FROM s)
            WHERE rn = 1)
    SELECT p.source, p.n_docs, p.total_chars,
           round(p.total_chars::double / p.n_docs::double, 6) AS avg_chars,
           round((p.n_docs * p.sumsq - p.total_chars * p.total_chars)::double
                 / (p.n_docs * p.n_docs)::double, 6) AS var_chars,
           t.top_lang,
           round(t.top_n::double / p.n_docs::double, 6) AS top_lang_share
    FROM per_src p JOIN top t ON t.source = p.source
    """,
)
def datacard_incremental(spark, sf_dir):
    """E110: incrementally-maintained corpus data card — the corpus is
    split into two synthetic crawl batches (doc_id parity), batch 0's
    sufficient stats are FOLDED with batch 1's by pure addition, and
    the card is finalized from the merged stats; the twin computes the
    card directly from the full table, so the gate pins
    merge == recompute across engines."""
    from ..operators.curation import (
        datacard_stats,
        finalize_datacard,
        merge_datacard_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    s0 = datacard_stats(docs.filter(F.col("doc_id") % 2 == 0))
    s1 = datacard_stats(docs.filter(F.col("doc_id") % 2 == 1))
    return finalize_datacard(merge_datacard_stats(s0, s1))


@q(
    "rollup_corpus_stats",
    """
    SELECT coalesce(source, '__all__') AS source,
           coalesce(lang, '__all__') AS lang,
           grouping(source)::bigint * 2 + grouping(lang)::bigint AS gid,
           count(*)::bigint AS n_docs,
           sum(n_chars)::bigint AS total_chars,
           round(avg(n_chars::double), 6) AS avg_chars
    FROM documents
    GROUP BY ROLLUP (source, lang)
    """,
)
def rollup_corpus_stats(spark, sf_dir):
    """E105: multi-level ROLLUP aggregation — per (source, lang), per
    source, and grand-total corpus stats in ONE pass (Spark expands the
    grouping sets map-side; one exchange keyed on the padded grouping
    columns). grouping_id disambiguates levels; NULL group values are
    coalesced to a sentinel so the twin's hash compare is NULL-free."""
    docs = load_table(spark, sf_dir, "documents")
    gid = (F.grouping("source") * 2 + F.grouping("lang")).cast("long")
    return (
        docs.rollup("source", "lang")
        .agg(
            gid.alias("gid"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.round(F.avg(F.col("n_chars").cast("double")), 6).alias("avg_chars"),
        )
        .select(
            F.coalesce("source", F.lit("__all__")).alias("source"),
            F.coalesce("lang", F.lit("__all__")).alias("lang"),
            "gid",
            "n_docs",
            "total_chars",
            "avg_chars",
        )
    )


@q(
    "pivot_lang_by_source",
    """
    SELECT source,
           sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::bigint AS en,
           sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END)::bigint AS de,
           sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END)::bigint AS fr,
           sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END)::bigint AS es,
           sum(CASE WHEN lang IS NULL OR lang NOT IN ('en', 'de', 'fr', 'es')
                    THEN 1 ELSE 0 END)::bigint AS other
    FROM documents
    GROUP BY source
    """,
)
def pivot_lang_by_source(spark, sf_dir):
    """E106: PIVOT — language-distribution matrix per source via
    Spark's native pivot with an EXPLICIT value list (no distinct
    pre-pass job, the values are the plan literal) + an overflow
    bucket. One exchange; the twin is the canonical conditional-agg
    formulation."""
    docs = load_table(spark, sf_dir, "documents")
    langs = ["en", "de", "fr", "es"]
    wide = (
        docs.withColumn(
            "__l", F.when(F.col("lang").isin(langs), F.col("lang")).otherwise("other")
        )
        .groupBy("source")
        .pivot("__l", langs + ["other"])
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "source",
        *[F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c) for c in langs + ["other"]],
    )


@q(
    "readability_docs",
    f"""
    WITH d AS (SELECT doc_id, coalesce(text, '') AS txt, {WORDS_DD} AS ws
               FROM documents),
    s AS (SELECT doc_id,
                 len(ws)::bigint AS n_words,
                 greatest(1, len(regexp_extract_all(txt, '[.!?]+')))::bigint
                   AS n_sentences,
                 list_sum(list_transform(ws,
                   w -> greatest(1, len(regexp_extract_all(w, '[aeiouy]+')))))
                   ::bigint AS n_syllables
          FROM d)
    SELECT doc_id, n_words, n_sentences,
           coalesce(n_syllables, 0)::bigint AS n_syllables,
           CASE WHEN n_words > 0
                THEN round(206.835 - 1.015 * (n_words::double / n_sentences::double)
                           - 84.6 * (n_syllables::double / n_words::double), 6)
           END AS flesch,
           CASE WHEN n_words > 0
                THEN round(0.39 * (n_words::double / n_sentences::double)
                           + 11.8 * (n_syllables::double / n_words::double)
                           - 15.59, 6)
           END AS fk_grade
    FROM s
    """,
)
def readability_docs(spark, sf_dir):
    """E104: Flesch reading-ease + Flesch-Kincaid grade per doc —
    vowel-group syllable heuristic, [.!?]+ sentence runs, scan-stage
    in-row regex arithmetic, zero exchanges. Twin replays the identical
    heuristic."""
    from ..operators.curation import readability_scores
    from ..operators.dedup import spread

    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return readability_scores(docs)


@q(
    "lexical_stats_docs",
    f"""
    WITH d AS (SELECT source AS g, {WORDS_DD} AS ws FROM documents),
    cnt AS (SELECT g, unnest(ws) AS w FROM d),
    c2 AS (SELECT g, w, count(*)::bigint AS c FROM cnt GROUP BY g, w),
    ent AS (SELECT g, sum(c)::bigint AS n_tokens, count(*)::bigint AS vocab,
                   sum(c::double * ln(c::double)) AS sum_clnc
            FROM c2 GROUP BY g),
    e2 AS (SELECT g, n_tokens, vocab,
                  round(ln(n_tokens::double) - sum_clnc / n_tokens::double, 6)
                    AS entropy
           FROM ent),
    top AS (SELECT g, ln(r::double) AS x, ln(c::double) AS y
            FROM (SELECT g, c, row_number() OVER (PARTITION BY g
                                                  ORDER BY c DESC, w) AS r
                  FROM c2)
            WHERE r <= 100),
    ols AS (SELECT g, count(*)::double AS m, sum(x) AS sx, sum(y) AS sy,
                   sum(x * y) AS sxy, sum(x * x) AS sxx
            FROM top GROUP BY g)
    SELECT e2.g AS source, e2.n_tokens, e2.vocab, e2.entropy,
           CASE WHEN m * sxx - sx * sx <> 0
                THEN round((m * sxy - sx * sy) / (m * sxx - sx * sx), 6)
           END AS zipf_slope
    FROM e2 JOIN ols ON ols.g = e2.g
    """,
)
def lexical_stats_docs(spark, sf_dir):
    """E103: per-source unigram Shannon entropy + Zipf rank-frequency
    slope (top-100 OLS) — the lexical-health scalars that catch a
    boilerplate or synthetic source. One (source, word) count exchange;
    everything downstream vocab-scale."""
    from ..operators.curation import source_lexical_stats

    docs = load_table(spark, sf_dir, "documents")
    return source_lexical_stats(docs, "text", "source", top_r=100)


@q(
    "robust_outliers_events",
    """
    WITH d AS (SELECT event_type, event_id, value::double AS value FROM events
               WHERE value IS NOT NULL),
    r AS (SELECT *, row_number() OVER (PARTITION BY event_type
                                       ORDER BY value, event_id) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS cnt
          FROM d),
    m AS (SELECT *, max(CASE WHEN rn = (cnt + 1) // 2 THEN value END)
                      OVER (PARTITION BY event_type) AS med
          FROM r),
    dv AS (SELECT *, abs(value - med) AS dev FROM m),
    r2 AS (SELECT *, row_number() OVER (PARTITION BY event_type
                                        ORDER BY dev, event_id) AS rn2
           FROM dv),
    md AS (SELECT *, max(CASE WHEN rn2 = (cnt + 1) // 2 THEN dev END)
                       OVER (PARTITION BY event_type) AS mad
           FROM r2),
    z AS (SELECT event_type, event_id, value, med, mad,
                 CASE WHEN mad > 0 THEN round(0.6745 * dev / mad, 6) END AS rz,
                 dev
          FROM md)
    SELECT event_type, event_id, value, med, mad, rz
    FROM z
    WHERE CASE WHEN mad > 0 THEN rz > 3.5 ELSE dev > 0 END
    """,
)
def robust_outliers_events(spark, sf_dir):
    """E100: per-event-type robust outlier flags — modified z-score
    0.6745*|x-med|/MAD over EXACT lower medians (integer rank rule, no
    percentile approximation). Twin replays both median windows."""
    from ..operators.filters import grouped_mad_outliers

    ev = load_table(spark, sf_dir, "events")
    return grouped_mad_outliers(ev, "value", ["event_type"], "event_id", z_thresh=3.5)


@q(
    "logodds_keyness_docs",
    f"""
    WITH d AS (SELECT source AS g, {WORDS_DD} AS ws FROM documents),
    ex AS (SELECT g, unnest(ws) AS w FROM d),
    cnt AS (SELECT g, w, count(*)::bigint AS c FROM ex GROUP BY g, w),
    ww AS (SELECT g, w, c, sum(c) OVER (PARTITION BY w) AS yw FROM cnt),
    tot AS (SELECT g, sum(c)::bigint AS ni FROM cnt GROUP BY g),
    n AS (SELECT sum(ni)::bigint AS n FROM tot),
    sc AS (SELECT ww.g, ww.w, ww.c, ww.yw, tot.ni, n.n,
                  100.0 * ww.yw / n.n AS aw
           FROM ww JOIN tot ON tot.g = ww.g CROSS JOIN n),
    z AS (SELECT g, w, c, yw,
                 round((ln((c + aw) / (ni + 100.0 - c - aw))
                        - ln((yw - c + aw) / (n - ni + 100.0 - (yw - c) - aw)))
                       / sqrt(1.0 / (c + aw) + 1.0 / (yw - c + aw)), 6) AS zscore
          FROM sc WHERE c >= 5)
    SELECT g AS source, w AS word, c AS n_in_group, yw::bigint AS n_corpus,
           zscore, rank
    FROM (SELECT *, row_number() OVER (PARTITION BY g ORDER BY zscore DESC, w) AS rank
          FROM z)
    WHERE rank <= 10
    """,
)
def logodds_keyness_docs(spark, sf_dir):
    """E94: Monroe et al. "Fightin' Words" log-odds keyness with informed
    Dirichlet prior — top-10 distinctive words per source. One
    corpus-scale (source, word) count exchange; everything downstream is
    vocab-scale. Twin replays prior + z end-to-end in SQL."""
    from ..operators.curation import logodds_keyness

    docs = load_table(spark, sf_dir, "documents")
    return logodds_keyness(
        docs, "text", "source", alpha0=100.0, min_count=5, k=10
    )


@q(
    "pit_leakage_audit",
    f"""
    WITH clicks AS (SELECT event_id, user_id, {EPOCH_DD} AS e FROM events WHERE event_type = 'click'),
         errors AS (SELECT user_id, {EPOCH_DD} AS e, value AS v FROM events WHERE event_type = 'error'),
         pit AS (
           SELECT c.event_id, c.user_id, c.e, er.v AS av
           FROM clicks c ASOF LEFT JOIN errors er
             ON c.user_id = er.user_id AND c.e >= er.e),
         naive AS (
           SELECT user_id, e AS nt, v AS nv
           FROM (SELECT user_id, e, v,
                        row_number() OVER (PARTITION BY user_id ORDER BY e DESC, v DESC) AS rn
                 FROM errors)
           WHERE rn = 1)
    SELECT a.user_id,
           count(*)::bigint AS n_obs,
           sum(CASE WHEN n.nt > a.e THEN 1 ELSE 0 END)::bigint AS n_future_label,
           sum(CASE WHEN n.nv IS DISTINCT FROM a.av THEN 1 ELSE 0 END)::bigint AS n_value_mismatch,
           round(max(CASE WHEN n.nt > a.e THEN n.nt - a.e END), 6) AS max_leak_horizon
    FROM pit a LEFT JOIN naive n ON a.user_id = n.user_id
    GROUP BY a.user_id
    """,
)
def pit_leakage_audit_q(spark, sf_dir):
    from ..operators.evaluation import pit_leakage_audit

    ev = _ev(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "e")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "e", F.col("value").alias("err_value")
    )
    return pit_leakage_audit(clicks, errors, on="e", by="user_id", label_col="err_value")


@q(
    "sliding_window_counts",
    f"""
    WITH t AS (SELECT user_id, {EPOCH_DD} AS e, value FROM events),
         x AS (
           SELECT user_id, value,
                  floor(e / 60) * 60 - k.k * 60 AS win_start, e
           FROM t CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS k) k)
    SELECT user_id, round(win_start, 6) AS win_start,
           count(*) AS n_events, round(avg(value), 6) AS avg_value
    FROM x WHERE e >= win_start AND e < win_start + 300
    GROUP BY user_id, win_start
    """,
)
def sliding_window_counts(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    # integer-micros window starts instead of F.window: the same 5
    # windows per row (start = floor-to-minute - k*60s always satisfies
    # start <= ts < start+300 for k in 0..4), but the Expand stage's
    # repeated precisetimestampconversion trees become one int64
    # floor-mod and the grouping key is a bare long instead of a
    # (start, end) timestamp struct. The explode happens AFTER a
    # repartition on user_id (guide §3.3: explode before a shuffle
    # multiplies it): the exchange carries the 1x raw rows, and the
    # groupBy(user_id, win_us) reuses hashpartitioning(user_id) (subset
    # rule) so there is no second exchange and no 5x-amplified partial
    # aggregation. Measured 7.4 -> 1.4 s at sf1.0, output checksum-
    # identical (win_us IS unix_micros(w.start)).
    m = F.unix_micros(F.col("ts").cast("timestamp"))
    base = m - F.pmod(m, F.lit(60_000_000).cast("long"))
    wins = F.array(*[(base - F.lit(k * 60_000_000).cast("long")) for k in range(5)])
    return (
        ev.select("user_id", "value", wins.alias("__wins"))
        .repartition("user_id")
        .select("user_id", "value", F.explode("__wins").alias("win_us"))
        .groupBy("user_id", "win_us")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.avg("value"), 6).alias("avg_value"))
        .select(
            "user_id",
            F.round(F.col("win_us") / F.lit(1000000.0), 6).alias("win_start"),
            "n_events",
            "avg_value",
        )
    )


@q(
    "tumbling_time_features",
    f"""
    WITH t AS (
      SELECT user_id, {EPOCH_DD} AS e, value,
             value - lag(value) OVER (PARTITION BY user_id ORDER BY {EPOCH_DD}, event_id) AS d
      FROM events)
    SELECT user_id, floor(e / 600) * 600 AS win_start,
           count(*) AS n,
           round(avg(value), 6)          AS mean_v,
           round(min(value), 6)          AS min_v,
           round(max(value), 6)          AS max_v,
           round(var_samp(value), 6)     AS var_v,
           round(stddev_samp(value), 6)  AS sdnn_v,
           round(sqrt(avg(d * d)), 6)    AS rmssd_v,
           round(stddev_samp(d), 6)      AS sdsd_v,
           sum(CASE WHEN abs(d) > 5.0 THEN 1 ELSE 0 END)::bigint AS nn_big
    FROM t GROUP BY user_id, floor(e / 600) * 600
    HAVING count(d) >= 2
    """,
)
def tumbling_time_features(spark, sf_dir):
    ev = _ev(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("e", "event_id")
    t = ev.withColumn("d", F.col("value") - F.lag("value").over(w))
    return (
        t.groupBy("user_id", (F.floor(F.col("e") / 600) * 600).alias("win_start"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 6).alias("mean_v"),
            F.round(F.min("value"), 6).alias("min_v"),
            F.round(F.max("value"), 6).alias("max_v"),
            F.round(F.var_samp("value"), 6).alias("var_v"),
            F.round(F.stddev_samp("value"), 6).alias("sdnn_v"),
            F.round(F.sqrt(F.avg(F.col("d") * F.col("d"))), 6).alias("rmssd_v"),
            F.round(F.stddev_samp("d"), 6).alias("sdsd_v"),
            F.sum(F.when(F.abs("d") > 5.0, 1).otherwise(0)).alias("nn_big"),
            F.count("d").alias("__nd"),
        )
        .filter(F.col("__nd") >= 2)
        .drop("__nd")
        .withColumn("win_start", F.col("win_start").cast("double"))
    )


@q(
    "fixed_sph_labels",
    f"""
    WITH base AS (
      SELECT user_id, event_id, {EPOCH_DD} - min({EPOCH_DD}) OVER (PARTITION BY user_id) AS rel
      FROM events),
    seiz AS (
      SELECT b.user_id, b.rel AS onset,
             row_number() OVER (PARTITION BY b.user_id ORDER BY b.rel) AS seq
      FROM base b JOIN events ev ON ev.event_id = b.event_id
      WHERE ev.event_type = 'error'),
    ivs AS (
      SELECT user_id, seq * 3 + 2 AS pri, onset AS lo, onset + 60.0 AS hi, 2 AS label FROM seiz
      UNION ALL
      SELECT user_id, seq * 3 + 1 AS pri, onset - 180.0 - 15.0 AS lo, onset - 180.0 + 15.0 AS hi, 1 AS label
      FROM seiz
      WHERE onset - 180.0 >= 0 AND onset - 180.0 - 15.0 >= 0
        AND onset - 180.0 + 15.0 <= onset)
    SELECT b.event_id,
           coalesce(max_by(ivs.label, ivs.pri), 0) AS label
    FROM base b LEFT JOIN ivs
      ON ivs.user_id = b.user_id AND b.rel >= ivs.lo AND b.rel < ivs.hi
    GROUP BY b.event_id
    """,
)
def fixed_sph_labels(spark, sf_dir):
    ev = _ev(spark, sf_dir)
    wmin = Window.partitionBy("user_id")
    base = ev.select("user_id", "event_id", "event_type", (F.col("e") - F.min("e").over(wmin)).alias("rel"))
    seiz = base.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("rel").alias("onset"),
        F.row_number().over(Window.partitionBy("user_id").orderBy("rel")).alias("seq"),
    )
    ictal = seiz.select(
        "user_id", (F.col("seq") * 3 + 2).alias("pri"),
        F.col("onset").alias("lo"), (F.col("onset") + 60.0).alias("hi"), F.lit(2).alias("label"),
    )
    tgt = seiz.filter(
        ((F.col("onset") - 180.0) >= 0)
        & ((F.col("onset") - 195.0) >= 0)
        & ((F.col("onset") - 165.0) <= F.col("onset"))
    ).select(
        "user_id", (F.col("seq") * 3 + 1).alias("pri"),
        (F.col("onset") - 195.0).alias("lo"), (F.col("onset") - 165.0).alias("hi"), F.lit(1).alias("label"),
    )
    ivs = ictal.unionByName(tgt)
    j = base.join(
        F.broadcast(ivs),
        (base.user_id == ivs.user_id) & (F.col("rel") >= F.col("lo")) & (F.col("rel") < F.col("hi")),
        "left",
    )
    return j.groupBy("event_id").agg(
        F.coalesce(F.max_by("label", "pri"), F.lit(0)).alias("label")
    )


@q(
    "backfill_last_purchase",
    f"""
    WITH t AS (
      SELECT event_id, user_id, {EPOCH_DD} AS e, event_id AS eid,
             CASE WHEN event_type = 'purchase' THEN value END AS pv
      FROM events)
    SELECT event_id,
           round(coalesce(last_value(pv IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY e, eid
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1.0), 6) AS last_purchase
    FROM t
    """,
)
def backfill_last_purchase(spark, sf_dir):
    from ..operators.windows import backfill

    ev = _ev(spark, sf_dir).withColumn(
        "pv", F.when(F.col("event_type") == "purchase", F.col("value"))
    ).withColumn("eid", F.col("event_id"))
    w = Window.partitionBy("user_id").orderBy("e", "eid").rowsBetween(Window.unboundedPreceding, 0)
    out = ev.withColumn("lp", F.last("pv", ignorenulls=True).over(w))
    return out.select("event_id", F.round(F.coalesce("lp", F.lit(-1.0)), 6).alias("last_purchase"))


@q(
    "lag_lead_delta",
    f"""
    SELECT event_id,
           round(coalesce(lag(value)  OVER w, -999.0), 6) AS prev_v,
           round(coalesce(lead(value) OVER w, -999.0), 6) AS next_v,
           round(coalesce(value - lag(value) OVER w, 0.0), 6) AS delta_prev
    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY {EPOCH_DD}, event_id)
    """,
)
def lag_lead_delta(spark, sf_dir):
    ev = _ev(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("e", "event_id")
    return ev.select(
        "event_id",
        F.round(F.coalesce(F.lag("value").over(w), F.lit(-999.0)), 6).alias("prev_v"),
        F.round(F.coalesce(F.lead("value").over(w), F.lit(-999.0)), 6).alias("next_v"),
        F.round(F.coalesce(F.col("value") - F.lag("value").over(w), F.lit(0.0)), 6).alias("delta_prev"),
    )


@q(
    "sequence_frames",
    f"""
    WITH t AS (
      SELECT event_id, user_id, value, {EPOCH_DD} AS e FROM events)
    SELECT event_id,
           count(*) OVER w AS frame_n,
           round(avg(value) OVER w, 6) AS frame_avg,
           round(first_value(value) OVER w, 6) AS frame_first
    FROM t WINDOW w AS (PARTITION BY user_id ORDER BY e, event_id
                        ROWS BETWEEN 35 PRECEDING AND CURRENT ROW)
    QUALIFY frame_n = 36
    """,
)
def sequence_frames(spark, sf_dir):
    ev = _ev(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("e", "event_id").rowsBetween(-35, 0)
    return (
        ev.select(
            "event_id",
            F.count(F.lit(1)).over(w).alias("frame_n"),
            F.round(F.avg("value").over(w), 6).alias("frame_avg"),
            F.round(F.first("value").over(w), 6).alias("frame_first"),
        )
        .filter(F.col("frame_n") == 36)
    )


@q(
    "zip_truncate_streams",
    f"""
    WITH a AS (SELECT user_id, value AS v_a,
                      row_number() OVER (PARTITION BY user_id ORDER BY {EPOCH_DD}, event_id) AS pos
               FROM events WHERE event_type = 'click'),
         b AS (SELECT user_id, value AS v_b,
                      row_number() OVER (PARTITION BY user_id ORDER BY {EPOCH_DD}, event_id) AS pos
               FROM events WHERE event_type = 'view')
    SELECT a.user_id AS user_id, count(*) AS n_aligned,
           round(sum(a.v_a + b.v_b), 4) AS sum_pairs
    FROM a JOIN b ON a.user_id = b.user_id AND a.pos = b.pos
    GROUP BY a.user_id
    """,
)
def zip_truncate_streams(spark, sf_dir):
    """O18: two per-user positional streams aligned to their common
    prefix by the explicit zip-truncate operator (inner join on
    (key, position) — the reference's min-length truncation,
    data_processing_pipeline.py:644-647)."""
    from ..operators.stats import zip_truncate

    ev = _ev(spark, sf_dir)

    def stream(kind: str, alias: str):
        w = Window.partitionBy("user_id").orderBy("e", "event_id")
        return (
            ev.filter(F.col("event_type") == kind)
            .select("user_id", F.col("value").alias(alias), F.row_number().over(w).alias("pos"))
        )

    z = zip_truncate(stream("click", "v_a"), stream("view", "v_b"), by="user_id")
    return z.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_aligned"),
        F.round(F.sum(F.col("v_a") + F.col("v_b")), 4).alias("sum_pairs"),
    )


# ---------------------------------------------------------------------------
# cleaning / stats (O11, O12, O35, O37, O38, O39)
# ---------------------------------------------------------------------------


@q(
    "median_mad_filter",
    """
    WITH med AS (SELECT user_id, median(value)::double AS m FROM events GROUP BY user_id),
         mad AS (SELECT e.user_id, median(abs(e.value - med.m))::double AS mad
                 FROM events e JOIN med USING (user_id) GROUP BY e.user_id),
         kept AS (
           SELECT e.user_id, e.value
           FROM events e JOIN med USING (user_id) JOIN mad ON mad.user_id = e.user_id
           WHERE abs(e.value - med.m) <= 3.0 * mad.mad)
    SELECT user_id, count(*) AS n_kept, round(sum(value), 4) AS sum_kept
    FROM kept GROUP BY user_id
    """,
)
def median_mad_filter_q(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    kept = median_mad_filter(ev, "value", "user_id")
    return kept.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_kept"), F.round(F.sum("value"), 4).alias("sum_kept")
    )


@q(
    "iqr_filter",
    """
    WITH qs AS (SELECT user_id,
                       quantile_cont(value, 0.25)::double AS q25,
                       quantile_cont(value, 0.75)::double AS q75
                FROM events GROUP BY user_id)
    SELECT e.user_id, count(*) AS n_kept, round(sum(e.value), 4) AS sum_kept
    FROM events e JOIN qs USING (user_id)
    WHERE e.value >= q25 - 1.5 * (q75 - q25) AND e.value <= q75 + 1.5 * (q75 - q25)
    GROUP BY e.user_id
    """,
)
def iqr_filter_q(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    kept = iqr_filter(ev, "value", "user_id")
    return kept.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_kept"), F.round(F.sum("value"), 4).alias("sum_kept")
    )


@q(
    "triangular_index_values",
    """
    WITH b AS (SELECT user_id, floor(value / 2.5) AS bin, count(*) AS c
               FROM events GROUP BY user_id, floor(value / 2.5))
    SELECT user_id, round(sum(c)::double / max(c), 6) AS tri_index
    FROM b GROUP BY user_id
    """,
)
def triangular_index_values(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    b = ev.groupBy("user_id", F.floor(F.col("value") / 2.5).alias("bin")).agg(
        F.count(F.lit(1)).alias("c")
    )
    return b.groupBy("user_id").agg(
        F.round(F.sum("c").cast("double") / F.max("c"), 6).alias("tri_index")
    )


@q("label_histogram", "SELECT event_type, count(*) AS n FROM events GROUP BY event_type")
def label_histogram_q(spark, sf_dir):
    return load_table(spark, sf_dir, "events").groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


@q(
    "class_weights",
    """
    WITH c AS (SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type),
         t AS (SELECT sum(cnt) AS n, count(*) AS k FROM c)
    SELECT event_type, round(n / (k * cnt), 9) AS weight FROM c, t
    """,
)
def class_weights_q(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return class_weights(ev, "event_type").select(
        "event_type", F.round("weight", 9).alias("weight")
    )


@q(
    "zscore_normalize",
    """
    WITH s AS (SELECT user_id, avg(value) AS mu, stddev_pop(value) AS sd
               FROM events GROUP BY user_id)
    SELECT e.event_id,
           round(CASE WHEN s.sd > 0 THEN (e.value - s.mu) / s.sd ELSE 0.0 END, 6) AS z
    FROM events e JOIN s USING (user_id)
    """,
)
def zscore_normalize_q(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    z = zscore_normalize(ev, ["value"], by=["user_id"], ddof=0)
    return z.select("event_id", F.round("value_z", 6).alias("z"))


# ---------------------------------------------------------------------------
# documents: dedup / text analysis (training-data ops)
# ---------------------------------------------------------------------------


@q(
    "dedup_exact_docs",
    """
    SELECT substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 16) AS fp,
           min(doc_id) AS keeper_id, count(*) AS group_size
    FROM documents GROUP BY 1
    """,
)
def dedup_exact_docs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return dedup_exact(docs, "text", "doc_id")


@q(
    "minhash_signatures",
    f"""
    WITH w AS (SELECT doc_id, {WORDS_DD} AS ws FROM documents),
         sh AS (SELECT doc_id,
                       list_distinct(list_transform(generate_series(1, greatest(0, len(ws) - 2)),
                                     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sg
                FROM w)
    SELECT doc_id,
           list_min(list_transform(sg, s -> md5('0:' || s))) AS mh0,
           list_min(list_transform(sg, s -> md5('1:' || s))) AS mh1,
           list_min(list_transform(sg, s -> md5('2:' || s))) AS mh2,
           list_min(list_transform(sg, s -> md5('3:' || s))) AS mh3
    FROM sh WHERE len(sg) > 0
    """,
)
def minhash_signatures(spark, sf_dir):
    from ..operators.dedup import minhash_signature_table

    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signature_table(docs, "text", "doc_id", n_hashes=4, shingle_words=3)
    return sig.select(
        F.col("id").alias("doc_id"), "mh0", "mh1", "mh2", "mh3"
    )


@q(
    "lsh_dup_pairs",
    f"""
    WITH w AS (SELECT doc_id, {WORDS_DD} AS ws FROM documents),
         sh AS (SELECT doc_id,
                       list_distinct(list_transform(generate_series(1, greatest(0, len(ws) - 2)),
                                     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sg
                FROM w WHERE len(ws) >= 3),
         sig AS (SELECT doc_id,
                        list_min(list_transform(sg, s -> md5('0:' || s))) AS mh0,
                        list_min(list_transform(sg, s -> md5('1:' || s))) AS mh1,
                        list_min(list_transform(sg, s -> md5('2:' || s))) AS mh2,
                        list_min(list_transform(sg, s -> md5('3:' || s))) AS mh3
                 FROM sh),
         bands AS (
           SELECT doc_id, 0 AS band_idx, mh0 || '|' || mh1 AS band_val FROM sig
           UNION ALL
           SELECT doc_id, 1 AS band_idx, mh2 || '|' || mh3 AS band_val FROM sig)
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    """,
)
def lsh_dup_pairs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, "text", "doc_id", n_hashes=4, band_size=2, shingle_words=3)


@q(
    "ngram_jaccard_pairs",
    f"""
    WITH w AS (SELECT doc_id, {WORDS_DD} AS ws FROM documents),
         sets AS (SELECT doc_id,
                    list_distinct(list_transform(generate_series(1, greatest(0, len(ws) - 2)),
                                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sg
                  FROM w),
         sig AS (SELECT doc_id,
                        list_min(list_transform(sg, s -> md5('0:' || s))) AS mh0,
                        list_min(list_transform(sg, s -> md5('1:' || s))) AS mh1,
                        list_min(list_transform(sg, s -> md5('2:' || s))) AS mh2,
                        list_min(list_transform(sg, s -> md5('3:' || s))) AS mh3
                 FROM sets WHERE len(sg) > 0),
         bands AS (
           SELECT doc_id, 0 AS band_idx, mh0 || '|' || mh1 AS band_val FROM sig
           UNION ALL
           SELECT doc_id, 1 AS band_idx, mh2 || '|' || mh3 AS band_val FROM sig),
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b
             ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
    SELECT id_a, id_b,
           len(list_intersect(sa.sg, sb.sg))::bigint AS n_inter,
           round(len(list_intersect(sa.sg, sb.sg))::double
                 / (len(sa.sg) + len(sb.sg) - len(list_intersect(sa.sg, sb.sg))), 6) AS jaccard
    FROM cand JOIN sets sa ON sa.doc_id = id_a JOIN sets sb ON sb.doc_id = id_b
    WHERE len(list_intersect(sa.sg, sb.sg))::double
          / (len(sa.sg) + len(sb.sg) - len(list_intersect(sa.sg, sb.sg))) >= 0.2
    """,
)
def ngram_jaccard_pairs_q(spark, sf_dir):
    """THE SCALE PATH is the registered path: MinHash-LSH banding supplies
    the candidate pairs and exact Jaccard verifies them via array sets —
    the unrestricted quadratic shingle self-join is never built (VERDICT
    r1 flagged it as the registered variant)."""
    docs = load_table(spark, sf_dir, "documents")
    cand = minhash_lsh_pairs(docs, "text", "doc_id", n_hashes=4, band_size=2, shingle_words=3)
    out = ngram_jaccard_pairs(
        docs, "text", "doc_id", shingle_words=3, min_jaccard=0.2, candidates=cand
    )
    return out.select("id_a", "id_b", "n_inter", F.round("jaccard", 6).alias("jaccard"))


@q(
    "ngram_jaccard_pairs_all",
    
    f"""
    WITH w AS (SELECT doc_id, {WORDS_DD} AS ws FROM documents),
         sh AS (SELECT doc_id, unnest(
                  list_distinct(list_transform(generate_series(1, greatest(0, len(ws) - 2)),
                                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
                FROM w),
         sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id)
    SELECT id_a, id_b, n_inter,
           round(n_inter::double / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_inter::double / (sa.n_sh + sb.n_sh - n_inter) >= 0.2
    """,
    contrast=True,
)
def ngram_jaccard_pairs_all(spark, sf_dir):
    """Correctness BASELINE (bounded inputs only): the unrestricted
    shingle self-join — quadratic in hot shingles, kept as the exactness
    reference for the LSH-restricted scale path above."""
    docs = load_table(spark, sf_dir, "documents")
    out = ngram_jaccard_pairs(docs, "text", "doc_id", shingle_words=3, min_jaccard=0.2)
    return out.select("id_a", "id_b", "n_inter", F.round("jaccard", 6).alias("jaccard"))


@q(
    "simhash_docs",
    f"""
    WITH w AS (SELECT doc_id, {WORDS_DD} AS ws FROM documents),
         h AS (SELECT doc_id,
                      list_transform(ws, t -> ('0x' || substr(md5(t), 1, 15))::bigint) AS hs
               FROM w)
    SELECT doc_id,
           list_sum(list_transform(generate_series(0, 59), k ->
             CASE WHEN list_sum(list_transform(hs, h -> ((h >> k) & 1) * 2 - 1)) > 0
                  THEN (1::bigint << k) ELSE 0::bigint END))::bigint AS simhash
    FROM h
    """,
)
def simhash_docs(spark, sf_dir):
    from ..operators.dedup import simhash_table

    docs = load_table(spark, sf_dir, "documents")
    # codegen'd aggregation variant (semantics == functions.text.simhash64)
    return simhash_table(docs, "text", "doc_id").select(
        F.col("id").alias("doc_id"), F.col("sh").alias("simhash")
    )


@q(
    "token_count_docs",
    f"""
    WITH w AS (SELECT doc_id, {WORDS_DD} AS ws FROM documents)
    SELECT doc_id, len(ws) AS n_words, len(list_distinct(ws)) AS n_distinct
    FROM w
    """,
)
def token_count_docs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    ws = words(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(ws).cast("long").alias("n_words"),
        F.size(F.array_distinct(ws)).cast("long").alias("n_distinct"),
    )


@q(
    "text_quality",
    f"""
    WITH w AS (SELECT doc_id, text, {WORDS_DD} AS ws FROM documents)
    SELECT doc_id,
           length(text) AS n_chars,
           len(ws) AS n_words,
           round(CASE WHEN len(ws) > 0
                 THEN list_sum(list_transform(ws, x -> length(x)))::double / len(ws)
                 ELSE 0.0 END, 6) AS avg_word_len,
           round(CASE WHEN len(ws) > 0
                 THEN len(list_filter(ws, x -> x IN ('the','a','an','and','of','to','in','is','it','that')))::double / len(ws)
                 ELSE 0.0 END, 6) AS stopword_ratio
    FROM w
    """,
)
def text_quality(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    qf = quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        qf["n_chars"].cast("long").alias("n_chars"),
        qf["n_words"].cast("long").alias("n_words"),
        F.round(qf["avg_word_len"].cast("double"), 6).alias("avg_word_len"),
        F.round(qf["stopword_ratio"].cast("double"), 6).alias("stopword_ratio"),
    )


@q(
    "langid_docs",
    f"""
    WITH w AS (SELECT doc_id, {WORDS_DD} AS ws FROM documents),
         sc AS (SELECT doc_id,
                  len(list_filter(ws, x -> x IN ('the','and','of','is','to')))   AS s_en,
                  len(list_filter(ws, x -> x IN ('der','die','und','ist','das'))) AS s_de,
                  len(list_filter(ws, x -> x IN ('le','la','et','est','les')))    AS s_fr,
                  len(list_filter(ws, x -> x IN ('el','la','y','es','los')))      AS s_es
                FROM w),
         best AS (SELECT doc_id, greatest(
                    printf('%08d|%s', s_en, 'en'), printf('%08d|%s', s_de, 'de'),
                    printf('%08d|%s', s_fr, 'fr'), printf('%08d|%s', s_es, 'es')) AS b
                  FROM sc)
    SELECT doc_id,
           CASE WHEN substr(b, 1, 8) = '00000000' THEN 'und' ELSE substr(b, 10, 2) END AS lang_pred
    FROM best
    """,
)
def langid_docs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", langid(F.col("text")).alias("lang_pred"))


# ---------------------------------------------------------------------------
# embeddings: near-dup pairs
# ---------------------------------------------------------------------------


@q(
    "embedding_near_dup_pairs",
    
    """
    WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> x::double) AS v
               FROM embeddings WHERE vec_id < 300)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_sum(list_transform(generate_series(1, 64), i -> a.v[i] * b.v[i]))
           / (sqrt(list_sum(list_transform(generate_series(1, 64), i -> a.v[i] * a.v[i])))
            * sqrt(list_sum(list_transform(generate_series(1, 64), i -> b.v[i] * b.v[i])))), 6) AS cos
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_sum(list_transform(generate_series(1, 64), i -> a.v[i] * b.v[i]))
           / (sqrt(list_sum(list_transform(generate_series(1, 64), i -> a.v[i] * a.v[i])))
            * sqrt(list_sum(list_transform(generate_series(1, 64), i -> b.v[i] * b.v[i])))) >= 0.25
    """,
    contrast=True,
)
def embedding_near_dup_pairs(spark, sf_dir):
    from ..operators.dedup import embedding_near_dups

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    out = embedding_near_dups(emb, "embedding", "vec_id", min_cosine=0.25)
    return out.select("id_a", "id_b", F.round("cos", 6).alias("cos"))


# deterministic md5-derived hyperplane weights (functions/vectors.py
# plane_weights): every weight is a 32-bit int / 2^31 - 1, an EXACTLY
# representable double, inlined as a literal on both sides — no
# transcendental whose last ulp differs between JVM and libm (the old
# sin lattice measurably did, ~0.2% of points at 1 ulp).
def _lsh_band_bucket_dd(band: int, n_planes: int, seed: int = 7, dim: int = 64) -> str:
    from ..functions.vectors import plane_weights

    terms = []
    for p in range(n_planes):
        ws = plane_weights(dim, band * n_planes + p, seed)
        lit = "[" + ", ".join(repr(w) for w in ws) + "]::double[]"
        terms.append(
            f"(CASE WHEN list_sum(list_transform(generate_series(1, {dim}), "
            f"i -> v[i] * ({lit})[i])) > 0 THEN {1 << p} ELSE 0 END)"
        )
    return " + ".join(terms)


def _lsh_bands_cte(n_planes: int, n_bands: int) -> str:
    return " UNION ALL ".join(
        f"SELECT vec_id, {t} AS band_idx, {_lsh_band_bucket_dd(t, n_planes)} AS bucket FROM e"
        for t in range(n_bands)
    )


@q(
    "embedding_near_dup_pairs_lsh",
    f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::double) AS v
               FROM embeddings WHERE vec_id < 300),
         b AS ({_lsh_bands_cte(3, 12)}),
         cand AS (SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
                  FROM b a JOIN b b2
                    ON a.band_idx = b2.band_idx AND a.bucket = b2.bucket
                   AND a.vec_id < b2.vec_id)
    SELECT c.id_a, c.id_b,
           round(list_sum(list_transform(generate_series(1, 64), i -> ea.v[i] * eb.v[i]))
           / (sqrt(list_sum(list_transform(generate_series(1, 64), i -> ea.v[i] * ea.v[i])))
            * sqrt(list_sum(list_transform(generate_series(1, 64), i -> eb.v[i] * eb.v[i])))), 6) AS cos
    FROM cand c JOIN e ea ON ea.vec_id = c.id_a JOIN e eb ON eb.vec_id = c.id_b
    WHERE list_sum(list_transform(generate_series(1, 64), i -> ea.v[i] * eb.v[i]))
           / (sqrt(list_sum(list_transform(generate_series(1, 64), i -> ea.v[i] * ea.v[i])))
            * sqrt(list_sum(list_transform(generate_series(1, 64), i -> eb.v[i] * eb.v[i])))) >= 0.25
    """,
)
def embedding_near_dup_pairs_lsh(spark, sf_dir):
    """THE SCALE PATH: band-OR random-hyperplane LSH (12 bands x 3
    planes) — a pair is a candidate if ANY band bucket matches, then the
    exact cosine verifies each candidate. Measured recall at sf0.1 vs the
    brute-force tau=0.25 baseline: 0.94 (the single-table r2 path: 0.12);
    see BENCH/dedup_paths.md for the recall/cost curve and the
    high-threshold regime where LSH is also sub-quadratic. The
    brute-force row above stays as the bounded-input baseline."""
    from ..operators.dedup import embedding_near_dups

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    out = embedding_near_dups(
        emb, "embedding", "vec_id", min_cosine=0.25, n_planes=3, n_bands=12
    )
    return out.select("id_a", "id_b", F.round("cos", 6).alias("cos"))


# ---------------------------------------------------------------------------
# the flagship engine on driver data (tokens derived from events)
# ---------------------------------------------------------------------------


# hrv_features_flagship is registered at the end of this module (its
# composed DuckDB twin needs every slice CTE chain defined below).


_TOK_DD = "cast(400 + cast(floor(value * 100) as bigint) % 1100 as int)"

# Shared CTE chain: token decode -> sliding grid -> per-window membership
# (identical semantics to the flagship's chunked kernel input). Membership
# is EXACT integer arithmetic: beat time in cumulative integer
# milliseconds (t_ms) against integer window bounds (win_id*5000 /
# +30000 ms for the default fs=256, step=1280, spw=7680 grid) — a float
# cumsum would classify beats landing exactly on a boundary by summation-
# order rounding noise, which the engine and any SQL oracle disagree on.
# ceil for the first candidate window is (a + 4999) // 5000, correct for
# the clipped-at-0 range under either floor or truncating // semantics.
_GRID_MEMBER_CTES = f"""seq AS (
      SELECT user_id, value, event_type, {_TOK_DD} AS tok,
             row_number() OVER (PARTITION BY user_id ORDER BY {EPOCH_DD}, event_id, value) AS rn
      FROM events),
    rr0 AS (
      SELECT user_id, rn, (tok / 1000.0) AS rr_sec, (tok / 1000.0) * 1000.0 AS rr_ms,
             (sum(tok::bigint) OVER (PARTITION BY user_id ORDER BY rn
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::bigint AS t_ms,
             (sum(tok::bigint) OVER (PARTITION BY user_id))::bigint AS total_ms
      FROM seq),
    rr AS (
      SELECT rr0.*,
             rr_ms - lag(rr_ms) OVER (PARTITION BY user_id ORDER BY rn) AS d_ms_g,
             rr_ms + lag(rr_ms) OVER (PARTITION BY user_id ORDER BY rn) AS s_ms_g,
             lag(t_ms) OVER (PARTITION BY user_id ORDER BY rn) AS t_prev_ms
      FROM rr0),
    wins AS (
      SELECT user_id, (((max(total_ms) * 256) // 1000 - 7680) // 1280 + 1)::bigint AS n_win
      FROM rr GROUP BY user_id
      HAVING ((max(total_ms) * 256) // 1000 - 7680) // 1280 + 1 > 0),
    assign AS (
      SELECT rr.user_id, rr.rn, rr.rr_sec, rr.rr_ms, rr.d_ms_g, rr.s_ms_g,
             rr.t_prev_ms, rr.t_ms,
             unnest(generate_series(greatest(0, (rr.t_ms - 30000 + 4999) // 5000),
                                    least(w.n_win - 1, rr.t_ms // 5000))) AS win_id
      FROM rr JOIN wins w ON w.user_id = rr.user_id),
    member AS MATERIALIZED (
      SELECT user_id, win_id, rn, rr_sec, rr_ms,
             CASE WHEN t_prev_ms >= win_id * 5000 THEN d_ms_g END AS d_ms,
             CASE WHEN t_prev_ms >= win_id * 5000 THEN s_ms_g END AS s_ms
      FROM assign
      WHERE t_ms >= win_id * 5000 AND t_ms <= win_id * 5000 + 30000),
    mem AS MATERIALIZED (
      SELECT user_id, win_id, rr_sec,
             row_number() OVER (PARTITION BY user_id, win_id ORDER BY rn) AS bx,
             count(*) OVER (PARTITION BY user_id, win_id) AS nb
      FROM member)"""


# time-domain chain over the shared grid-membership CTEs; reused verbatim
# by the composed full-flagship twin below
_TIME_CTES = """bins AS (
      SELECT user_id, win_id, floor(rr_sec * 128.0) AS b, count(*) AS c
      FROM member GROUP BY user_id, win_id, floor(rr_sec * 128.0)),
    mx AS (SELECT user_id, win_id, max(c) AS mb FROM bins GROUP BY user_id, win_id),
    agg AS (
      SELECT user_id, win_id,
             count(*) AS n_beats,
             round(stddev_samp(rr_ms), 6) AS sdnn,
             round(avg(rr_ms), 6) AS rr_mean,
             round(min(rr_ms), 6) AS rr_min,
             round(max(rr_ms), 6) AS rr_max,
             round(var_samp(rr_ms), 6) AS rr_var,
             round(sqrt(avg(d_ms * d_ms)), 6) AS rmssd,
             round(stddev_samp(d_ms), 6) AS sdsd,
             sum(CASE WHEN abs(d_ms) > 50.0 THEN 1 ELSE 0 END)::bigint AS nn50,
             round(100.0 * sum(CASE WHEN abs(d_ms) > 50.0 THEN 1 ELSE 0 END) / count(d_ms), 6) AS pnn50
      FROM member GROUP BY user_id, win_id)"""


@q(
    "hrv_time_features_windows",
    f"""
    WITH {_GRID_MEMBER_CTES},
    {_TIME_CTES}
    SELECT 'user-' || agg.user_id::varchar AS doc_id, agg.win_id AS window_id,
           n_beats, sdnn, rr_mean, rr_min, rr_max, rr_var, rmssd, sdsd,
           nn50, pnn50,
           round(n_beats::double / mx.mb, 6) AS tri_index
    FROM agg JOIN mx ON mx.user_id = agg.user_id AND mx.win_id = agg.win_id
    WHERE n_beats >= 5
    """,
)
def hrv_time_features_windows(spark, sf_dir):
    """Flagship kernel output restricted to the SQL-expressible columns —
    the DuckDB twin recomputes the sliding grid + time-domain stats from
    scratch, cross-checking token decode, window membership and the
    time-domain math end-to-end."""
    from ..config import DEFAULT_CONFIG
    from ..functions.hrv import TIME_FEATURES
    from .hrv_pipeline import extract_features

    seq = sequences_from_events(spark, sf_dir)
    # fused=False == what the auto probe always resolves to for this wide
    # derived input (n_splits probe is 0 for non-scan plans), minus the
    # probe's extra aggregation job; features= skips the spectral GEMM
    # and O(n^2) entropy groups this query never reads (guide §4.1).
    feats = extract_features(
        seq, None, DEFAULT_CONFIG, fused=False, features=TIME_FEATURES + ["TRI_INDEX"]
    )
    return feats.filter(F.col("n_beats") >= 5).select(
        "doc_id",
        "window_id",
        F.col("n_beats").cast("long").alias("n_beats"),
        F.round("SDNN", 6).alias("sdnn"),
        F.round("RRMean", 6).alias("rr_mean"),
        F.round("RRMin", 6).alias("rr_min"),
        F.round("RRMax", 6).alias("rr_max"),
        F.round("RRVar", 6).alias("rr_var"),
        F.round("RMSSD", 6).alias("rmssd"),
        F.round("SDSD", 6).alias("sdsd"),
        F.col("NN50").cast("long").alias("nn50"),
        F.round("pNN50", 6).alias("pnn50"),
        F.round("TRI_INDEX", 6).alias("tri_index"),
    )


@q(
    "sliding_grid",
    f"""
    WITH seq AS (SELECT user_id, {_TOK_DD} AS tok FROM events),
         dims AS (SELECT user_id, ((sum(tok::bigint)::bigint * 256) // 1000)::bigint AS n_samples
                  FROM seq GROUP BY user_id),
         g AS (SELECT user_id, n_samples, ((n_samples - 7680) // 1280 + 1)::bigint AS n_win
               FROM dims WHERE (n_samples - 7680) // 1280 + 1 > 0)
    SELECT 'user-' || user_id::varchar AS doc_id,
           unnest(generate_series(0, n_win - 1)) AS window_id,
           unnest(generate_series(0, n_win - 1)) * 1280 AS start_sample,
           unnest(generate_series(0, n_win - 1)) * 1280 + 3840 AS center_sample,
           unnest(generate_series(0, n_win - 1)) * 1280 + 7680 AS end_sample
    FROM g
    """,
)
def sliding_grid(spark, sf_dir):
    from ..config import DEFAULT_CONFIG as cfg
    from .hrv_pipeline import doc_dimensions

    seq = sequences_from_events(spark, sf_dir)
    dims = doc_dimensions(seq, cfg)
    grid = sliding_window_grid(dims, cfg.window_samples(), cfg.step_samples(), cfg.sampling_rate)
    return grid.select("doc_id", "window_id", "start_sample", "center_sample", "end_sample")


# ---------------------------------------------------------------------------
# round-1 additions: O14-as-asof over window centers, O40 metrics,
# O52 arg-max, O57-O65 scalar functions
# ---------------------------------------------------------------------------


@q(
    "window_label_asof",
    f"""
    WITH base AS (
      SELECT user_id, event_id, event_type,
             {EPOCH_DD} - min({EPOCH_DD}) OVER (PARTITION BY user_id) AS rel
      FROM events),
    seq AS (SELECT user_id, {_TOK_DD} AS tok FROM events),
    wins AS (
      SELECT user_id,
             ((((sum(tok::bigint)::bigint * 256) // 1000) - 7680) // 1280 + 1)::bigint AS n_win
      FROM seq GROUP BY user_id
      HAVING (((sum(tok::bigint)::bigint * 256) // 1000) - 7680) // 1280 + 1 > 0),
    centers AS (
      SELECT user_id, unnest(generate_series(0, n_win - 1)) AS window_id,
             (unnest(generate_series(0, n_win - 1)) * 1280 + 3840) / 256.0 AS center_rel
      FROM wins)
    SELECT 'user-' || c.user_id::varchar AS doc_id, c.window_id,
           coalesce(b.event_type, 'none') AS label_event
    FROM centers c ASOF LEFT JOIN base b
      ON b.user_id = c.user_id AND c.center_rel >= b.rel
    """,
)
def window_label_asof(spark, sf_dir):
    """O14 as a literal as-of join: each window center takes the latest
    event at-or-before it (zero leakage) via the engine's native as-of
    operator, checked against DuckDB's built-in ASOF JOIN."""
    from ..config import DEFAULT_CONFIG as cfg
    from .hrv_pipeline import doc_dimensions

    ev = _ev(spark, sf_dir)
    wmin = Window.partitionBy("user_id")
    base = ev.select(
        F.concat(F.lit("user-"), F.col("user_id").cast("string")).alias("doc_id"),
        "event_type",
        (F.col("e") - F.min("e").over(wmin)).alias("rel"),
    )
    seq = sequences_from_events(spark, sf_dir)
    dims = doc_dimensions(seq, cfg)
    grid = sliding_window_grid(dims, cfg.window_samples(), cfg.step_samples(), cfg.sampling_rate)
    centers = grid.select("doc_id", "window_id", F.col("window_center_time").alias("rel"))
    j = asof_join(centers, base, on="rel", by="doc_id", value_cols=["event_type"], direction="backward")
    return j.select(
        "doc_id", "window_id", F.coalesce("event_type", F.lit("none")).alias("label_event")
    )


@q(
    "detection_metrics",
    """
    WITH scored AS (
      SELECT CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS pos,
             CASE WHEN value > 15.0 THEN 1 ELSE 0 END AS pred
      FROM events)
    SELECT sum(pos * pred)::bigint AS tp,
           sum(pos * (1 - pred))::bigint AS fn,
           sum((1 - pos) * pred)::bigint AS fp,
           sum((1 - pos) * (1 - pred))::bigint AS tn,
           round(sum(pos * pred)::double / nullif(sum(pos), 0), 6) AS sensitivity,
           round(sum((1 - pos) * (1 - pred))::double / nullif(sum(1 - pos), 0), 6) AS specificity
    FROM scored
    """,
)
def detection_metrics_q(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    pos = (F.col("event_type") == "error").cast("int")
    pred = (F.col("value") > 15.0).cast("int")
    return ev.select(pos.alias("pos"), pred.alias("pred")).agg(
        F.sum(F.col("pos") * F.col("pred")).alias("tp"),
        F.sum(F.col("pos") * (1 - F.col("pred"))).alias("fn"),
        F.sum((1 - F.col("pos")) * F.col("pred")).alias("fp"),
        F.sum((1 - F.col("pos")) * (1 - F.col("pred"))).alias("tn"),
        F.round(
            F.sum(F.col("pos") * F.col("pred")) / F.nullif(F.sum("pos"), F.lit(0)), 6
        ).alias("sensitivity"),
        F.round(
            F.sum((1 - F.col("pos")) * (1 - F.col("pred"))) / F.nullif(F.sum(1 - F.col("pos")), F.lit(0)), 6
        ).alias("specificity"),
    )


@q(
    "latest_alarm_before",
    f"""
    WITH errors AS (
      SELECT user_id, {EPOCH_DD} AS onset FROM events WHERE event_type = 'error'),
    clicks AS (
      SELECT user_id, {EPOCH_DD} AS e FROM events WHERE event_type = 'click')
    SELECT e.user_id, round(e.onset, 6) AS onset,
           round(max(c.e), 6) AS latest_click,
           round(e.onset - max(c.e), 6) AS warning_secs
    FROM errors e JOIN clicks c ON c.user_id = e.user_id AND c.e < e.onset
    GROUP BY e.user_id, e.onset
    """,
)
def latest_alarm_before(spark, sf_dir):
    from ..operators.evaluation import latest_alarm_before_onset

    ev = _ev(spark, sf_dir)
    alarms = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("doc_id"), F.col("e").alias("alarm_time")
    )
    events = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("doc_id"), F.col("e").alias("onset")
    )
    out = latest_alarm_before_onset(alarms, events)
    return out.select(
        F.col("doc_id").alias("user_id"),
        F.round("onset", 6).alias("onset"),
        F.round("latest_alarm", 6).alias("latest_click"),
        F.round("warning_seconds", 6).alias("warning_secs"),
    )


@q(
    "scalar_functions",
    """
    SELECT doc_id,
           regexp_extract('sub-' || lpad(doc_id::varchar, 3, '0') || '_run-02', 'sub-([^_]+)', 1) AS subject_id,
           regexp_extract('sub-' || lpad(doc_id::varchar, 3, '0') || '_run-02', '_run-([0-9]+)', 1) AS run_no,
           lpad(doc_id::varchar, 6, '0') AS padded,
           greatest(least(n_chars, 300), 100) AS clipped,
           lower(trim('  ' || lang || ' ')) AS normed,
           substr(md5(doc_id::varchar), 1, 8) AS id_hash
    FROM documents
    """,
)
def scalar_functions(spark, sf_dir):
    """O57/O58/O59/O61/O63/O65 in one projection."""
    docs = load_table(spark, sf_dir, "documents")
    name = F.concat(F.lit("sub-"), F.lpad(F.col("doc_id").cast("string"), 3, "0"), F.lit("_run-02"))
    return docs.select(
        "doc_id",
        F.regexp_extract(name, r"sub-([^_]+)", 1).alias("subject_id"),
        F.regexp_extract(name, r"_run-([0-9]+)", 1).alias("run_no"),
        F.lpad(F.col("doc_id").cast("string"), 6, "0").alias("padded"),
        F.greatest(F.least(F.col("n_chars"), F.lit(300)), F.lit(100)).alias("clipped"),
        F.lower(F.trim(F.concat(F.lit("  "), F.col("lang"), F.lit(" ")))).alias("normed"),
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8).alias("id_hash"),
    )


@q(
    "poincare_descriptors",
    f"""
    WITH t AS (
      SELECT user_id, value,
             lead(value) OVER (PARTITION BY user_id ORDER BY {EPOCH_DD}, event_id) AS nxt
      FROM events),
    pairs AS (SELECT user_id, value - nxt AS d, value + nxt AS s FROM t WHERE nxt IS NOT NULL)
    SELECT user_id,
           round(stddev_samp(d) / sqrt(2.0), 6) AS sd1,
           round(stddev_samp(s) / sqrt(2.0), 6) AS sd2,
           round(CASE WHEN stddev_samp(s) > 0
                 THEN (stddev_samp(d) / sqrt(2.0)) / (stddev_samp(s) / sqrt(2.0))
                 ELSE 0.0 END, 6) AS sd_ratio
    FROM pairs GROUP BY user_id HAVING count(*) >= 2
    """,
)
def poincare_descriptors(spark, sf_dir):
    """O31/O43 as native SQL: SD1/SD2 from lag-1 pairs (the kernel keeps
    its own copy for allclose parity; this checks the math standalone)."""
    ev = _ev(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("e", "event_id")
    t = ev.withColumn("nxt", F.lead("value").over(w)).filter(F.col("nxt").isNotNull())
    p = t.select("user_id", (F.col("value") - F.col("nxt")).alias("d"), (F.col("value") + F.col("nxt")).alias("s"))
    sd1 = F.stddev_samp("d") / F.sqrt(F.lit(2.0))
    sd2 = F.stddev_samp("s") / F.sqrt(F.lit(2.0))
    return (
        p.groupBy("user_id")
        .agg(
            F.round(sd1, 6).alias("sd1"),
            F.round(sd2, 6).alias("sd2"),
            F.round(F.when(sd2 > 0, sd1 / sd2).otherwise(F.lit(0.0)), 6).alias("sd_ratio"),
            F.count(F.lit(1)).alias("__n"),
        )
        .filter(F.col("__n") >= 2)
        .drop("__n")
    )


@q(
    "session_window_native",
    f"""
    WITH t AS (
      SELECT user_id, {EPOCH_DD} AS e,
             CASE WHEN {EPOCH_DD} - lag({EPOCH_DD}) OVER (PARTITION BY user_id ORDER BY {EPOCH_DD}) >= 1800.0
                  THEN 1 ELSE 0 END AS brk
      FROM events),
    s AS (SELECT user_id, e,
                 (sum(brk) OVER (PARTITION BY user_id ORDER BY e
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::bigint AS sid
          FROM t)
    SELECT user_id, round(min(e), 6) AS session_start,
           round(max(e) + 1800.0, 6) AS session_end, count(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def session_window_native(spark, sf_dir):
    """O46/O66 via Spark's built-in session_window (batch form): session
    end = last event + gap; a gap of exactly 1800 s starts a new session
    (strict merge), mirrored in the oracle's >= split."""
    ev = load_table(spark, sf_dir, "events")
    sw = F.session_window(F.col("ts").cast("timestamp"), "30 minutes")
    return (
        ev.groupBy("user_id", sw.alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.round(F.unix_micros("w.start") / F.lit(1000000.0), 6).alias("session_start"),
            F.round(F.unix_micros("w.end") / F.lit(1000000.0), 6).alias("session_end"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# spectral + Poincaré driver oracle (VERDICT r1 item 4): the flagship
# kernel on a REDUCED 12-point Lomb-Scargle grid, twinned in DuckDB SQL.
# The reduced grid makes the periodogram SQL-expressible (12 freqs x ~35
# beats per window) while exercising the full kernel path: tau-offset LS
# power, degenerate-term pinning, trapezoid band integration with the
# inclusive band masks, norm/ratio guards, and SD1/SD2 per window.
# Frequencies are injected as repr() round-trip literals of the exact
# np.linspace doubles the engine uses; band segments are derived with the
# same inclusive-mask rule as functions/spectral.py:trapz_band_weights.
# ---------------------------------------------------------------------------

import numpy as _np

_SPEC_FREQS = _np.linspace(0.003, 0.4, 12)
_FREQ_VALUES = ", ".join(f"({i}, {f!r})" for i, f in enumerate(_SPEC_FREQS.tolist()))


def _band_segs(lo: float, hi: float) -> str:
    mask = (_SPEC_FREQS >= lo) & (_SPEC_FREQS <= hi)
    idx = set(_np.flatnonzero(mask).tolist())
    segs = sorted(i for i in idx if (i + 1) in idx)
    return ", ".join(str(i) for i in segs) if segs else "-1"


_SEG_TOTAL = _band_segs(float(_SPEC_FREQS[0]), float(_SPEC_FREQS[-1]))
_SEG_VLF = _band_segs(0.003, 0.04)
_SEG_LF = _band_segs(0.04, 0.15)
_SEG_HF = _band_segs(0.15, 0.4)

_SPECTRAL_CTES = f"""freqs(fidx, f) AS (VALUES {_FREQ_VALUES}),
    tg AS (
      -- tau per (window, freq): atan2(sum sin 2wx, sum cos 2wx)/(2w),
      -- x = beat number 1..n within the window (hrv_features.py:122)
      SELECT m.user_id, m.win_id, fr.fidx, fr.f,
             2 * pi() * fr.f AS w,
             atan2(sum(sin(2 * (2 * pi() * fr.f) * m.bx)),
                   sum(cos(2 * (2 * pi() * fr.f) * m.bx))) / (2 * (2 * pi() * fr.f)) AS tau,
             count(*) AS nb
      FROM mem m CROSS JOIN freqs fr
      WHERE m.nb >= 9
      GROUP BY m.user_id, m.win_id, fr.fidx, fr.f),
    pq AS (
      SELECT g.user_id, g.win_id, g.fidx, g.f, g.nb,
             sum(m.rr_sec * cos(g.w * m.bx - g.w * g.tau)) AS yc,
             sum(m.rr_sec * sin(g.w * m.bx - g.w * g.tau)) AS ys,
             sum(cos(g.w * m.bx - g.w * g.tau) * cos(g.w * m.bx - g.w * g.tau)) AS cc,
             sum(sin(g.w * m.bx - g.w * g.tau) * sin(g.w * m.bx - g.w * g.tau)) AS ss,
             sum(m.rr_sec * m.rr_sec) AS yy
      FROM tg g JOIN mem m ON m.user_id = g.user_id AND m.win_id = g.win_id
      GROUP BY g.user_id, g.win_id, g.fidx, g.f, g.nb),
    pg AS (
      -- normalized LS power with the engine's degenerate-term pinning
      -- (functions/spectral.py: cc/ss below n*1e-24 -> 0)
      SELECT user_id, win_id, fidx, f,
             (0.5 * (CASE WHEN cc > nb * 1e-24 THEN yc * yc / cc ELSE 0.0 END
                   + CASE WHEN ss > nb * 1e-24 THEN ys * ys / ss ELSE 0.0 END))
             * (2.0 / yy) AS p
      FROM pq),
    segs AS (
      SELECT user_id, win_id, fidx, f, p,
             lead(f) OVER wn AS f2, lead(p) OVER wn AS p2
      FROM pg WINDOW wn AS (PARTITION BY user_id, win_id ORDER BY fidx)),
    bands AS (
      SELECT user_id, win_id,
             greatest(0.0, coalesce(sum(CASE WHEN fidx IN ({_SEG_TOTAL})
                        THEN (f2 - f) / 2.0 * (p + p2) END), 0.0)) AS total_u,
             greatest(0.0, coalesce(sum(CASE WHEN fidx IN ({_SEG_VLF})
                        THEN (f2 - f) / 2.0 * (p + p2) END), 0.0)) AS vlf_u,
             greatest(0.0, coalesce(sum(CASE WHEN fidx IN ({_SEG_LF})
                        THEN (f2 - f) / 2.0 * (p + p2) END), 0.0)) AS lf_u,
             greatest(0.0, coalesce(sum(CASE WHEN fidx IN ({_SEG_HF})
                        THEN (f2 - f) / 2.0 * (p + p2) END), 0.0)) AS hf_u
      FROM segs GROUP BY user_id, win_id),
    {{_POINCARE_CTE}}"""

# Poincaré descriptors depend only on window membership — shared by the
# spectral twin and the grid-independent production-flagship twin below
_POINCARE_CTE = """poin AS (
      SELECT user_id, win_id, count(*) AS n_beats,
             stddev_samp(d_ms) / sqrt(2.0) AS sd1,
             stddev_samp(s_ms) / sqrt(2.0) AS sd2
      FROM member GROUP BY user_id, win_id
      HAVING count(*) >= 5)"""
_SPECTRAL_CTES = _SPECTRAL_CTES.replace("{_POINCARE_CTE}", _POINCARE_CTE)

_SPECTRAL_SQL = f"""
    WITH {_GRID_MEMBER_CTES},
    {_SPECTRAL_CTES}
    SELECT 'user-' || po.user_id::varchar AS doc_id, po.win_id AS window_id,
           po.n_beats::bigint AS n_beats,
           round(coalesce(b.total_u, 0.0), 6) AS total_p,
           round(coalesce(b.vlf_u, 0.0), 6) AS vlf_p,
           round(coalesce(b.lf_u, 0.0), 6) AS lf_p,
           round(coalesce(b.hf_u, 0.0), 6) AS hf_p,
           round(CASE WHEN coalesce(b.total_u, 0.0) > 0
                 THEN b.vlf_u * (100.0 / b.total_u) ELSE 0.0 END, 6) AS vlf_norm,
           round(CASE WHEN coalesce(b.total_u, 0.0) > 0
                 THEN b.lf_u * (100.0 / b.total_u) ELSE 0.0 END, 6) AS lf_norm,
           round(CASE WHEN coalesce(b.total_u, 0.0) > 0
                 THEN b.hf_u * (100.0 / b.total_u) ELSE 0.0 END, 6) AS hf_norm,
           round(CASE WHEN coalesce(b.hf_u, 0.0) > 0
                 THEN b.lf_u / b.hf_u ELSE 0.0 END, 6) AS lf_to_hf,
           round(po.sd1, 6) AS sd1,
           round(po.sd2, 6) AS sd2,
           round(CASE WHEN po.sd2 > 0 THEN po.sd1 / po.sd2 ELSE 0.0 END, 6) AS sd_ratio
    FROM poin po LEFT JOIN bands b ON b.user_id = po.user_id AND b.win_id = po.win_id
"""


@q("hrv_spectral_poincare_windows", _SPECTRAL_SQL)
def hrv_spectral_poincare_windows(spark, sf_dir):
    """Flagship kernel (same Arrow/mapInPandas plan as the flagship) with
    a reduced 12-point spectral grid so TOTAL/VLF/LF/HF power, the norms,
    LF/HF and SD1/SD2/ratio are all checked by an independent DuckDB twin.
    Powers are compared UNSCALED (engine output / power_scale) so the
    6-decimal rounding operates on O(1) magnitudes."""
    from ..config import HRVConfig
    from .hrv_pipeline import extract_features

    from ..functions.hrv import FREQ_FEATURES

    cfg = HRVConfig(freq_min=0.003, freq_max=0.4, n_freqs=12)
    s = cfg.power_scale
    seq = sequences_from_events(spark, sf_dir)
    feats = extract_features(
        seq, None, cfg, fused=False, features=FREQ_FEATURES + ["SD1", "SD2", "SD1toSD2"]
    )
    return feats.filter(F.col("n_beats") >= 5).select(
        "doc_id",
        "window_id",
        F.col("n_beats").cast("long").alias("n_beats"),
        F.round(F.col("TOTAL_POWER") / s, 6).alias("total_p"),
        F.round(F.col("VLF_POWER") / s, 6).alias("vlf_p"),
        F.round(F.col("LF_POWER") / s, 6).alias("lf_p"),
        F.round(F.col("HF_POWER") / s, 6).alias("hf_p"),
        F.round("VLF_NORM", 6).alias("vlf_norm"),
        F.round("LF_NORM", 6).alias("lf_norm"),
        F.round("HF_NORM", 6).alias("hf_norm"),
        F.round("LF_TO_HF", 6).alias("lf_to_hf"),
        F.round("SD1", 6).alias("sd1"),
        F.round("SD2", 6).alias("sd2"),
        F.round("SD1toSD2", 6).alias("sd_ratio"),
    )


# ---------------------------------------------------------------------------
# entropy driver oracle: SampEn/ApEn (m=2, r=0.2*sd) per window, twinned
# as a bounded per-window template self-join. This closes the last
# un-oracled slice of the 22-feature surface (VERDICT r1: "except
# entropies"). Reference semantics (hrv_features.py:254-346, mirrored in
# functions/hrv.py and oracle.py): z-normalize with the POPULATION std,
# r = 0.2*sd; SampEn counts i<j template pairs at Chebyshev length m and
# m+1 with the reference's (n-m+2)/(n-m) correction; ApEn includes
# self-matches and averages log(count/K). Windows shorter than
# min_beats_entropy=10 emit 0.0. (entropy_max_beats=4096 never binds at
# ~40 beats/window.)
# ---------------------------------------------------------------------------

_ENTROPY_CTES = """stats AS (
      SELECT user_id, win_id, count(*) AS nb,
             avg(rr_sec) AS mu, stddev_pop(rr_sec)::double AS sd
      FROM member GROUP BY user_id, win_id),
    ztab AS (
      SELECT m.user_id, m.win_id, m.bx, s.nb, s.sd,
             (m.rr_sec - s.mu) / s.sd AS z
      FROM mem m JOIN stats s ON s.user_id = m.user_id AND s.win_id = m.win_id
      WHERE s.sd > 0 AND s.nb >= 10),
    tmpl AS MATERIALIZED (
      SELECT user_id, win_id, bx, nb, sd, z AS z0,
             lead(z, 1) OVER wn AS z1,
             lead(z, 2) OVER wn AS z2
      FROM ztab WINDOW wn AS (PARTITION BY user_id, win_id ORDER BY bx)),
    pairs AS MATERIALIZED (
      -- all ORDERED template pairs (incl. self) of length m=2;
      -- d3 only where BOTH m+1 templates exist
      SELECT a.user_id, a.win_id, a.nb, a.sd, a.bx AS ia, b.bx AS ib,
             greatest(abs(a.z0 - b.z0), abs(a.z1 - b.z1)) AS d2,
             CASE WHEN a.z2 IS NOT NULL AND b.z2 IS NOT NULL
                  THEN greatest(abs(a.z0 - b.z0), abs(a.z1 - b.z1), abs(a.z2 - b.z2)) END AS d3
      FROM tmpl a JOIN tmpl b
        ON a.user_id = b.user_id AND a.win_id = b.win_id
       AND a.z1 IS NOT NULL AND b.z1 IS NOT NULL),
    samp AS (
      SELECT user_id, win_id,
             sum(CASE WHEN ia < ib AND d2 <= 0.2 * sd THEN 1 ELSE 0 END) AS b_cnt,
             sum(CASE WHEN ia < ib AND d3 <= 0.2 * sd THEN 1 ELSE 0 END) AS a_cnt
      FROM pairs GROUP BY user_id, win_id),
    percnt AS (
      SELECT user_id, win_id, ia, nb,
             sum(CASE WHEN d2 <= 0.2 * sd THEN 1 ELSE 0 END) AS c2,
             sum(CASE WHEN d3 <= 0.2 * sd THEN 1 ELSE 0 END) AS c3,
             max(CASE WHEN d3 IS NOT NULL THEN 1 ELSE 0 END) AS has3
      FROM pairs GROUP BY user_id, win_id, ia, nb, sd),
    ap AS (
      SELECT user_id, win_id,
             sum(ln(c2::double / (nb - 1))) / (nb - 1) AS phi2,
             sum(CASE WHEN has3 = 1 THEN ln(c3::double / (nb - 2)) END) / (nb - 2) AS phi3
      FROM percnt GROUP BY user_id, win_id, nb)"""

# gate-wall cap (r4): the entropy twin's per-window template SELF-JOIN is
# the single most expensive oracle at sf0.1 (~37 s). Same deterministic-
# subset pattern as the Welch/streaming twins — a DIFFERENT residue class
# (user_id % 3 = 2) so the capped twins jointly cover all docs; full-
# population SampEn/ApEn stays covered by the composed flagship twin and
# the pytest allclose gate.
_ENTROPY_DOC_FILTER = "user_id % 3 = 2"
_ENTROPY_SQL = f"""
    WITH {_GRID_MEMBER_CTES.replace("FROM events)", f"FROM events WHERE {_ENTROPY_DOC_FILTER})", 1)},
    {_ENTROPY_CTES}
    SELECT 'user-' || st.user_id::varchar AS doc_id, st.win_id AS window_id,
           st.nb::bigint AS n_beats,
           round(CASE WHEN st.nb >= 10 AND st.sd > 0 AND s.a_cnt > 0 AND s.b_cnt > 0
                 THEN -ln((s.a_cnt::double / s.b_cnt) * (st.nb::double / (st.nb - 2)))
                 ELSE 0.0 END, 6) AS sampen,
           round(CASE WHEN st.nb >= 10 AND st.sd > 0
                 THEN ap.phi2 - ap.phi3 ELSE 0.0 END, 6) AS apen
    FROM stats st
    LEFT JOIN samp s ON s.user_id = st.user_id AND s.win_id = st.win_id
    LEFT JOIN ap ON ap.user_id = st.user_id AND ap.win_id = st.win_id
    WHERE st.nb >= 5
"""


@q("hrv_entropy_windows", _ENTROPY_SQL)
def hrv_entropy_windows(spark, sf_dir):
    """Flagship kernel's SampEn/ApEn columns against the per-window
    template-self-join DuckDB twin — the last feature slice previously
    guarded only by pytest allclose. Gate input: the deterministic
    user_id%3==2 doc subset (see _ENTROPY_DOC_FILTER)."""
    from ..config import DEFAULT_CONFIG
    from .hrv_pipeline import extract_features

    seq = sequences_from_events(spark, sf_dir).filter(
        F.substring_index("doc_id", "-", -1).cast("long") % 3 == 2
    )
    feats = extract_features(
        seq, None, DEFAULT_CONFIG, fused=False, features=["SampEn", "ApEn"]
    )
    return feats.filter(F.col("n_beats") >= 5).select(
        "doc_id",
        "window_id",
        F.col("n_beats").cast("long").alias("n_beats"),
        F.round("SampEn", 6).alias("sampen"),
        F.round("ApEn", 6).alias("apen"),
    )


@q(
    "dedup_keepers",
    """
    WITH fp AS (SELECT doc_id, n_chars,
                       substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 16) AS f
                FROM documents),
         k AS (SELECT f, min(doc_id) AS keeper FROM fp GROUP BY f)
    SELECT count(*) AS n_docs, count(DISTINCT fp.f) AS n_unique,
           sum(CASE WHEN fp.doc_id = k.keeper THEN fp.n_chars ELSE 0 END)::bigint AS keeper_chars
    FROM fp JOIN k ON k.f = fp.f
    """,
)
def dedup_keepers(spark, sf_dir):
    from ..operators.dedup import dedup_exact_keep

    docs = load_table(spark, sf_dir, "documents")
    keep = dedup_exact_keep(docs, "text", "doc_id")
    # total row count rides as a 1-row broadcast cross join — the whole
    # query is ONE job (round-1 version issued a separate .count() action)
    totals = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        keep.agg(
            F.count(F.lit(1)).alias("n_unique"),
            F.sum("n_chars").alias("keeper_chars"),
        )
        .join(F.broadcast(totals))
        .select("n_docs", "n_unique", "keeper_chars")
    )


@q(
    "partition_pruned_scan",
    """
    SELECT count(*) AS n_docs, sum(n_chars)::bigint AS total_chars,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc
    FROM documents WHERE doc_id % 8 = 3
    """,
)
def partition_pruned_scan(spark, sf_dir):
    """O3/O5 catalog story: documents laid out as bucket=<k> partition
    directories (the engine's per-recording sink layout, checkpoint.py),
    then scanned with a partition filter — Catalyst prunes the listing to
    ONE directory (PartitionFilters in the plan; asserted by
    tests/test_plan_shape.py), mirroring the reference's up-front input
    discovery + top-N pre-selection
    (data_processing_pipeline.py:293-389, 861-864)."""
    from ..sources.registry import bucketed_documents_path

    path = bucketed_documents_path(spark, sf_dir, n_buckets=8)
    docs = spark.read.parquet(path).filter(F.col("bucket") == 3)
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@q(
    "dedup_components",
    f"""
    WITH RECURSIVE
         w AS (SELECT doc_id, {WORDS_DD} AS ws FROM documents),
         sets AS (SELECT doc_id,
                    list_distinct(list_transform(generate_series(1, greatest(0, len(ws) - 2)),
                                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sg
                  FROM w),
         sig AS (SELECT doc_id,
                        list_min(list_transform(sg, s -> md5('0:' || s))) AS mh0,
                        list_min(list_transform(sg, s -> md5('1:' || s))) AS mh1,
                        list_min(list_transform(sg, s -> md5('2:' || s))) AS mh2,
                        list_min(list_transform(sg, s -> md5('3:' || s))) AS mh3
                 FROM sets WHERE len(sg) > 0),
         bands AS (
           SELECT doc_id, 0 AS band_idx, mh0 || '|' || mh1 AS band_val FROM sig
           UNION ALL
           SELECT doc_id, 1 AS band_idx, mh2 || '|' || mh3 AS band_val FROM sig),
         und AS (
           SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
           FROM bands a JOIN bands b
             ON a.band_idx = b.band_idx AND a.band_val = b.band_val
            AND a.doc_id <> b.doc_id),
         walk(id, comp) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT u.dst, walk.comp FROM walk JOIN und u ON u.src = walk.id)
    SELECT id AS doc_id, min(comp) AS component FROM walk GROUP BY id
    """,
)
def dedup_components_q(spark, sf_dir):
    """Dedup CLUSTERING: near-dup candidate pairs (MinHash-LSH banding)
    grouped into connected components by iterative min-label propagation
    (operators/dedup.py:connected_components); component = min doc id.
    The DuckDB twin computes the same fixpoint with a recursive CTE, so
    the iterative Spark algorithm is value-checked end-to-end."""
    from ..operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", n_hashes=4, band_size=2, shingle_words=3)
    nodes = docs.select(F.col("doc_id").alias("id"))
    comp = connected_components(pairs, nodes=nodes)
    return comp.select(F.col("id").alias("doc_id"), F.col("comp").alias("component"))


# ---------------------------------------------------------------------------
# THE COMPOSED FULL-FLAGSHIP TWIN: every feature slice CTE chain (time,
# spectral+Poincare, entropy) joined with the FixedSPH interval-label
# chain into one 23-feature + label row per (doc, window). Registered as
# the flagship query itself, so the single most user-visible surface is
# DuckDB-oracled end-to-end (VERDICT r2 item 3). The ONLY delta vs
# DEFAULT_CONFIG is the spectral grid resolution (n_freqs 1000 -> 12 over
# the band support 0.003..0.4) - a config knob on the same kernel code
# path; the full-grid output remains the entry() surface and is
# np.allclose-gated in tests/test_pipeline_e2e.py.
# Reference surface: hrv_features.py:395-407 (22 features) + labeling
# labelers.py:44-101 + window grid data_processing_pipeline.py:692-716.
# ---------------------------------------------------------------------------

# FixedSPH label chain over the derived annotations: 'error' events become
# sz annotations (onset = cumulative token ms before the event / 1000,
# duration 60 s); intervals painted at sample resolution with the
# reference's exact truncation/clamp/skip_overlap rules (fs=256, sph=180,
# width=30, skip_overlap); window label = highest-priority interval
# containing the window center sample, else 0.
_LABEL_CTES = """dims AS (
      SELECT user_id, ((sum(tok::bigint) * 256) // 1000)::bigint AS n_samples
      FROM seq GROUP BY user_id),
    aev0 AS (
      SELECT user_id, event_type,
             (sum(tok::bigint) OVER (PARTITION BY user_id ORDER BY rn) - tok)::bigint / 1000.0 AS onset
      FROM seq),
    aev AS (
      SELECT user_id, onset,
             row_number() OVER (PARTITION BY user_id ORDER BY onset) AS aseq
      FROM aev0 WHERE event_type = 'error'),
    sev AS (
      SELECT a.user_id, a.onset, a.aseq, d.n_samples,
             greatest(0, floor(a.onset * 256.0)::bigint) AS sz_lo,
             least(d.n_samples, floor(a.onset * 256.0)::bigint + 15360) AS sz_hi
      FROM aev a JOIN dims d ON d.user_id = a.user_id),
    livs AS (
      SELECT user_id, aseq * 3 + 2 AS pri, sz_lo AS lo, sz_hi AS hi, 2 AS label
      FROM sev
      UNION ALL
      SELECT user_id, aseq * 3 + 1 AS pri,
             greatest(0, floor((onset - 180.0 - 15.0) * 256.0)::bigint) AS lo,
             least(n_samples, floor((onset - 180.0 + 15.0) * 256.0)::bigint) AS hi,
             1 AS label
      FROM sev
      WHERE (onset - 180.0) >= 0 AND (onset - 180.0 - 15.0) >= 0
        AND least(n_samples, floor((onset - 180.0 + 15.0) * 256.0)::bigint) <= sz_lo),
    wlab AS (
      SELECT t.user_id, t.win_id, coalesce(max_by(iv.label, iv.pri), 0) AS label
      FROM agg t LEFT JOIN (SELECT * FROM livs WHERE hi > lo) iv
        ON iv.user_id = t.user_id
       AND (t.win_id * 1280 + 3840) >= iv.lo AND (t.win_id * 1280 + 3840) < iv.hi
      GROUP BY t.user_id, t.win_id)"""

_FLAGSHIP_SQL = f"""
    WITH {_GRID_MEMBER_CTES},
    {_TIME_CTES},
    {_SPECTRAL_CTES},
    {_ENTROPY_CTES},
    {_LABEL_CTES}
    SELECT '' AS subject_id,
           'user-' || t.user_id::varchar AS recording_id,
           'user-' || t.user_id::varchar AS doc_id,
           t.win_id AS window_id,
           (t.win_id * 1280) / 256.0 AS window_start_time,
           (t.win_id * 1280 + 3840) / 256.0 AS window_center_time,
           (t.win_id * 1280 + 7680) / 256.0 AS window_end_time,
           t.n_beats,
           t.nn50, t.pnn50, t.rmssd, t.sdnn, t.sdsd,
           t.rr_mean, t.rr_min, t.rr_max, t.rr_var,
           round(coalesce(b.total_u, 0.0), 6) AS total_p,
           round(coalesce(b.vlf_u, 0.0), 6) AS vlf_p,
           round(coalesce(b.lf_u, 0.0), 6) AS lf_p,
           round(coalesce(b.hf_u, 0.0), 6) AS hf_p,
           round(CASE WHEN coalesce(b.total_u, 0.0) > 0
                 THEN b.vlf_u * (100.0 / b.total_u) ELSE 0.0 END, 6) AS vlf_norm,
           round(CASE WHEN coalesce(b.total_u, 0.0) > 0
                 THEN b.lf_u * (100.0 / b.total_u) ELSE 0.0 END, 6) AS lf_norm,
           round(CASE WHEN coalesce(b.total_u, 0.0) > 0
                 THEN b.hf_u * (100.0 / b.total_u) ELSE 0.0 END, 6) AS hf_norm,
           round(CASE WHEN coalesce(b.hf_u, 0.0) > 0
                 THEN b.lf_u / b.hf_u ELSE 0.0 END, 6) AS lf_to_hf,
           round(po.sd1, 6) AS sd1,
           round(po.sd2, 6) AS sd2,
           round(CASE WHEN po.sd2 > 0 THEN po.sd1 / po.sd2 ELSE 0.0 END, 6) AS sd_ratio,
           round(CASE WHEN st.nb >= 10 AND st.sd > 0 AND s.a_cnt > 0 AND s.b_cnt > 0
                 THEN -ln((s.a_cnt::double / s.b_cnt) * (st.nb::double / (st.nb - 2)))
                 ELSE 0.0 END, 6) AS sampen,
           round(CASE WHEN st.nb >= 10 AND st.sd > 0
                 THEN ap.phi2 - ap.phi3 ELSE 0.0 END, 6) AS apen,
           round(t.n_beats::double / mx.mb, 6) AS tri_index,
           wl.label::bigint AS label
    FROM agg t
    JOIN mx ON mx.user_id = t.user_id AND mx.win_id = t.win_id
    JOIN poin po ON po.user_id = t.user_id AND po.win_id = t.win_id
    JOIN stats st ON st.user_id = t.user_id AND st.win_id = t.win_id
    JOIN wlab wl ON wl.user_id = t.user_id AND wl.win_id = t.win_id
    LEFT JOIN bands b ON b.user_id = t.user_id AND b.win_id = t.win_id
    LEFT JOIN samp s ON s.user_id = t.user_id AND s.win_id = t.win_id
    LEFT JOIN ap ON ap.user_id = t.user_id AND ap.win_id = t.win_id
    WHERE t.n_beats >= 5
"""


_FLAGSHIP_DEFAULT_GRID_SQL = f"""
    WITH {_GRID_MEMBER_CTES},
    {_TIME_CTES},
    {_POINCARE_CTE},
    {_ENTROPY_CTES},
    {_LABEL_CTES}
    SELECT '' AS subject_id,
           'user-' || t.user_id::varchar AS recording_id,
           'user-' || t.user_id::varchar AS doc_id,
           t.win_id AS window_id,
           (t.win_id * 1280) / 256.0 AS window_start_time,
           (t.win_id * 1280 + 3840) / 256.0 AS window_center_time,
           (t.win_id * 1280 + 7680) / 256.0 AS window_end_time,
           t.n_beats,
           t.nn50, t.pnn50, t.rmssd, t.sdnn, t.sdsd,
           t.rr_mean, t.rr_min, t.rr_max, t.rr_var,
           round(po.sd1, 6) AS sd1,
           round(po.sd2, 6) AS sd2,
           round(CASE WHEN po.sd2 > 0 THEN po.sd1 / po.sd2 ELSE 0.0 END, 6) AS sd_ratio,
           round(CASE WHEN st.nb >= 10 AND st.sd > 0 AND s.a_cnt > 0 AND s.b_cnt > 0
                 THEN -ln((s.a_cnt::double / s.b_cnt) * (st.nb::double / (st.nb - 2)))
                 ELSE 0.0 END, 6) AS sampen,
           round(CASE WHEN st.nb >= 10 AND st.sd > 0
                 THEN ap.phi2 - ap.phi3 ELSE 0.0 END, 6) AS apen,
           round(t.n_beats::double / mx.mb, 6) AS tri_index,
           wl.label::bigint AS label
    FROM agg t
    JOIN mx ON mx.user_id = t.user_id AND mx.win_id = t.win_id
    JOIN poin po ON po.user_id = t.user_id AND po.win_id = t.win_id
    JOIN stats st ON st.user_id = t.user_id AND st.win_id = t.win_id
    JOIN wlab wl ON wl.user_id = t.user_id AND wl.win_id = t.win_id
    LEFT JOIN samp s ON s.user_id = t.user_id AND s.win_id = t.win_id
    LEFT JOIN ap ON ap.user_id = t.user_id AND ap.win_id = t.win_id
    WHERE t.n_beats >= 5
"""


@q("hrv_features_flagship", _FLAGSHIP_DEFAULT_GRID_SQL)
def hrv_features_flagship(spark, sf_dir):
    """THE PRODUCTION SURFACE: the flagship pipeline (chunk-split ->
    Arrow kernel -> broadcast FixedSPH interval labels) under
    DEFAULT_CONFIG — the exact config every production consumer gets —
    twinned on the 19 spectral-grid-independent columns (time domain,
    Poincaré, entropies, triangular index) plus the temporal-leakage-free
    label, per (doc, window) row. The spectral columns (the only
    grid-dependent ones) are value-oracled by
    ``hrv_features_flagship_oracle_grid`` below on a reduced 12-point
    grid (a 1000-point Lomb-Scargle twin is SQL-expressible but
    quadratically large), and the full-grid spectral output is
    np.allclose-gated against the loop oracle in
    tests/test_pipeline_e2e.py. Sub-min_beats windows are all-NaN by
    reference semantics and excluded here (NaN never hash-compares
    equal)."""
    from ..config import DEFAULT_CONFIG
    from .hrv_pipeline import extract_features, with_output_ids

    seq = sequences_from_events(spark, sf_dir)
    ann = annotations_from_events(spark, sf_dir)
    feats = with_output_ids(extract_features(seq, ann, DEFAULT_CONFIG))
    return feats.filter(F.col("n_beats") >= 5).select(
        "subject_id",
        "recording_id",
        "doc_id",
        "window_id",
        "window_start_time",
        "window_center_time",
        "window_end_time",
        F.col("n_beats").cast("long").alias("n_beats"),
        F.col("NN50").cast("long").alias("nn50"),
        F.round("pNN50", 6).alias("pnn50"),
        F.round("RMSSD", 6).alias("rmssd"),
        F.round("SDNN", 6).alias("sdnn"),
        F.round("SDSD", 6).alias("sdsd"),
        F.round("RRMean", 6).alias("rr_mean"),
        F.round("RRMin", 6).alias("rr_min"),
        F.round("RRMax", 6).alias("rr_max"),
        F.round("RRVar", 6).alias("rr_var"),
        F.round("SD1", 6).alias("sd1"),
        F.round("SD2", 6).alias("sd2"),
        F.round("SD1toSD2", 6).alias("sd_ratio"),
        F.round("SampEn", 6).alias("sampen"),
        F.round("ApEn", 6).alias("apen"),
        F.round("TRI_INDEX", 6).alias("tri_index"),
        F.col("label").cast("long").alias("label"),
    )


@q("hrv_features_flagship_oracle_grid", _FLAGSHIP_SQL, contrast=True)
def hrv_features_flagship_oracle_grid(spark, sf_dir):
    """The flagship pipeline with its composed FULL-surface DuckDB twin:
    all 23 features + the temporal-leakage-free label checked per
    (doc, window) row. CONFIG DELTA, surfaced in the name (ADVICE r3):
    this variant runs a reduced 12-point spectral grid
    (HRVConfig(freq_min=0.003, freq_max=0.4, n_freqs=12)) so the
    Lomb-Scargle twin stays tractable in SQL; every other knob is
    DEFAULT_CONFIG. The production surface (DEFAULT_CONFIG, 1000-point
    grid) is ``hrv_features_flagship`` above."""
    from ..config import HRVConfig
    from .hrv_pipeline import extract_features, with_output_ids

    cfg = HRVConfig(freq_min=0.003, freq_max=0.4, n_freqs=12)
    sc = cfg.power_scale
    seq = sequences_from_events(spark, sf_dir)
    ann = annotations_from_events(spark, sf_dir)
    feats = with_output_ids(extract_features(seq, ann, cfg))
    return feats.filter(F.col("n_beats") >= 5).select(
        "subject_id",
        "recording_id",
        "doc_id",
        "window_id",
        "window_start_time",
        "window_center_time",
        "window_end_time",
        F.col("n_beats").cast("long").alias("n_beats"),
        F.col("NN50").cast("long").alias("nn50"),
        F.round("pNN50", 6).alias("pnn50"),
        F.round("RMSSD", 6).alias("rmssd"),
        F.round("SDNN", 6).alias("sdnn"),
        F.round("SDSD", 6).alias("sdsd"),
        F.round("RRMean", 6).alias("rr_mean"),
        F.round("RRMin", 6).alias("rr_min"),
        F.round("RRMax", 6).alias("rr_max"),
        F.round("RRVar", 6).alias("rr_var"),
        F.round(F.col("TOTAL_POWER") / sc, 6).alias("total_p"),
        F.round(F.col("VLF_POWER") / sc, 6).alias("vlf_p"),
        F.round(F.col("LF_POWER") / sc, 6).alias("lf_p"),
        F.round(F.col("HF_POWER") / sc, 6).alias("hf_p"),
        F.round("VLF_NORM", 6).alias("vlf_norm"),
        F.round("LF_NORM", 6).alias("lf_norm"),
        F.round("HF_NORM", 6).alias("hf_norm"),
        F.round("LF_TO_HF", 6).alias("lf_to_hf"),
        F.round("SD1", 6).alias("sd1"),
        F.round("SD2", 6).alias("sd2"),
        F.round("SD1toSD2", 6).alias("sd_ratio"),
        F.round("SampEn", 6).alias("sampen"),
        F.round("ApEn", 6).alias("apen"),
        F.round("TRI_INDEX", 6).alias("tri_index"),
        F.col("label").cast("long").alias("label"),
    )


# ---------------------------------------------------------------------------
# r3 training-data curation additions (SURVEY §2.12 E15-E17): per-source
# quotas, TF-IDF salient terms, semi-structured (JSON) metadata
# extraction — each pure Catalyst with a DuckDB twin.
# ---------------------------------------------------------------------------


@q(
    "cap_per_source",
    """
    SELECT doc_id, source
    FROM (SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY md5(doc_id::varchar), doc_id) AS rk
          FROM documents)
    WHERE rk <= 5
    """,
)
def cap_per_source(spark, sf_dir):
    """E15: per-source quota (anti-domination cap for crawl sources) —
    at most 5 docs per source in deterministic hash order."""
    from ..operators.stats import cap_per_group

    docs = load_table(spark, sf_dir, "documents")
    return cap_per_group(docs, "doc_id", "source", k=5).select("doc_id", "source")


@q(
    "tfidf_top_terms",
    f"""
    WITH w AS (SELECT doc_id, unnest({WORDS_DD}) AS w FROM documents),
         tf AS (SELECT doc_id, w, count(*) AS tf FROM w GROUP BY doc_id, w),
         dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
         n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
         scored AS (
           SELECT tf.doc_id, tf.w, tf.tf, dfreq.df,
                  tf.tf * ln(n.n::double / dfreq.df) AS score
           FROM tf JOIN dfreq USING (w) CROSS JOIN n)
    SELECT doc_id,
           row_number() OVER (PARTITION BY doc_id ORDER BY round(score, 6) DESC, w) AS rank,
           w, tf, df, round(score, 6) AS score
    FROM scored QUALIFY rank <= 3
    """,
)
def tfidf_top_terms_q(spark, sf_dir):
    """E16: TF-IDF top-3 salient terms per document — document
    fingerprinting for clustering/near-dup triage; vocabulary-bounded
    global state, two shuffles."""
    from ..functions.text import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    out = tfidf_top_terms(docs, "text", "doc_id", k=3, rank_round=6)
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("rank").cast("long").alias("rank"),
        "w",
        "tf",
        "df",
        F.round("score", 6).alias("score"),
    )


@q(
    "json_props_rollup",
    """
    SELECT event_type,
           count(json_extract_string(props, '$.k')) AS n_with_k,
           sum(json_extract_string(props, '$.k')::int)::bigint AS sum_k,
           max(json_extract_string(props, '$.k')::int) AS max_k
    FROM events GROUP BY event_type
    """,
)
def json_props_rollup(spark, sf_dir):
    """E17: semi-structured metadata extraction — typed field pulled out
    of a JSON props column in the scan stage (no UDF), then rolled up.
    The training-data shape: crawl/page metadata riding as JSON."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.count(k).alias("n_with_k"),
        F.sum(k).cast("long").alias("sum_k"),
        F.max(k).alias("max_k"),
    )


# ---------------------------------------------------------------------------
# streaming-flagship twin (r3): the token-chunk streaming operator's
# batch path against the same composed feature SQL as the flagship (the
# streaming/batch equivalence itself is pytest-gated end-to-end in
# tests/test_streaming_hrv.py with a true availableNow run).
# ---------------------------------------------------------------------------

# gate-wall cap (VERDICT r3 item 6): same deterministic-subset pattern
# as the Welch twin — the operator's full-surface check stays in the
# flagship rows; this row checks the STREAMING state machinery.
_STREAM_DOC_FILTER = "user_id % 3 = 1"
_STREAM_FLAGSHIP_SQL = f"""
    WITH {_GRID_MEMBER_CTES.replace("FROM events)", f"FROM events WHERE {_STREAM_DOC_FILTER})", 1)},
    {_TIME_CTES},
    {_SPECTRAL_CTES},
    {_ENTROPY_CTES}
    SELECT 'user-' || t.user_id::varchar AS doc_id,
           t.win_id AS window_id,
           t.n_beats,
           t.nn50, t.pnn50, t.rmssd, t.sdnn, t.sdsd,
           t.rr_mean, t.rr_min, t.rr_max, t.rr_var,
           round(coalesce(b.total_u, 0.0), 6) AS total_p,
           round(coalesce(b.hf_u, 0.0), 6) AS hf_p,
           round(po.sd1, 6) AS sd1,
           round(po.sd2, 6) AS sd2,
           round(CASE WHEN st.nb >= 10 AND st.sd > 0 AND s.a_cnt > 0 AND s.b_cnt > 0
                 THEN -ln((s.a_cnt::double / s.b_cnt) * (st.nb::double / (st.nb - 2)))
                 ELSE 0.0 END, 6) AS sampen,
           round(t.n_beats::double / mx.mb, 6) AS tri_index
    FROM agg t
    JOIN mx ON mx.user_id = t.user_id AND mx.win_id = t.win_id
    JOIN poin po ON po.user_id = t.user_id AND po.win_id = t.win_id
    JOIN stats st ON st.user_id = t.user_id AND st.win_id = t.win_id
    LEFT JOIN bands b ON b.user_id = t.user_id AND b.win_id = t.win_id
    LEFT JOIN samp s ON s.user_id = t.user_id AND s.win_id = t.win_id
    WHERE t.n_beats >= 5
"""


@q("hrv_features_streaming_op", _STREAM_FLAGSHIP_SQL)
def hrv_features_streaming_op(spark, sf_dir):
    """The token-chunk STREAMING operator (streaming/hrv_stream.py) run
    on its batch path over the derived sequences split into 4 chunks per
    doc — checked against the same composed window-feature SQL as the
    flagship (representative column slice). True incremental
    microbatch == batch equivalence is separately gated by
    tests/test_streaming_hrv.py."""
    from ..config import HRVConfig
    from ..streaming.hrv_stream import streaming_hrv_features

    cfg = HRVConfig(freq_min=0.003, freq_max=0.4, n_freqs=12)
    sc = cfg.power_scale
    seq = sequences_from_events(spark, sf_dir).filter(
        F.substring_index("doc_id", "-", -1).cast("long") % 3 == 1
    )
    n_chunks = 4
    size = (F.size("tokens") + F.lit(n_chunks - 1)) / F.lit(n_chunks)
    chunks = seq.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_chunks - 1)),
                lambda c: F.slice(
                    F.col("tokens"),
                    (c * F.ceil(size).cast("int") + 1).cast("int"),
                    F.ceil(size).cast("int"),
                ),
            )
        ).alias("chunk_idx", "tokens"),
    ).filter(F.size("tokens") > 0)
    out = streaming_hrv_features(chunks, cfg)
    return out.filter(F.col("n_beats") >= 5).select(
        "doc_id",
        "window_id",
        F.col("n_beats").cast("long").alias("n_beats"),
        F.col("NN50").cast("long").alias("nn50"),
        F.round("pNN50", 6).alias("pnn50"),
        F.round("RMSSD", 6).alias("rmssd"),
        F.round("SDNN", 6).alias("sdnn"),
        F.round("SDSD", 6).alias("sdsd"),
        F.round("RRMean", 6).alias("rr_mean"),
        F.round("RRMin", 6).alias("rr_min"),
        F.round("RRMax", 6).alias("rr_max"),
        F.round("RRVar", 6).alias("rr_var"),
        F.round(F.col("TOTAL_POWER") / sc, 6).alias("total_p"),
        F.round(F.col("HF_POWER") / sc, 6).alias("hf_p"),
        F.round("SD1", 6).alias("sd1"),
        F.round("SD2", 6).alias("sd2"),
        F.round("SampEn", 6).alias("sampen"),
        F.round("TRI_INDEX", 6).alias("tri_index"),
    )


@q(
    "numeric_profile",
    """
    SELECT event_type,
           count(*) AS n,
           round(min(value), 6) AS v_min,
           round(max(value), 6) AS v_max,
           round(avg(value), 6) AS v_mean,
           round(stddev_samp(value), 6) AS v_std,
           round(quantile_cont(value, 0.5), 6) AS v_p50,
           round(quantile_cont(value, 0.95), 6) AS v_p95
    FROM events GROUP BY event_type
    """,
)
def numeric_profile(spark, sf_dir):
    """Data-profiling rollup (training-data QA): per-type count / min /
    max / mean / std / exact interpolated p50+p95. Spark's percentile()
    and DuckDB's quantile_cont share the linear-interpolation
    definition, so the twin is exact. (At 100 TB swap percentile() for
    percentile_approx — same query shape, sketch-mergeable.)"""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 6).alias("v_min"),
        F.round(F.max("value"), 6).alias("v_max"),
        F.round(F.avg("value"), 6).alias("v_mean"),
        F.round(F.stddev_samp("value"), 6).alias("v_std"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("v_p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("v_p95"),
    )


# ---------------------------------------------------------------------------
# Welch-fallback driver oracle (O28; VERDICT r3 item 5): the engine's
# alternate spectral path — cubic-interpolate the window's RR series onto
# a uniform 4 Hz grid, Hann/50%-overlap Welch PSD, trapezoid band powers
# (reference hrv_features.py:174-214) — twinned end-to-end in DuckDB:
#   * rr_t is a SEQUENTIAL float cumsum (recursive CTE pins the addition
#     order to np.cumsum's; a windowed SUM may combine in tree order and
#     drift ~1e-14 — the r2 window-membership lesson),
#   * the natural-cubic-spline second derivatives come from the SAME
#     Thomas algorithm as functions/spectral.py:cubic_interp, expressed
#     as a forward recursive CTE (carrying b', d', original c) and a
#     backward one — every op is +,-,*,/ so the spline values are
#     BITWISE equal across engines (all discrete decisions — grid length,
#     searchsorted segment, band masks — happen before any trig),
#   * the DFT replaces np.fft.rfft with explicit cos/sin sums (different
#     rounding at ~1e-15, absorbed by round(...,6) on O(1) magnitudes).
# Powers are compared UNSCALED (engine / power_scale).
# ---------------------------------------------------------------------------

# gate-wall cap (VERDICT r3 item 6): the Welch twin is the most
# expensive oracle in the suite (recursive spline solve + explicit DFT);
# both engines restrict to the SAME deterministic 1-in-5 doc subset so
# the sf0.1 gate stays routine. Coverage is unchanged in kind: every
# window of a sampled doc is still checked end-to-end.
_WELCH_DOC_FILTER = "user_id % 5 = 2"
_WELCH_SQL = f"""
    WITH RECURSIVE {_GRID_MEMBER_CTES.replace("FROM events)", f"FROM events WHERE {_WELCH_DOC_FILTER})", 1)},
    seqm AS MATERIALIZED (SELECT user_id, rn, tok FROM seq),
    tser(user_id, rn, t) AS (
      SELECT user_id, rn, tok / 1000.0 FROM seqm WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.rn, ts.t + s.tok / 1000.0
      FROM tser ts JOIN seqm s ON s.user_id = ts.user_id AND s.rn = ts.rn + 1),
    tserm AS MATERIALIZED (SELECT * FROM tser),
    wcount AS (
      SELECT user_id, win_id, count(*) AS nb FROM member GROUP BY user_id, win_id),
    wb AS (
      SELECT m.user_id, m.win_id, m.rn, m.rr_sec AS y,
             row_number() OVER (PARTITION BY m.user_id, m.win_id ORDER BY m.rn) - 1 AS i,
             count(*) OVER (PARTITION BY m.user_id, m.win_id) AS nb
      FROM member m),
    wfreq AS MATERIALIZED (
      SELECT wb.user_id, wb.win_id, wb.i, wb.nb, wb.y, ts.t
      FROM wb JOIN tserm ts ON ts.user_id = wb.user_id AND ts.rn = wb.rn
      WHERE wb.nb >= 9),
    nbr AS (
      SELECT user_id, win_id, i, nb, y, t,
             lead(t) OVER wnb - t AS h,
             lead(y) OVER wnb AS y_next,
             lag(y) OVER wnb AS y_prev,
             lag(t) OVER wnb AS t_prev
      FROM wfreq WINDOW wnb AS (PARTITION BY user_id, win_id ORDER BY i)),
    coef AS MATERIALIZED (
      SELECT user_id, win_id, i, nb,
             CASE WHEN i BETWEEN 1 AND nb - 2 THEN (t - t_prev) ELSE 0.0 END AS a,
             CASE WHEN i BETWEEN 1 AND nb - 2 THEN 2.0 * ((t - t_prev) + h) ELSE 1.0 END AS b,
             CASE WHEN i BETWEEN 1 AND nb - 2 THEN h ELSE 0.0 END AS c,
             CASE WHEN i BETWEEN 1 AND nb - 2
                  THEN 6.0 * (((y_next - y) / h) - ((y - y_prev) / (t - t_prev)))
                  ELSE 0.0 END AS d
      FROM nbr),
    fwd(user_id, win_id, i, nb, bp, dp, cc) AS (
      SELECT user_id, win_id, i, nb, b, d, c FROM coef WHERE i = 0
      UNION ALL
      SELECT c2.user_id, c2.win_id, c2.i, c2.nb,
             c2.b - (c2.a / f.bp) * f.cc,
             c2.d - (c2.a / f.bp) * f.dp,
             c2.c
      FROM fwd f JOIN coef c2
        ON c2.user_id = f.user_id AND c2.win_id = f.win_id AND c2.i = f.i + 1),
    fwdm AS MATERIALIZED (SELECT * FROM fwd),
    bwd(user_id, win_id, i, m) AS (
      SELECT user_id, win_id, i, dp / bp FROM fwdm WHERE i = nb - 1
      UNION ALL
      SELECT f.user_id, f.win_id, f.i, (f.dp - f.cc * b.m) / f.bp
      FROM bwd b JOIN fwdm f
        ON f.user_id = b.user_id AND f.win_id = b.win_id AND f.i = b.i - 1),
    bwdm AS MATERIALIZED (SELECT * FROM bwd),
    gw AS (
      SELECT user_id, win_id, nb, min(t) AS t0, max(t) AS t1
      FROM wfreq GROUP BY user_id, win_id, nb),
    gcount AS (
      SELECT user_id, win_id, nb, t0,
             CASE WHEN t1 > t0 THEN ceil((t1 - t0) / 0.25)::bigint ELSE 0 END AS gn
      FROM gw),
    gridk AS (
      SELECT user_id, win_id, nb, gn, t0,
             unnest(generate_series(0, gn - 1)) AS k
      FROM gcount WHERE gn >= 10),
    gridx AS MATERIALIZED (
      SELECT user_id, win_id, nb, gn, k, t0 + k * 0.25 AS gx FROM gridk),
    segk AS (
      SELECT gx.user_id, gx.win_id, gx.nb, gx.gn, gx.k, gx.gx,
             least(greatest(count(b.i) - 1, 0), gx.nb - 2)::bigint AS si
      FROM gridx gx LEFT JOIN wfreq b
        ON b.user_id = gx.user_id AND b.win_id = gx.win_id AND b.t < gx.gx
      GROUP BY gx.user_id, gx.win_id, gx.nb, gx.gn, gx.k, gx.gx),
    sig AS MATERIALIZED (
      SELECT s.user_id, s.win_id, s.gn, s.k,
             ((1.0 - (s.gx - b0.t) / (b1.t - b0.t)) * b0.y
              + ((s.gx - b0.t) / (b1.t - b0.t)) * b1.y)
             + ((s.gx - b0.t) * (s.gx - b1.t) / 6.0)
               * ((1.0 + (s.gx - b0.t) / (b1.t - b0.t)) * m1.m
                  + (2.0 - (s.gx - b0.t) / (b1.t - b0.t)) * m0.m) AS v
      FROM segk s
      JOIN wfreq b0 ON b0.user_id = s.user_id AND b0.win_id = s.win_id AND b0.i = s.si
      JOIN wfreq b1 ON b1.user_id = s.user_id AND b1.win_id = s.win_id AND b1.i = s.si + 1
      JOIN bwdm m0 ON m0.user_id = s.user_id AND m0.win_id = s.win_id AND m0.i = s.si
      JOIN bwdm m1 ON m1.user_id = s.user_id AND m1.win_id = s.win_id AND m1.i = s.si + 1),
    wp AS (
      SELECT user_id, win_id, gn,
             least(256, gn // 2) AS np_
      FROM (SELECT DISTINCT user_id, win_id, gn FROM gridk)),
    wp2 AS (
      SELECT user_id, win_id, gn, np_,
             np_ - np_ // 2 AS step_w,
             np_ // 2 + 1 AS nfreq,
             (gn - np_) // (np_ - np_ // 2) + 1 AS nseg
      FROM wp),
    npv AS (SELECT DISTINCT np_ FROM wp2),
    hannk AS (SELECT np_, unnest(generate_series(0, np_ - 1)) AS j FROM npv),
    hannv AS MATERIALIZED (SELECT np_, j, 0.5 - 0.5 * cos(2.0 * pi() * j / np_) AS w FROM hannk),
    hsum AS (SELECT np_, sum(w * w) AS s2 FROM hannv GROUP BY np_),
    segments AS (
      SELECT user_id, win_id, np_, step_w, nfreq,
             unnest(generate_series(0, nseg - 1)) AS ss
      FROM wp2),
    segstart AS (
      SELECT user_id, win_id, np_, step_w, nfreq, ss, ss * step_w AS start
      FROM segments),
    segmean AS MATERIALIZED (
      SELECT sg.user_id, sg.win_id, sg.np_, sg.nfreq, sg.ss, sg.start,
             avg(s.v) AS mu
      FROM segstart sg JOIN sig s
        ON s.user_id = sg.user_id AND s.win_id = sg.win_id
       AND s.k >= sg.start AND s.k < sg.start + sg.np_
      GROUP BY sg.user_id, sg.win_id, sg.np_, sg.nfreq, sg.ss, sg.start),
    segkf AS (
      SELECT user_id, win_id, np_, nfreq, ss, start, mu,
             unnest(generate_series(0, nfreq - 1)) AS k2
      FROM segmean),
    spec AS (
      SELECT sk.user_id, sk.win_id, sk.np_, sk.nfreq, sk.ss, sk.k2,
             sum((s.v - sk.mu) * hv.w * cos(2.0 * pi() * (s.k - sk.start) * sk.k2 / sk.np_)) AS re,
             sum((s.v - sk.mu) * hv.w * sin(2.0 * pi() * (s.k - sk.start) * sk.k2 / sk.np_)) AS im
      FROM segkf sk
      JOIN sig s ON s.user_id = sk.user_id AND s.win_id = sk.win_id
                AND s.k >= sk.start AND s.k < sk.start + sk.np_
      JOIN hannv hv ON hv.np_ = sk.np_ AND hv.j = s.k - sk.start
      GROUP BY sk.user_id, sk.win_id, sk.np_, sk.nfreq, sk.ss, sk.k2),
    segp AS (
      SELECT sp.user_id, sp.win_id, sp.np_, sp.nfreq, sp.ss, sp.k2,
             CASE WHEN sp.np_ % 2 = 0 AND sp.k2 BETWEEN 1 AND sp.nfreq - 2
                    THEN ((sp.re * sp.re + sp.im * sp.im) * (1.0 / (4.0 * h.s2))) * 2.0
                  WHEN sp.np_ % 2 = 1 AND sp.k2 >= 1
                    THEN ((sp.re * sp.re + sp.im * sp.im) * (1.0 / (4.0 * h.s2))) * 2.0
                  ELSE (sp.re * sp.re + sp.im * sp.im) * (1.0 / (4.0 * h.s2))
             END AS p
      FROM spec sp JOIN hsum h ON h.np_ = sp.np_),
    psd AS (
      SELECT user_id, win_id, np_, nfreq, k2,
             k2 / (np_ * 0.25) AS f,
             sum(p) / count(*) AS pv
      FROM segp GROUP BY user_id, win_id, np_, nfreq, k2),
    psdn AS (
      SELECT user_id, win_id, k2, f, pv,
             lead(f) OVER wps AS f2, lead(pv) OVER wps AS pv2
      FROM psd WINDOW wps AS (PARTITION BY user_id, win_id ORDER BY k2)),
    bandp AS (
      SELECT user_id, win_id,
             sum(CASE WHEN f2 IS NOT NULL
                 THEN (f2 - f) / 2.0 * (pv + pv2) END) AS total_u,
             sum(CASE WHEN f2 IS NOT NULL AND f >= 0.003 AND f <= 0.04
                       AND f2 >= 0.003 AND f2 <= 0.04
                 THEN (f2 - f) / 2.0 * (pv + pv2) END) AS vlf_u,
             sum(CASE WHEN f2 IS NOT NULL AND f >= 0.04 AND f <= 0.15
                       AND f2 >= 0.04 AND f2 <= 0.15
                 THEN (f2 - f) / 2.0 * (pv + pv2) END) AS lf_u,
             sum(CASE WHEN f2 IS NOT NULL AND f >= 0.15 AND f <= 0.4
                       AND f2 >= 0.15 AND f2 <= 0.4
                 THEN (f2 - f) / 2.0 * (pv + pv2) END) AS hf_u
      FROM psdn GROUP BY user_id, win_id)
    SELECT 'user-' || w.user_id::varchar AS doc_id,
           w.win_id AS window_id,
           w.nb::bigint AS n_beats,
           round(CASE WHEN w.nb >= 9 THEN greatest(0.0, coalesce(b.total_u, 0.0)) ELSE 0.0 END, 6) AS total_p,
           round(CASE WHEN w.nb >= 9 THEN greatest(0.0, coalesce(b.vlf_u, 0.0)) ELSE 0.0 END, 6) AS vlf_p,
           round(CASE WHEN w.nb >= 9 THEN greatest(0.0, coalesce(b.lf_u, 0.0)) ELSE 0.0 END, 6) AS lf_p,
           round(CASE WHEN w.nb >= 9 THEN greatest(0.0, coalesce(b.hf_u, 0.0)) ELSE 0.0 END, 6) AS hf_p,
           round(CASE WHEN w.nb >= 9 AND greatest(0.0, coalesce(b.total_u, 0.0)) * 1000000.0 > 0
                 THEN (greatest(0.0, coalesce(b.vlf_u, 0.0)) * 1000000.0)
                      * (100.0 / (greatest(0.0, coalesce(b.total_u, 0.0)) * 1000000.0))
                 ELSE 0.0 END, 6) AS vlf_norm,
           round(CASE WHEN w.nb >= 9 AND greatest(0.0, coalesce(b.total_u, 0.0)) * 1000000.0 > 0
                 THEN (greatest(0.0, coalesce(b.lf_u, 0.0)) * 1000000.0)
                      * (100.0 / (greatest(0.0, coalesce(b.total_u, 0.0)) * 1000000.0))
                 ELSE 0.0 END, 6) AS lf_norm,
           round(CASE WHEN w.nb >= 9 AND greatest(0.0, coalesce(b.total_u, 0.0)) * 1000000.0 > 0
                 THEN (greatest(0.0, coalesce(b.hf_u, 0.0)) * 1000000.0)
                      * (100.0 / (greatest(0.0, coalesce(b.total_u, 0.0)) * 1000000.0))
                 ELSE 0.0 END, 6) AS hf_norm,
           round(CASE WHEN w.nb >= 9 AND greatest(0.0, coalesce(b.hf_u, 0.0)) * 1000000.0 > 0
                 THEN (greatest(0.0, coalesce(b.lf_u, 0.0)) * 1000000.0)
                      / (greatest(0.0, coalesce(b.hf_u, 0.0)) * 1000000.0)
                 ELSE 0.0 END, 6) AS lf_to_hf
    FROM wcount w LEFT JOIN bandp b ON b.user_id = w.user_id AND b.win_id = w.win_id
    WHERE w.nb >= 5
"""


@q("hrv_welch_windows", _WELCH_SQL)
def hrv_welch_windows(spark, sf_dir):
    """O28 through the full Spark plan (use_welch_fallback=True ships the
    per-chunk rr_t time axis, operators/skew.py:50): cubic-spline
    resample to the uniform 4 Hz grid, Hann/50%-overlap Welch PSD,
    trapezoid band powers + norms + LF/HF — every frequency feature of
    the fallback path value-checked against the recursive-CTE DuckDB twin
    above. Powers compared unscaled (/power_scale) so 6-decimal rounding
    operates on O(1) magnitudes; sub-min_beats_frequency windows are 0.0
    by reference semantics (hrv_features.py:116-117)."""
    from ..config import HRVConfig
    from .hrv_pipeline import extract_features

    from ..functions.hrv import FREQ_FEATURES

    cfg = HRVConfig(use_welch_fallback=True)
    s = cfg.power_scale
    seq = sequences_from_events(spark, sf_dir).filter(
        F.substring_index("doc_id", "-", -1).cast("long") % 5 == 2
    )
    feats = extract_features(seq, None, cfg, fused=False, features=FREQ_FEATURES)
    return feats.filter(F.col("n_beats") >= 5).select(
        "doc_id",
        "window_id",
        F.col("n_beats").cast("long").alias("n_beats"),
        F.round(F.col("TOTAL_POWER") / s, 6).alias("total_p"),
        F.round(F.col("VLF_POWER") / s, 6).alias("vlf_p"),
        F.round(F.col("LF_POWER") / s, 6).alias("lf_p"),
        F.round(F.col("HF_POWER") / s, 6).alias("hf_p"),
        F.round("VLF_NORM", 6).alias("vlf_norm"),
        F.round("LF_NORM", 6).alias("lf_norm"),
        F.round("HF_NORM", 6).alias("hf_norm"),
        F.round("LF_TO_HF", 6).alias("lf_to_hf"),
    )


# ---------------------------------------------------------------------------
# E21: URL/domain-scoped dedup (VERDICT r3 item 7). No url column exists
# in the testdata, so both engines derive the identical deterministic
# messy URL from (source, doc_id) — see operators/dedup.py:derive_url —
# then normalize (strip query/fragment, lowercase, strip trailing
# slashes) and dedup by the canonical URL / roll up per domain.
# ---------------------------------------------------------------------------

_URL_DERIVE_DD = """(CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTPS://' END)
             || (CASE WHEN doc_id % 4 < 2 THEN source || '.example.com'
                      ELSE upper(source || '.example.com') END)
             || '/page-' || (doc_id // 40)::varchar
             || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
             || (CASE WHEN doc_id % 3 = 0
                      THEN '?utm_source=feed&ref=' || substr(md5(doc_id::varchar), 1, 4)
                      ELSE '' END)"""

_URL_NORM_DD = (
    "regexp_replace(lower(split_part(split_part(url, '?', 1), '#', 1)), '/+$', '')"
)


@q(
    "url_dedup",
    f"""
    WITH u AS (SELECT doc_id, {_URL_DERIVE_DD} AS url FROM documents),
         n AS (SELECT doc_id, {_URL_NORM_DD} AS url_norm FROM u)
    SELECT url_norm, min(doc_id) AS keeper_id, count(*) AS group_size,
           split_part(split_part(url_norm, '://', 2), '/', 1) AS domain
    FROM n GROUP BY url_norm
    """,
)
def url_dedup_q(spark, sf_dir):
    """E21a: URL-keyed exact dedup (the CCNet/RefinedWeb pre-text pass) —
    normalize scheme/host case, strip tracking params + fragments +
    trailing slashes, keep min(doc_id) per canonical URL. One shuffle on
    the normalized URL string; normalization is scan-stage Catalyst
    expressions, zero UDFs, zero broadcasts."""
    from ..operators.dedup import derive_url, url_dedup

    docs = load_table(spark, sf_dir, "documents")
    return url_dedup(derive_url(docs))


@q(
    "domain_url_rollup",
    f"""
    WITH u AS (SELECT doc_id, {_URL_DERIVE_DD} AS url FROM documents),
         n AS (SELECT doc_id, {_URL_NORM_DD} AS url_norm FROM u)
    SELECT split_part(split_part(url_norm, '://', 2), '/', 1) AS domain,
           count(*) AS n_docs,
           count(DISTINCT url_norm) AS n_urls,
           count(*) - count(DISTINCT url_norm) AS n_dup_docs
    FROM n GROUP BY 1
    """,
)
def domain_url_rollup_q(spark, sf_dir):
    """E21b: per-domain curation stats (docs, canonical URLs, docs a
    URL-dedup pass would drop) — the per-domain policy input (caps,
    blocklists). One shuffle on the domain key."""
    from ..operators.dedup import derive_url, domain_url_rollup

    docs = load_table(spark, sf_dir, "documents")
    return domain_url_rollup(derive_url(docs))


@q(
    "blocklist_filter_docs",
    f"""
    WITH u AS (SELECT doc_id, n_chars, {_URL_DERIVE_DD} AS url FROM documents),
         n AS (SELECT doc_id, n_chars,
                      split_part(split_part({_URL_NORM_DD}, '://', 2), '/', 1) AS domain
               FROM u)
    SELECT doc_id, n_chars FROM n
    WHERE domain NOT IN ('src1.example.com', 'src7.example.com', 'src13.example.com')
    """,
)
def blocklist_filter_docs(spark, sf_dir):
    """E24: domain-blocklist filtering over the derived URLs — the
    standard pre-curation drop (spam/adult/boilerplate domain lists).
    LEFT ANTI join against the blocklist table; broadcast when small
    (plan test pins BroadcastHashJoin LeftAnti)."""
    from ..operators.dedup import blocklist_filter, derive_url

    docs = derive_url(load_table(spark, sf_dir, "documents"))
    blocked = spark.createDataFrame(
        [(f"src{k}.example.com",) for k in (1, 7, 13)], "domain string"
    )
    return blocklist_filter(docs, blocked).select("doc_id", "n_chars")


# ---------------------------------------------------------------------------
# E25-E28 (r4): Gopher repetition stats/filter, corpus-DF boilerplate scrub,
# PII redaction, train/eval decontamination (operators/curation.py)
# ---------------------------------------------------------------------------

# shared repetition CTE chain: per-doc word arrays -> 2-grams -> per-word max
# count (the twin computes top_word_frac by unnest+group-max; the engine takes
# the longest run of the sorted word array — equal by construction)
_REP_CTES = f"""
    w AS (SELECT doc_id, {WORDS_DD} AS ws FROM documents),
    g AS (SELECT doc_id, ws,
                 list_transform(generate_series(1, greatest(0, len(ws) - 1)),
                                i -> ws[i] || ' ' || ws[i+1]) AS gs
          FROM w),
    tc AS (SELECT doc_id, max(c) AS top_count
           FROM (SELECT doc_id, word, count(*) AS c
                 FROM (SELECT doc_id, unnest(ws) AS word FROM w)
                 GROUP BY doc_id, word)
           GROUP BY doc_id),
    rep AS (
      SELECT g.doc_id,
             len(g.ws)::bigint AS n_words,
             CASE WHEN len(g.ws) > 0
                  THEN (len(g.ws) - len(list_distinct(g.ws)))::double / len(g.ws)
                  ELSE 0.0 END AS dup_word_frac,
             CASE WHEN len(g.ws) > 0
                  THEN coalesce(tc.top_count, 0)::double / len(g.ws)
                  ELSE 0.0 END AS top_word_frac,
             CASE WHEN len(g.gs) > 0
                  THEN (len(g.gs) - len(list_distinct(g.gs)))::double / len(g.gs)
                  ELSE 0.0 END AS dup_2gram_frac
      FROM g LEFT JOIN tc ON tc.doc_id = g.doc_id)
"""


@q(
    "repetition_stats_docs",
    f"""
    WITH {_REP_CTES}
    SELECT doc_id, n_words,
           round(dup_word_frac, 6) AS dup_word_frac,
           round(top_word_frac, 6) AS top_word_frac,
           round(dup_2gram_frac, 6) AS dup_2gram_frac
    FROM rep
    """,
)
def repetition_stats_docs(spark, sf_dir):
    """E25a: Gopher-style per-document repetition statistics — duplicate
    word / top-word / duplicate-2-gram fractions as scan-stage array
    expressions (zero shuffle at scale, zero UDF; plan test pins no
    Exchange on a many-split input). The higher-order exprs are
    interpreted JVM-side (~12 ms/doc), so the 1-split gate parquet gets
    spread() to cluster parallelism — a no-op on real multi-split
    inputs."""
    from ..operators.curation import repetition_stats
    from ..operators.dedup import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    out = repetition_stats(docs)
    return out.select(
        "doc_id",
        "n_words",
        F.round("dup_word_frac", 6).alias("dup_word_frac"),
        F.round("top_word_frac", 6).alias("top_word_frac"),
        F.round("dup_2gram_frac", 6).alias("dup_2gram_frac"),
    )


@q(
    "gopher_repetition_filter_docs",
    f"""
    WITH {_REP_CTES}
    SELECT doc_id, n_words FROM rep
    WHERE n_words >= 10 AND dup_word_frac <= 0.80
      AND top_word_frac <= 0.20 AND dup_2gram_frac <= 0.85
    """,
)
def gopher_repetition_filter_docs(spark, sf_dir):
    """E25b: the repetition-threshold document filter (Gopher drops docs
    above fixed repetition cutoffs). Thresholds compare UNROUNDED
    integer-ratio doubles — bit-identical in both engines."""
    from ..operators.curation import gopher_repetition_filter
    from ..operators.dedup import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    return gopher_repetition_filter(docs).select("doc_id", "n_words")


@q(
    "corpus_df_scrub_docs",
    f"""
    WITH w AS (SELECT doc_id, {WORDS_DD} AS ws FROM documents),
    nd AS (SELECT count(*) AS n FROM documents),
    dfq AS (SELECT word, count(*) AS c
            FROM (SELECT doc_id, unnest(list_distinct(ws)) AS word FROM w)
            GROUP BY word),
    blocked AS (SELECT word FROM dfq, nd WHERE c > 0.78125 * n),
    e AS (SELECT doc_id,
                 unnest(list_transform(generate_series(1, len(ws)),
                                       i -> {{'pos': i, 'word': ws[i]}})) AS pw
          FROM w),
    kept AS (SELECT doc_id, pw.pos AS pos, pw.word AS word FROM e
             WHERE pw.word NOT IN (SELECT word FROM blocked)),
    agg AS (SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS text_scrubbed,
                   count(*) AS n_kept
            FROM kept GROUP BY doc_id)
    SELECT w.doc_id,
           coalesce(agg.text_scrubbed, '') AS text_scrubbed,
           (len(w.ws) - coalesce(agg.n_kept, 0))::bigint AS n_removed
    FROM w LEFT JOIN agg ON agg.doc_id = w.doc_id
    """,
)
def corpus_df_scrub_docs(spark, sf_dir):
    """E26: corpus-document-frequency boilerplate scrub (the C4 move at
    word granularity): find words present in > 78.125% of documents (a
    small set by definition — 25/32 is exactly representable so both
    engines cut identically), then remove them from every document as a
    LITERAL-array scan-stage rewrite — the corpus itself is never
    shuffled or joined."""
    from ..operators.curation import corpus_df_scrub, high_df_words

    docs = load_table(spark, sf_dir, "documents")
    blocked = high_df_words(docs, max_df_frac=0.78125)
    return corpus_df_scrub(docs, blocked).select("doc_id", "text_scrubbed", "n_removed")


# identical planted-PII derivation in both engines (the corpus has no real
# PII, so the query plants deterministic emails/phones/IPs per doc and the
# oracle validates the full redact+count path end-to-end)
_PII_PLANT_DD = (
    "text || ' contact doc' || doc_id::varchar || '@mail.example.com tel +1-555-01'"
    " || lpad((doc_id % 100)::varchar, 2, '0')"
    " || ' ip 10.0.' || (doc_id % 256)::varchar || '.7 end'"
)


@q(
    "pii_redaction_docs",
    f"""
    WITH p AS (SELECT doc_id, {_PII_PLANT_DD} AS t2 FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}'))::bigint AS n_email,
           len(regexp_extract_all(t2, '\\b[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\b'))::bigint AS n_ipv4,
           len(regexp_extract_all(t2, '\\+?[0-9][0-9\\-]{{6,}}[0-9]'))::bigint AS n_phone,
           regexp_replace(
             regexp_replace(
               regexp_replace(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
               '\\b[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\b', '<IP>', 'g'),
             '\\+?[0-9][0-9\\-]{{6,}}[0-9]', '<PHONE>', 'g') AS text_redacted
    FROM p
    """,
)
def pii_redaction_docs(spark, sf_dir):
    """E27: PII redaction (email/IPv4/phone) + per-class match counts as
    a pure regexp_replace/extract_all chain — scan-stage, codegen'd,
    zero shuffle. Patterns are RE2-compatible so the DuckDB oracle
    compiles the exact same language; match counts are taken BEFORE
    redaction, replacement order email -> ip -> phone in both engines."""
    from ..operators.curation import redact_pii

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.withColumn(
        "t2",
        F.concat(
            F.col("text"),
            F.lit(" contact doc"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com tel +1-555-01"),
            F.lpad(F.pmod(F.col("doc_id"), F.lit(100)).cast("string"), 2, "0"),
            F.lit(" ip 10.0."),
            F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
            F.lit(".7 end"),
        ),
    )
    out = redact_pii(planted, "t2")
    return out.select("doc_id", "n_email", "n_ipv4", "n_phone", "text_redacted")


@q(
    "decontaminate_train_docs",
    f"""
    WITH w AS (SELECT doc_id,
                      ('0x' || substr(md5(doc_id::varchar), 1, 15))::bigint % 5 = 0 AS is_eval,
                      {WORDS_DD} AS ws
               FROM documents),
    sh AS (SELECT doc_id, is_eval,
                  unnest(list_distinct(list_transform(
                    generate_series(1, greatest(0, len(ws) - 4)),
                    i -> ws[i] || '-' || ws[i+1] || '-' || ws[i+2] || '-' || ws[i+3] || '-' || ws[i+4]))) AS s
           FROM w),
    ev AS (SELECT DISTINCT s FROM sh WHERE is_eval)
    SELECT doc_id, count(*)::bigint AS n_overlap
    FROM sh WHERE NOT is_eval AND s IN (SELECT s FROM ev)
    GROUP BY doc_id
    """,
)
def decontaminate_train_docs(spark, sf_dir):
    """E28: train/eval decontamination — flag train documents sharing
    any word 5-gram with the (md5-hash-derived, 20%) eval split; the
    GPT-3/PaLM n-gram collision check. Eval's distinct shingle set is
    small by construction -> broadcast; the train corpus is scanned,
    never shuffled (one agg on the flagged survivors only)."""
    from ..functions.text import words as _words
    from ..operators.curation import decontaminate_overlap

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _words(F.col("text")).alias("toks")
    )
    h = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast("long"),
        F.lit(5),
    )
    docs = docs.withColumn("is_eval", h == 0)
    return decontaminate_overlap(
        docs.filter(~F.col("is_eval")),
        docs.filter(F.col("is_eval")),
        n=5,
        id_col="doc_id",
        tokens_col="toks",
    )


# ---------------------------------------------------------------------------
# E30 (r4): the composed curation pipeline — URL dedup -> Gopher repetition
# filter -> exact content dedup -> per-source quota, as ONE plan
# ---------------------------------------------------------------------------


@q(
    "curation_pipeline",
    f"""
    WITH u AS (SELECT doc_id, source, text, {_URL_DERIVE_DD} AS url FROM documents),
    nrm AS (SELECT doc_id, source, text, {_URL_NORM_DD} AS url_norm FROM u),
    uk AS (SELECT *, min(doc_id) OVER (PARTITION BY url_norm) AS ukeep FROM nrm),
    s1 AS (SELECT doc_id, source, text,
                  split_part(split_part(url_norm, '://', 2), '/', 1) AS domain
           FROM uk WHERE doc_id = ukeep),
    w AS (SELECT doc_id, source, domain, {WORDS_DD} AS ws, text FROM s1),
    g AS (SELECT *, list_transform(generate_series(1, greatest(0, len(ws) - 1)),
                                   i -> ws[i] || ' ' || ws[i+1]) AS gs
          FROM w),
    tc AS (SELECT doc_id, max(c) AS top_count
           FROM (SELECT doc_id, word, count(*) AS c
                 FROM (SELECT doc_id, unnest(ws) AS word FROM w)
                 GROUP BY doc_id, word)
           GROUP BY doc_id),
    rep AS (SELECT g.doc_id, g.source, g.domain, g.text,
                   len(g.ws)::bigint AS n_words,
                   CASE WHEN len(g.ws) > 0
                        THEN (len(g.ws) - len(list_distinct(g.ws)))::double / len(g.ws)
                        ELSE 0.0 END AS dup_word_frac,
                   CASE WHEN len(g.ws) > 0
                        THEN coalesce(tc.top_count, 0)::double / len(g.ws)
                        ELSE 0.0 END AS top_word_frac,
                   CASE WHEN len(g.gs) > 0
                        THEN (len(g.gs) - len(list_distinct(g.gs)))::double / len(g.gs)
                        ELSE 0.0 END AS dup_2gram_frac
            FROM g LEFT JOIN tc ON tc.doc_id = g.doc_id),
    s2 AS (SELECT doc_id, source, domain, text, n_words FROM rep
           WHERE n_words >= 10 AND dup_word_frac <= 0.80
             AND top_word_frac <= 0.20 AND dup_2gram_frac <= 0.85),
    fp AS (SELECT *, substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 16) AS f
           FROM s2),
    ek AS (SELECT *, min(doc_id) OVER (PARTITION BY f) AS ekeep FROM fp),
    s3 AS (SELECT doc_id, source, domain, n_words FROM ek WHERE doc_id = ekeep),
    cap AS (SELECT *, row_number() OVER (PARTITION BY source
                                         ORDER BY md5(doc_id::varchar), doc_id) AS rk
            FROM s3)
    SELECT doc_id, source, domain, n_words FROM cap WHERE rk <= 20
    """,
)
def curation_pipeline(spark, sf_dir):
    """E30: the end-to-end pre-training curation pass as ONE composed
    Spark plan — URL-keyed dedup (CCNet/RefinedWeb pre-text pass) ->
    Gopher repetition filter -> exact content dedup -> per-source quota
    cap (k=20, deterministic hash order). Scale shape: exactly THREE
    window shuffles (url_norm, content fp, source), everything between
    them scan-stage expressions, zero broadcasts, zero UDFs — each
    stage's shape is individually pinned by its own plan test; the
    composed plan is pinned by test_curation_pipeline_three_shuffles."""
    from ..operators.curation import gopher_repetition_filter
    from ..operators.dedup import derive_url, spread, url_dedup_keep
    from ..operators.stats import cap_per_group

    docs = spread(load_table(spark, sf_dir, "documents"))
    u = url_dedup_keep(derive_url(docs)).drop("url")
    g = gopher_repetition_filter(u)
    from ..operators.dedup import dedup_exact_keep

    e = dedup_exact_keep(g, "text", "doc_id")
    c = cap_per_group(e, "doc_id", "source", k=20)
    return c.select("doc_id", "source", "domain", "n_words")


@q(
    "bigram_lm_scores",
    f"""
    WITH w AS (SELECT doc_id, {WORDS_DD} AS ws FROM documents),
    uni AS (SELECT a, count(*) AS c1
            FROM (SELECT unnest(ws) AS a FROM w) GROUP BY a),
    vocab AS (SELECT count(*)::double AS v FROM uni),
    e AS (SELECT doc_id, bg.a AS a, bg.b AS b
          FROM (SELECT doc_id,
                       unnest(list_transform(generate_series(1, greatest(0, len(ws) - 1)),
                                             i -> {{'a': ws[i], 'b': ws[i+1]}})) AS bg
                FROM w)),
    bi AS (SELECT a, b, count(*) AS c12 FROM e GROUP BY a, b),
    lnp AS (SELECT bi.a, bi.b, ln((c12 + 0.5) / (c1 + 0.5 * v)) AS lp
            FROM bi JOIN uni USING (a) CROSS JOIN vocab),
    sc AS (SELECT e.doc_id, count(*) AS nb, sum(lp) AS s
           FROM e JOIN lnp ON lnp.a = e.a AND lnp.b = e.b
           GROUP BY e.doc_id)
    SELECT doc_id, nb::bigint AS n_bigrams, round(-s / nb, 6) AS cross_entropy
    FROM sc
    """,
)
def bigram_lm_scores(spark, sf_dir):
    """E33: bigram-LM cross-entropy per document — the CCNet/KenLM-style
    quality pass (docs kept/binned by predictability under a corpus LM).
    Model = add-0.5-smoothed bigram LM trained on the same corpus (two
    count shuffles, vocabulary-bounded result), then scoring = explode +
    BROADCAST model join + per-doc re-agg. ln inputs are exact rationals
    of integers in both engines; Java Math.log vs libm agree to <=1 ulp,
    invisible at the 6-decimal contract (stressed at sf0.1)."""
    from ..operators.curation import bigram_lm_model, bigram_lm_score
    from ..operators.dedup import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    model = bigram_lm_model(docs, k=0.5)
    return bigram_lm_score(docs, model)


@q(
    "tokenize_documents",
    f"""
    WITH w AS (SELECT doc_id, {WORDS_DD} AS ws FROM documents),
    v AS (SELECT word, row_number() OVER (ORDER BY word) AS token_id
          FROM (SELECT DISTINCT unnest(ws) AS word FROM w)),
    e AS (SELECT doc_id, pw.pos AS pos, pw.word AS word
          FROM (SELECT doc_id,
                       unnest(list_transform(generate_series(1, len(ws)),
                                             i -> {{'pos': i, 'word': ws[i]}})) AS pw
                FROM w)),
    j AS (SELECT doc_id, pos, coalesce(v.token_id, 0) AS tid
          FROM e LEFT JOIN v USING (word))
    SELECT doc_id, count(*)::bigint AS n_tok,
           md5(string_agg(tid::varchar, '-' ORDER BY pos)) AS tokens_md5
    FROM j GROUP BY doc_id
    """,
)
def tokenize_documents(spark, sf_dir):
    """E34: corpus-vocabulary tokenization — the pass that PRODUCES the
    engine's own flagship input shape (input_hint: doc_id,
    tokens:array<int32>, n_tok) from raw text. Dense deterministic ids
    (alphabetical row_number, 0=<unk>), broadcast vocab join, per-doc
    reassembly in word order. The twin re-tokenizes in DuckDB; the token
    ARRAY is compared via md5 of its '-'-joined ids (array stringification
    differs between engines, the id sequence does not)."""
    from ..operators.curation import build_vocab, tokenize
    from ..operators.dedup import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = tokenize(docs, build_vocab(docs))
    return toks.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.md5(
            F.array_join(F.transform("tokens", lambda t: t.cast("string")), "-")
        ).alias("tokens_md5"),
    )


@q(
    "neardup_canonical_docs",
    f"""
    WITH RECURSIVE
         d AS (SELECT * FROM documents WHERE doc_id % 3 = 0),
         w AS (SELECT doc_id, {WORDS_DD} AS ws FROM d),
         sets AS (SELECT doc_id,
                    list_distinct(list_transform(generate_series(1, greatest(0, len(ws) - 2)),
                                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sg
                  FROM w),
         sig AS (SELECT doc_id,
                        list_min(list_transform(sg, s -> md5('0:' || s))) AS mh0,
                        list_min(list_transform(sg, s -> md5('1:' || s))) AS mh1,
                        list_min(list_transform(sg, s -> md5('2:' || s))) AS mh2,
                        list_min(list_transform(sg, s -> md5('3:' || s))) AS mh3
                 FROM sets WHERE len(sg) > 0),
         bands AS (
           SELECT doc_id, 0 AS band_idx, mh0 || '|' || mh1 AS band_val FROM sig
           UNION ALL
           SELECT doc_id, 1 AS band_idx, mh2 || '|' || mh3 AS band_val FROM sig),
         und AS (
           SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
           FROM bands a JOIN bands b
             ON a.band_idx = b.band_idx AND a.band_val = b.band_val
            AND a.doc_id <> b.doc_id),
         walk(id, comp) AS (
           SELECT doc_id, doc_id FROM d
           UNION
           SELECT u.dst, walk.comp FROM walk JOIN und u ON u.src = walk.id),
         comps AS (SELECT id AS doc_id, min(comp) AS component FROM walk GROUP BY id),
         q AS (SELECT c.component, c.doc_id, len(w.ws)::bigint AS n_words,
                      row_number() OVER (PARTITION BY c.component
                                         ORDER BY len(w.ws) DESC, c.doc_id ASC) AS rk
               FROM comps c JOIN w ON w.doc_id = c.doc_id)
    SELECT component, doc_id, n_words FROM q WHERE rk = 1
    """,
)
def neardup_canonical_docs(spark, sf_dir):
    """Near-dup cluster CONSOLIDATION: instead of keeping min(id) per
    cluster, keep the highest-QUALITY representative (here: longest doc,
    ties by min id — swap in any quality column). Composition of three
    proven stages: MinHash-LSH pairs -> connected components (iterative
    min-label propagation) -> per-component arg-max window. The twin
    recomputes the whole chain (recursive-CTE fixpoint + window).

    Gate hygiene (VERDICT r4 item 4): the REGISTERED query runs on the
    deterministic doc_id%3==0 hash-residue subset — the full chain
    (signatures, banding, pair join, CC fixpoint, canonical window) is
    exercised end-to-end at a third of the corpus, same pattern as the
    entropy/Welch/streaming twin caps (those use user_id%3 residues on
    the sequence docs; documents-table residues 1 and 2 stay free for
    future heavy twins). The OPERATOR is uncapped."""
    from pyspark.sql import Window

    from ..operators.dedup import connected_components, minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", n_hashes=4, band_size=2, shingle_words=3)
    comp = connected_components(pairs, nodes=docs.select(F.col("doc_id").alias("id")))
    q = (
        comp.select(F.col("id").alias("doc_id"), F.col("comp").alias("component"))
        .join(docs.select("doc_id", F.size(words(F.col("text"))).cast("long").alias("n_words")), "doc_id")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("component").orderBy(F.desc("n_words"), F.asc("doc_id"))
            ),
        )
    )
    return q.filter(F.col("rk") == 1).select("component", "doc_id", "n_words")


@q(
    "detokenize_roundtrip",
    f"""
    WITH w AS (SELECT doc_id, {WORDS_DD} AS ws FROM documents)
    SELECT doc_id, array_to_string(ws, ' ') AS text_rt
    FROM w WHERE len(ws) > 0
    """,
)
def detokenize_roundtrip(spark, sf_dir):
    """E34b: tokenize -> detokenize LOSSLESSNESS under an independent
    oracle — the engine runs the full vocab/tokenize/detokenize chain;
    the twin never tokenizes at all, it just normalizes the raw text
    (lowercase, whitespace-collapsed word join). Equality proves the id
    assignment is a bijection on the vocabulary and positional
    reassembly preserves word order end-to-end."""
    from ..operators.curation import build_vocab, detokenize, tokenize
    from ..operators.dedup import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    vocab = build_vocab(docs)
    return detokenize(tokenize(docs, vocab), vocab).select("doc_id", "text_rt")


@q(
    "substring_dup_spans",
    f"""
    WITH w AS (SELECT doc_id, {WORDS_DD} AS ws FROM documents),
         f AS (SELECT doc_id, ws FROM w WHERE len(ws) >= 10),
         g AS MATERIALIZED (
           SELECT doc_id, i AS pos, array_to_string(ws[i:i+9], ' ') AS sh
           FROM f, unnest(generate_series(1, len(ws) - 9)) AS t(i)),
         c AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY sh) AS cnt FROM g),
         d AS (SELECT doc_id, pos FROM c WHERE cnt > 1),
         b AS (SELECT doc_id, pos,
                      CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 10
                           THEN 1 ELSE 0 END AS brk
               FROM d),
         isl AS (SELECT doc_id, pos,
                        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                       ROWS UNBOUNDED PRECEDING) AS island
                 FROM b)
    SELECT doc_id, min(pos)::bigint AS span_start, (max(pos) + 9)::bigint AS span_end,
           (max(pos) + 9 - min(pos) + 1)::bigint AS span_words
    FROM isl GROUP BY doc_id, island
    """,
)
def substring_dup_spans(spark, sf_dir):
    """E36: substring/paragraph-granularity exact dedup (Lee et al.
    "Deduplicating Training Data", the ExactSubstr pass at fixed n=10
    words): maximal per-doc spans whose every 10-word shingle occurs
    more than once corpus-wide. Two hash shuffles total (shingle-hash
    window count, then doc-key gaps-and-islands merge) and zero joins —
    see operators/dedup.py:substring_dup_spans. The twin recomputes the
    chain on the raw shingle strings (no hashing), so a Spark-side
    xxhash64 collision would surface as a value mismatch."""
    from ..operators.dedup import substring_dup_spans as op

    docs = load_table(spark, sf_dir, "documents")
    return op(docs, "text", "doc_id", n=10)


@q(
    "substring_dedup_apply",
    f"""
    WITH w AS (SELECT doc_id, {WORDS_DD} AS ws FROM documents),
         f AS (SELECT doc_id, ws FROM w WHERE len(ws) >= 10),
         g AS MATERIALIZED (
           SELECT doc_id, i AS pos, array_to_string(ws[i:i+9], ' ') AS sh
           FROM f, unnest(generate_series(1, len(ws) - 9)) AS t(i)),
         c AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY sh) AS cnt FROM g),
         d AS (SELECT doc_id, pos FROM c WHERE cnt > 1),
         b AS (SELECT doc_id, pos,
                      CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 10
                           THEN 1 ELSE 0 END AS brk
               FROM d),
         isl AS (SELECT doc_id, pos,
                        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                       ROWS UNBOUNDED PRECEDING) AS island
                 FROM b),
         spans AS (SELECT doc_id, island, min(pos) AS s, max(pos) + 9 AS e
                   FROM isl GROUP BY doc_id, island),
         posk AS (SELECT w.doc_id, i, ws[i] AS word
                  FROM w, unnest(generate_series(1, len(ws))) AS t(i)),
         marked AS (SELECT p.doc_id, p.i, p.word, count(s.doc_id) > 0 AS dropped
                    FROM posk p LEFT JOIN spans s
                      ON s.doc_id = p.doc_id AND p.i BETWEEN s.s AND s.e
                    GROUP BY p.doc_id, p.i, p.word)
    SELECT doc_id,
           coalesce(string_agg(word, ' ' ORDER BY i) FILTER (WHERE NOT dropped), '') AS text_clean,
           count(*)::bigint AS n_words,
           (count(*) FILTER (WHERE dropped))::bigint AS n_removed
    FROM marked GROUP BY doc_id
    UNION ALL
    SELECT doc_id, '' AS text_clean, 0::bigint AS n_words, 0::bigint AS n_removed
    FROM w WHERE len(ws) = 0
    """,
)
def substring_dedup_apply(spark, sf_dir):
    """E37: the substring-dedup REWRITE — every document with its
    corpus-duplicated 10-word spans removed (E36 detects, this acts;
    the Lee-et-al pass that actually changes the training corpus).
    Three hash shuffles total (shingle-hash window, doc-key islands,
    doc-key span join-back); the word drop is a native higher-order
    filter. The twin independently re-derives the spans and rebuilds
    each cleaned text with position-level SQL — full-string equality,
    so an off-by-one span boundary on either side is a hard mismatch."""
    from ..operators.dedup import substring_dedup_apply as op

    docs = load_table(spark, sf_dir, "documents")
    return op(docs, "text", "doc_id", n=10)


@q(
    "substring_dedup_keep_one",
    f"""
    WITH w AS (SELECT doc_id, {WORDS_DD} AS ws FROM documents),
         f AS (SELECT doc_id, ws FROM w WHERE len(ws) >= 10),
         g AS MATERIALIZED (
           SELECT doc_id, i AS pos, array_to_string(ws[i:i+9], ' ') AS sh
           FROM f, unnest(generate_series(1, len(ws) - 9)) AS t(i)),
         c AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY sh) AS cnt,
                      row_number() OVER (PARTITION BY sh ORDER BY doc_id, pos) AS rk
               FROM g),
         d AS (SELECT doc_id, pos FROM c WHERE cnt > 1 AND rk > 1),
         b AS (SELECT doc_id, pos,
                      CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 10
                           THEN 1 ELSE 0 END AS brk
               FROM d),
         isl AS (SELECT doc_id, pos,
                        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                       ROWS UNBOUNDED PRECEDING) AS island
                 FROM b),
         spans AS (SELECT doc_id, island, min(pos) AS s, max(pos) + 9 AS e
                   FROM isl GROUP BY doc_id, island),
         posk AS (SELECT w.doc_id, i, ws[i] AS word
                  FROM w, unnest(generate_series(1, len(ws))) AS t(i)),
         marked AS (SELECT p.doc_id, p.i, p.word, count(s.doc_id) > 0 AS dropped
                    FROM posk p LEFT JOIN spans s
                      ON s.doc_id = p.doc_id AND p.i BETWEEN s.s AND s.e
                    GROUP BY p.doc_id, p.i, p.word)
    SELECT doc_id,
           coalesce(string_agg(word, ' ' ORDER BY i) FILTER (WHERE NOT dropped), '') AS text_clean,
           count(*)::bigint AS n_words,
           (count(*) FILTER (WHERE dropped))::bigint AS n_removed
    FROM marked GROUP BY doc_id
    UNION ALL
    SELECT doc_id, '' AS text_clean, 0::bigint AS n_words, 0::bigint AS n_removed
    FROM w WHERE len(ws) = 0
    """,
)
def substring_dedup_keep_one(spark, sf_dir):
    """E37b: substring-dedup rewrite, keep-one-canonical variant (Lee
    et al. §4.2 — the variant real corpora ship): the FIRST occurrence
    of each corpus-duplicated 10-word shingle by (doc_id, pos) survives
    as the canonical copy; every later occurrence is removed. Same
    3-shuffle shape as the aggressive rewrite — the keeper rank is a
    row_number sharing the shingle-hash exchange. The twin re-derives
    keeper ranks on the raw shingle strings and rebuilds each cleaned
    text position-by-position (full-string equality)."""
    from ..operators.dedup import substring_dedup_apply as op

    docs = load_table(spark, sf_dir, "documents")
    return op(docs, "text", "doc_id", n=10, keep_first=True)


# Winnowing sketch CTE chain (E50/E50b twins): k=5-word shingles, 28-bit
# md5-prefix hash packed as h*2^32 + position complement, w=4-hash window
# min = the rightmost-min winnowing selection. All exact integer
# arithmetic — zero float risk.
_WINNOW_CTES = f"""
    w AS (SELECT doc_id, {WORDS_DD} AS ws FROM documents),
    sh AS MATERIALIZED (
      SELECT doc_id, i::bigint AS pos,
             ('0x' || substr(md5(array_to_string(ws[i:i+4], ' ')), 1, 7))::bigint AS h,
             (len(ws) - 4)::bigint AS n_sh
      FROM w, unnest(generate_series(1, len(ws) - 4)) AS t(i)
      WHERE len(ws) >= 5),
    keys AS (SELECT doc_id, pos, n_sh,
                    h * 4294967296 + (4294967295 - (pos - 1)) AS key
             FROM sh),
    sel AS (SELECT doc_id, pos, n_sh,
                   min(key) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mk
            FROM keys),
    wfp AS (SELECT DISTINCT doc_id, mk
            FROM sel WHERE pos <= greatest(1, n_sh - 3))"""


@q(
    "winnowing_fingerprints",
    f"""
    WITH {_WINNOW_CTES}
    SELECT doc_id,
           (4294967295 - (mk % 4294967296) + 1)::bigint AS pos,
           (mk // 4294967296)::bigint AS fp
    FROM wfp
    """,
)
def winnowing_fingerprints_docs(spark, sf_dir):
    """E50: winnowing (MOSS) positional fingerprint sketch — min hash
    per w=4-hash window over k=5-word shingles, rightmost min on ties;
    any >= w+k-1-word run shared between docs shares a fingerprint (the
    paper's locality guarantee). Entirely in-row scan-stage expressions:
    zero shuffle/join/UDF; the rightmost-min rule rides an exact int64
    pack (28-bit md5-prefix hash * 2^32 + position complement) whose
    array_min IS the winnowing selection — the twin replays the same
    pack with a window min, all integer arithmetic, zero float risk."""
    from ..operators.dedup import winnowing_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    return winnowing_fingerprints(docs, "text", "doc_id", k=5, w=4)


@q(
    "fingerprint_overlap_pairs",
    f"""
    WITH {_WINNOW_CTES},
    d AS (SELECT DISTINCT doc_id, (mk // 4294967296) AS fp FROM wfp),
    capped AS (SELECT doc_id, fp
               FROM (SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS c FROM d)
               WHERE c <= 10)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::bigint AS shared_fps
    FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= 2
    """,
)
def fingerprint_overlap_pairs_docs(spark, sf_dir):
    """E50b: MOSS copy-detection candidates — doc pairs sharing >= 2
    distinct winnowing fingerprints, ranked by shared_fps (exactly how
    MOSS orders its report; any >= w+k-1-word shared run contributes a
    fingerprint by the E50 guarantee). Fingerprints selected in > 10
    docs are dropped before pairing (the E46b hot-key cap: bounds the
    fp-key join at cap^2/2 rows per fingerprint — boilerplate evidence
    only; a real copied run also carries rarer fingerprints). Sketch
    build is scan-stage; then one fp-key exchange shared by the
    doc-frequency window and both join sides, one pair-key agg."""
    from ..operators.dedup import fingerprint_overlap_pairs

    docs = load_table(spark, sf_dir, "documents")
    return fingerprint_overlap_pairs(docs, "text", "doc_id", k=5, w=4, min_shared=2, df_cap=10)


@q(
    "fingerprint_overlap_against_corpus",
    f"""
    WITH {_WINNOW_CTES},
    d AS (SELECT DISTINCT doc_id, (mk // 4294967296) AS fp FROM wfp),
    ref AS (SELECT doc_id, fp
            FROM (SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS c
                  FROM d WHERE doc_id % 4 = 1)
            WHERE c <= 10),
    nw AS (SELECT doc_id, fp FROM d WHERE doc_id % 4 != 1)
    SELECT n.doc_id AS new_id, r.doc_id AS ref_id, count(*)::bigint AS shared_fps
    FROM nw n JOIN ref r ON n.fp = r.fp
    GROUP BY 1, 2
    HAVING count(*) >= 2
    """,
)
def fingerprint_overlap_against_corpus_docs(spark, sf_dir):
    """E50c: cross-corpus MOSS evidence against a maintained winnowing
    sketch — new-crawl docs (doc_id % 4 != 1) vs the accumulated-corpus
    sketch table (% 4 == 1; derived inline here, persisted in prod —
    the E47b fp-table-reuse pattern with per-doc evidence: a hit names
    WHICH corpus doc was copied). Corpus-boilerplate fingerprints
    (ref-side doc-frequency > 10) are capped before the join (E50b hot-
    key device). New-side sketch is scan-stage; the corpus side is READ
    (never re-hashed); one 8-byte fp-key join + one pair-key agg."""
    from ..operators.dedup import fingerprint_overlap_against, winnowing_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    ref_fps = winnowing_fingerprints(
        docs.filter(F.col("doc_id") % 4 == 1), "text", "doc_id", k=5, w=4
    )
    return fingerprint_overlap_against(
        docs.filter(F.col("doc_id") % 4 != 1), ref_fps,
        min_shared=2, ref_df_cap=10,
    )


@q(
    "dedup_against_corpus_docs",
    f"""
    WITH split AS (SELECT *, ('0x' || substr(md5('xc:' || doc_id::varchar), 1, 15))::bigint % 3 AS res
                   FROM documents),
    newd AS (SELECT doc_id, text FROM split WHERE res = 2),
    refd AS (SELECT doc_id, text FROM split WHERE res <> 2),
    reffp AS (SELECT DISTINCT substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 16) AS fp
              FROM refd),
    -- NOT EXISTS with plain equality (never NOT IN): a NULL-text doc has
    -- a NULL md5 fingerprint, and NOT IN with NULL on either side filters
    -- rows or empties the result, diverging from Spark's left_anti which
    -- KEEPS NULL-key rows (NULL never equals in the join) — r6 ADVICE.
    surv AS (SELECT n.doc_id, n.text FROM newd n
             WHERE NOT EXISTS (
               SELECT 1 FROM reffp r
               WHERE r.fp = substr(md5(regexp_replace(lower(trim(n.text)), '\\s+', ' ', 'g')), 1, 16))),
    wsn AS (SELECT doc_id, text, {WORDS_DD} AS ws FROM surv),
    wsr AS (SELECT doc_id, {WORDS_DD} AS ws FROM refd),
    sgn AS (SELECT doc_id, text,
                   list_distinct(list_transform(generate_series(1, greatest(0, len(ws) - 2)),
                                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sg
            FROM wsn),
    sgr AS (SELECT doc_id,
                   list_distinct(list_transform(generate_series(1, greatest(0, len(ws) - 2)),
                                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sg
            FROM wsr),
    sign_ AS (SELECT doc_id, text,
                     list_min(list_transform(sg, s -> md5('0:' || s))) AS mh0,
                     list_min(list_transform(sg, s -> md5('1:' || s))) AS mh1,
                     list_min(list_transform(sg, s -> md5('2:' || s))) AS mh2,
                     list_min(list_transform(sg, s -> md5('3:' || s))) AS mh3
              FROM sgn WHERE len(sg) > 0),
    sigr AS (SELECT doc_id,
                    list_min(list_transform(sg, s -> md5('0:' || s))) AS mh0,
                    list_min(list_transform(sg, s -> md5('1:' || s))) AS mh1,
                    list_min(list_transform(sg, s -> md5('2:' || s))) AS mh2,
                    list_min(list_transform(sg, s -> md5('3:' || s))) AS mh3
             FROM sgr WHERE len(sg) > 0),
    bn AS (SELECT doc_id, 0 AS band_idx, mh0 || '|' || mh1 AS band_val FROM sign_
           UNION ALL
           SELECT doc_id, 1 AS band_idx, mh2 || '|' || mh3 AS band_val FROM sign_),
    br AS (SELECT DISTINCT 0 AS band_idx, mh0 || '|' || mh1 AS band_val FROM sigr
           UNION ALL
           SELECT DISTINCT 1 AS band_idx, mh2 || '|' || mh3 AS band_val FROM sigr),
    hits AS (SELECT DISTINCT bn.doc_id FROM bn JOIN br USING (band_idx, band_val))
    SELECT s.doc_id, length(s.text)::bigint AS n_chars
    FROM surv s WHERE s.doc_id NOT IN (SELECT doc_id FROM hits)
    """,
)
def dedup_against_corpus_docs(spark, sf_dir):
    """E47: cross-corpus dedup — the incremental-ingestion pass: the
    md5-residue 1/3 of documents plays the NEW crawl, the other 2/3 the
    accumulated corpus; new docs drop on exact fingerprint collision,
    then on sharing any MinHash LSH band with the reference. Both
    stages are anti-joins on short keys (16-byte fp / band strings) —
    neither side broadcasts at corpus scale. The twin independently
    re-derives both stages (NOT IN over the same md5 devices)."""
    from ..operators.dedup import dedup_against_corpus, spread

    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    res = F.pmod(
        F.conv(F.substring(F.md5(F.concat(F.lit("xc:"), F.col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long"),
        F.lit(3),
    )
    new_df = docs.filter(res == 2)
    ref_df = docs.filter(res != 2)
    out = dedup_against_corpus(new_df, ref_df, "text", "doc_id", near=True)
    return out.select("doc_id", F.length("text").cast("long").alias("n_chars"))


@q(
    "containment_pairs_docs",
    f"""
    WITH w AS (SELECT doc_id, {WORDS_DD} AS ws FROM documents),
         sets AS (SELECT doc_id,
                    list_distinct(list_transform(generate_series(1, greatest(0, len(ws) - 2)),
                                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sg
                  FROM w),
         sh AS (SELECT doc_id, unnest(sg) AS s FROM sets),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::bigint AS n_inter
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         sizes AS (SELECT doc_id, len(sg) AS n FROM sets),
         directed AS (
           SELECT id_a AS id_small, id_b AS id_big, n_inter,
                  n_inter::double / sa.n AS c
           FROM pairs JOIN sizes sa ON sa.doc_id = id_a
           UNION ALL
           SELECT id_b AS id_small, id_a AS id_big, n_inter,
                  n_inter::double / sb.n AS c
           FROM pairs JOIN sizes sb ON sb.doc_id = id_b)
    SELECT id_small, id_big, n_inter, round(c, 6) AS containment
    FROM directed WHERE c >= 0.8
    """,
)
def containment_pairs_docs(spark, sf_dir):
    """E46: asymmetric near-dup via Broder containment |A∩B|/|A| —
    catches a short doc embedded in a long one (tiny Jaccard, huge
    one-way containment). Scale path (r7): SHINGLE-PARTITIONED
    candidates (`containment_candidate_pairs` — self-join on the 8-byte
    shingle hash, count-threshold pre-filter) + one array_intersect
    verify feeding BOTH directions. Unlike the r6 Jaccard-band wiring,
    the candidate set provably supersets the exact answer (uncapped),
    so the twin is the BRUTE exact formulation — the gate now checks
    recall, not just precision. The containment ratio is an exact
    small-integer division, bit-identical across engines."""
    from ..operators.dedup import containment_candidate_pairs, containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    cand = containment_candidate_pairs(
        docs, "text", "doc_id", shingle_words=3, min_containment=0.8
    )
    out = containment_pairs(
        docs, "text", "doc_id", shingle_words=3, min_containment=0.8, candidates=cand
    )
    return out.select(
        "id_small", "id_big", "n_inter", F.round("containment", 6).alias("containment")
    )


@q(
    "chunk_documents_rag",
    f"""
    WITH w AS (SELECT doc_id, {WORDS_DD} AS ws FROM documents),
    d AS (SELECT doc_id, ws, len(ws) AS n FROM w WHERE len(ws) > 0),
    c AS (SELECT doc_id, ws, n, unnest(generate_series(0, greatest(0, least((n - 1) // 24, (n - 32 + 23) // 24)))) AS k FROM d)
    SELECT doc_id, k::bigint AS chunk_id, (1 + k * 24)::bigint AS start_word,
           least(32, n - k * 24)::bigint AS n_words,
           array_to_string(ws[1 + k * 24 : least(n, k * 24 + 32)], ' ') AS chunk_text
    FROM c
    """,
)
def chunk_documents_rag(spark, sf_dir):
    """E43: overlapping document chunking (32-word chunks, stride 24 —
    sized to this corpus's doc lengths) for RAG/embedding prep. Pure
    scan-stage posexplode of an in-row sequence: zero shuffle, zero
    join; the twin rebuilds every chunk string position-by-position so
    an off-by-one slice boundary is a hard mismatch."""
    from ..operators.curation import chunk_documents
    from ..operators.dedup import spread

    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return chunk_documents(docs, "doc_id", "text", chunk_words=32, stride=24)


@q(
    "chunk_hash_embeddings",
    f"""
    WITH w AS (SELECT doc_id, {WORDS_DD} AS ws FROM documents),
    d AS (SELECT doc_id, ws, len(ws) AS n FROM w WHERE len(ws) > 0),
    c AS (SELECT doc_id, unnest(generate_series(0, greatest(0, least((n - 1) // 24, (n - 32 + 23) // 24)))) AS k, ws, n FROM d),
    e AS (SELECT doc_id, k AS chunk_id, ws[1 + k * 24 : least(n, k * 24 + 32)] AS cw FROM c),
    raw AS (SELECT doc_id, chunk_id, j,
                   list_sum(list_transform(cw,
                     w -> CASE WHEN ('0x' || substr(md5('e:' || w), 1, 15))::bigint % 16 = j
                               THEN (CASE WHEN ('0x' || substr(md5('s:' || w), 1, 1))::bigint % 2 = 0
                                          THEN 1.0 ELSE -1.0 END)
                               ELSE 0.0 END)) AS v
            FROM e, unnest(generate_series(0, 15)) AS t(j)),
    nn AS (SELECT doc_id, chunk_id, sqrt(sum(v * v)) AS nrm
           FROM raw GROUP BY doc_id, chunk_id)
    SELECT r.doc_id, r.chunk_id::bigint AS chunk_id, r.j::bigint AS dim_idx,
           round(CASE WHEN nrm > 0 THEN v / nrm ELSE v END, 6) AS val
    FROM raw r JOIN nn USING (doc_id, chunk_id)
    """,
)
def chunk_hash_embeddings(spark, sf_dir):
    """E45: the chunk -> embed leg of the RAG indexing pipeline with a
    REAL (not stubbed) deterministic embedding: signed feature hashing
    (Weinberger et al.) — ±1 scatter by md5 bucket, L2 normalize.
    Components are exact ±1 integer sums in both engines; only the
    final normalization is float (round-6 contract). Zero shuffle:
    chunking and embedding both live in the scan stage; output exploded
    to (doc_id, chunk_id, dim_idx, val) so the twin compares plain
    doubles, never engine-specific array stringifications."""
    from ..functions.vectors import hash_embed_udf
    from ..operators.curation import chunk_documents
    from ..operators.dedup import spread

    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    chunks = chunk_documents(docs, "doc_id", "text", chunk_words=32, stride=24)
    # r9: the O(n_words + dim) Arrow scatter kernel replaces the fused
    # expression form, whose normalize wrapper re-evaluates the raw
    # aggregate per output slot (effectively O(dim^2 x n_words)/row —
    # the hash_embed docstring's own cliff). Values are BIT-IDENTICAL
    # by construction (same md5 devices, exact integer components, same
    # single float normalize — pinned by the E45b bitwise pytest);
    # measured 13.3 -> ~1 s at sf0.1.
    emb = chunks.select(
        "doc_id", "chunk_id", hash_embed_udf(16)(F.col("chunk_text")).alias("v")
    )
    return emb.select(
        "doc_id",
        "chunk_id",
        F.posexplode("v").alias("dim_idx", "val0"),
    ).select(
        "doc_id", "chunk_id", F.col("dim_idx").cast("long").alias("dim_idx"),
        F.round("val0", 6).alias("val"),
    )


@q(
    "importance_sample_docs",
    f"""
    WITH w AS (SELECT doc_id, {WORDS_DD} AS ws FROM documents),
    e AS (SELECT doc_id, unnest(ws) AS word FROM w),
    b AS (SELECT doc_id,
                 ('0x' || substr(md5('f:' || word), 1, 15))::bigint % 1024 AS j
          FROM e),
    s AS (SELECT doc_id,
                 sum(('0x' || substr(md5('w:' || j::varchar), 1, 8))::bigint
                     / 4294967296.0 - 0.5) AS dot
          FROM b GROUP BY doc_id),
    f AS (SELECT w.doc_id, len(w.ws)::bigint AS n_words,
                 coalesce(s.dot, 0.0) AS dot
          FROM w LEFT JOIN s ON s.doc_id = w.doc_id),
    f2 AS (SELECT doc_id,
                  round(1.0 / (1.0 + exp(-(CASE WHEN n_words > 0
                                                THEN dot / n_words ELSE 0.0 END))), 6) AS prob
           FROM f),
    t AS (SELECT doc_id, prob,
                 round((0.05 + 0.95 * prob) * 65536)::bigint AS keep_thr
          FROM f2)
    SELECT doc_id, prob, keep_thr
    FROM t
    WHERE ('0x' || substr(md5('imp:' || doc_id::varchar), 1, 4))::bigint < keep_thr
    """,
)
def importance_sample_docs(spark, sf_dir):
    """E42: classifier-guided importance sampling (GPT-3 Appendix A) —
    keep probability 0.05 + 0.95*prob over the E40 linear-classifier
    sigmoid, realized through the deterministic md5 device with
    per-doc INTEGER thresholds. Composed on the ROUND-6 prob (the
    gate-proven value), so both engines derive bit-identical cuts; the
    whole pass (classifier + sampler) stays zero-shuffle scan-stage."""
    from ..operators.curation import hashed_linear_classifier, md5_feature_weights
    from ..operators.dedup import spread
    from ..operators.stats import importance_sample

    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    scored = hashed_linear_classifier(
        docs, md5_feature_weights(1024), bias=0.0, threshold=0.0, score_round=6
    ).select("doc_id", "prob")
    return importance_sample(scored, "doc_id", "prob", floor=0.05)


@q(
    "sequence_packing_bfd",
    """
    WITH RECURSIVE d AS (
      SELECT doc_id, n_chars::bigint AS s, (doc_id % 16)::int AS shard,
             row_number() OVER (PARTITION BY doc_id % 16 ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents),
    r AS (
      SELECT DISTINCT shard, 0::bigint AS t, []::bigint[] AS loads,
             NULL::bigint AS doc_id, NULL::bigint AS bin
      FROM d
      UNION ALL
      SELECT r.shard, r.t + 1,
             CASE WHEN list_aggregate(list_filter(r.loads, l -> l + d.s <= 4000), 'max') IS NULL
                  THEN list_append(r.loads, d.s)
                  ELSE list_transform(generate_series(1, len(r.loads)),
                         i -> CASE WHEN i = list_position(r.loads,
                                    list_aggregate(list_filter(r.loads, l -> l + d.s <= 4000), 'max'))
                              THEN r.loads[i] + d.s ELSE r.loads[i] END)
             END,
             d.doc_id,
             CASE WHEN list_aggregate(list_filter(r.loads, l -> l + d.s <= 4000), 'max') IS NULL
                  THEN len(r.loads)::bigint
                  ELSE (list_position(r.loads,
                          list_aggregate(list_filter(r.loads, l -> l + d.s <= 4000), 'max')) - 1)::bigint
             END
      FROM r JOIN d ON d.shard = r.shard AND d.rn = r.t + 1
    )
    SELECT doc_id, shard, bin FROM r WHERE doc_id IS NOT NULL
    """,
)
def sequence_packing_bfd(spark, sf_dir):
    """E12b: best-fit-decreasing packing of documents into 4000-char
    bins — the no-split alternative to contiguous packing (every doc
    whole in one bin; waste measurable, see BENCH/curation_paths.md
    pack-vs-pad table). Fully deterministic policy (size-desc/id order,
    tightest-fitting-lowest-index bin), so the twin replays it exactly
    as a recursive CTE carrying each shard's bin-load list — the first
    ITERATIVE-HEURISTIC oracle in the suite (the CC twin is iterative
    too, but convergent; this one is order-sensitive state)."""
    from ..operators.stats import pack_sequences_bfd

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences_bfd(docs, "doc_id", "n_chars", budget=4000, n_shards=16).select(
        "doc_id", F.col("shard").cast("long").alias("shard"), "bin"
    )


@q(
    "linear_quality_docs",
    f"""
    WITH w AS (SELECT doc_id, {WORDS_DD} AS ws FROM documents),
    e AS (SELECT doc_id, unnest(ws) AS word FROM w),
    b AS (SELECT doc_id,
                 ('0x' || substr(md5('f:' || word), 1, 15))::bigint % 1024 AS j
          FROM e),
    s AS (SELECT doc_id,
                 sum(('0x' || substr(md5('w:' || j::varchar), 1, 8))::bigint
                     / 4294967296.0 - 0.5) AS dot
          FROM b GROUP BY doc_id),
    f AS (SELECT w.doc_id, len(w.ws)::bigint AS n_words,
                 coalesce(s.dot, 0.0) AS dot
          FROM w LEFT JOIN s ON s.doc_id = w.doc_id),
    f2 AS (SELECT doc_id, n_words,
                  CASE WHEN n_words > 0 THEN dot / n_words ELSE 0.0 END AS sc
           FROM f)
    SELECT doc_id, n_words, round(sc, 6) AS score,
           round(1.0 / (1.0 + exp(-sc)), 6) AS prob,
           round(sc, 6) > 0.0 AS keep
    FROM f2
    """,
)
def linear_quality_docs(spark, sf_dir):
    """E40: hashed-feature linear quality classifier — the fastText/
    logistic-regression quality pass (GPT-3 WebText classifier shape).
    The model is a 1024-dim literal weight array IN THE PLAN (md5-derived
    stand-in for a trained vector — every weight an exactly-representable
    double both engines re-derive bit-identically); score = mean w[md5
    (word) mod 1024] per doc via F.aggregate over the in-row word array —
    ZERO shuffle, zero join, zero UDF. Score/prob compared at round-6
    (word-sum order differs between engines); keep cuts on the rounded
    score so both engines make the identical decision."""
    from ..operators.curation import hashed_linear_classifier, md5_feature_weights
    from ..operators.dedup import spread

    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return hashed_linear_classifier(
        docs, md5_feature_weights(1024), bias=0.0, threshold=0.0, score_round=6
    )


@q(
    "k_anonymity_customers",
    """
    WITH q AS (SELECT c_nationkey AS nation,
                      (CAST(floor(c_acctbal / 1000.0) AS bigint)) AS bal_band,
                      coalesce(c_mktsegment, chr(0) || 'null') AS sv
               FROM customer),
    per_sv AS (SELECT nation, bal_band, sv, count(*)::bigint AS c
               FROM q GROUP BY 1, 2, 3)
    SELECT nation, bal_band,
           sum(c)::bigint AS n_records,
           count(*)::bigint AS n_sensitive,
           sum(c) >= 5 AS k_anonymous,
           count(*) >= 2 AS l_diverse
    FROM per_sv GROUP BY 1, 2
    """,
)
def k_anonymity_customers_q(spark, sf_dir):
    """E124: k-anonymity / l-diversity disclosure-risk audit over
    customer — QI = (nation, acctbal thousand-band), sensitive =
    market segment, k=5 / l=2 (Sweeney 2002; Machanavajjhala 2007) —
    the structured-data privacy companion of the E23 text PII
    redaction: every QI class must hide among >= k records AND span
    >= l sensitive values before the table can be shared.  Pure exact
    counting over the bounded QI-class table; NULL sensitive values
    count as their own value via a sentinel so a NULL-only group is
    not vacuously diverse."""
    from ..operators.curation import k_anonymity_audit

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nation"),
        F.expr("cast(floor(c_acctbal / 1000.0) as bigint)").alias("bal_band"),
        "c_mktsegment",
    )
    return k_anonymity_audit(cust, ["nation", "bal_band"], "c_mktsegment", k=5, l_div=2)


@q(
    "auc_by_source_docs",
    """
    WITH d AS (SELECT source, n_chars AS s,
                      CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
               FROM documents),
    g AS (SELECT source, s, sum(y)::bigint AS cp, sum(1 - y)::bigint AS cn
          FROM d GROUP BY source, s),
    w AS (SELECT source,
                 cp, cn,
                 sum(cn) OVER (PARTITION BY source ORDER BY s) - cn AS cnb,
                 sum(cp) OVER (PARTITION BY source) AS np,
                 sum(cn) OVER (PARTITION BY source) AS nn
          FROM g)
    SELECT source, max(np)::bigint AS n_pos, max(nn)::bigint AS n_neg,
           sum(2 * cp * cnb + cp * cn)::bigint AS auc_num2,
           round(sum(2 * cp * cnb + cp * cn)::double
                 / (2 * max(np) * max(nn))::double, 6) AS auc
    FROM w GROUP BY source
    HAVING max(np) > 0 AND max(nn) > 0
    """,
)
def auc_by_source_docs(spark, sf_dir):
    """E91: exact per-source ROC AUC (Mann-Whitney with integer midrank
    tie credit) of doc length predicting is-English — the ranking
    companion of the E90 calibration gate; corpus collapses to
    per-(source, distinct score) counts, the window sorts only that
    table."""
    from ..operators.evaluation import auc_by_group

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "y", (F.col("lang") == "en").cast("long")
    )
    return auc_by_group(docs, "n_chars", "y", ["source"])


@q(
    "vocab_growth_docs",
    f"""
    WITH d AS (SELECT ('0x' || substr(md5('vg:' || doc_id::varchar), 1, 8))::bigint
                      % 10 AS b,
                      {WORDS_DD} AS ws
               FROM documents),
    ex AS (SELECT b, unnest(ws) AS w FROM d),
    tok AS (SELECT b, count(*)::bigint AS n_tokens FROM ex GROUP BY b),
    first AS (SELECT w, min(b) AS fb FROM ex GROUP BY w),
    nw AS (SELECT fb AS bucket, count(*)::bigint AS new_words FROM first GROUP BY fb)
    SELECT nw.bucket,
           coalesce(tok.n_tokens, 0)::bigint AS n_tokens,
           nw.new_words,
           sum(nw.new_words) OVER (ORDER BY nw.bucket)::bigint AS cum_vocab
    FROM nw LEFT JOIN tok ON tok.b = nw.bucket
    """,
)
def vocab_growth_docs(spark, sf_dir):
    """E92: Heaps-law vocabulary-saturation curve over 10 nested hash
    prefixes — new distinct words per corpus slice + running vocab;
    the one corpus-scale exchange is the per-word MIN aggregate (E52
    word-frequency shape), the curve itself 10 rows."""
    from ..operators.curation import vocab_growth

    docs = load_table(spark, sf_dir, "documents")
    return vocab_growth(docs, "text", "doc_id", n_buckets=10)


@q(
    "quality_budget_select",
    f"""
    WITH w AS (SELECT doc_id, {WORDS_DD} AS ws FROM documents),
    e AS (SELECT doc_id, unnest(ws) AS word FROM w),
    b AS (SELECT doc_id,
                 ('0x' || substr(md5('f:' || word), 1, 15))::bigint % 1024 AS j
          FROM e),
    s AS (SELECT doc_id,
                 sum(('0x' || substr(md5('w:' || j::varchar), 1, 8))::bigint
                     / 4294967296.0 - 0.5) AS dot
          FROM b GROUP BY doc_id),
    f AS (SELECT w.doc_id, len(w.ws)::bigint AS n_words,
                 coalesce(s.dot, 0.0) AS dot
          FROM w LEFT JOIN s ON s.doc_id = w.doc_id),
    p AS (SELECT doc_id, n_words,
                 round(1.0 / (1.0 + exp(-(CASE WHEN n_words > 0
                                               THEN dot / n_words
                                               ELSE 0.0 END))), 6) AS prob
          FROM f),
    j2 AS (SELECT d.source, p.doc_id, p.n_words, p.prob
           FROM p JOIN documents d ON d.doc_id = p.doc_id),
    c AS (SELECT doc_id, source, n_words, prob,
                 (sum(n_words) OVER (PARTITION BY source
                                     ORDER BY prob DESC, doc_id
                                     ROWS UNBOUNDED PRECEDING))::bigint AS cum_tokens
          FROM j2)
    SELECT doc_id, source, n_words, prob, cum_tokens
    FROM c WHERE cum_tokens <= 800
    """,
)
def quality_budget_select_docs(spark, sf_dir):
    """E51: quality-ordered token-budget selection — "B tokens per
    source" made concrete (the FineWeb/LLaMA curation move): rank each
    source by the E40 classifier prob (round-6, the established
    cross-engine-stable device), keep greedily while the running token
    total stays <= 800. Runs the E51b SALTED scale path (quantile-salted
    two-level prefix sum — a hot source spreads over n_salts tasks;
    output bit-identical to the single-window form, which this twin
    replays); scoring is shuffle-free scan-stage; the budget compare is
    exact integer arithmetic over a fully deterministic
    (prob desc, doc_id) order, so the twin reproduces the keep set
    bit-for-bit."""
    from ..operators.curation import md5_feature_weights, quality_budget_select
    from ..operators.dedup import spread

    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text", "source"))
    return quality_budget_select(
        docs, md5_feature_weights(1024), budget=800, salted=True, n_salts=8
    )


def _bpe_twin_sql(k: int) -> str:
    """Unrolled-iteration BPE replay (E52 twin): k blocks of pair-count
    -> lexicographic-tie argmax -> greedy merge. The greedy left-to-right
    merge (skip the consumed index) is SQL'd as gaps-and-islands over
    candidate positions: consecutive candidates only occur for l = r
    runs, where greedy takes odd ranks within each island; the rebuild
    drops j when j-1 was selected and replaces selected j with l || r.
    Same device family as the E12b BFD policy replay — iteration state
    carried CTE block to block."""
    parts = [f"""
    wsrc AS (SELECT unnest({WORDS_DD}) AS word FROM documents),
    wc AS (SELECT word, count(*)::bigint AS cnt FROM wsrc GROUP BY word),
    v0 AS MATERIALIZED (
      SELECT word, cnt,
             list_append(list_transform(generate_series(1, len(word)), i -> word[i:i]),
                         '</w>') AS syms
      FROM wc)"""]
    for i in range(k):
        parts.append(f"""
    e{i} AS MATERIALIZED (
      SELECT word, cnt, j, syms[j] AS sym
      FROM v{i}, unnest(generate_series(1, len(syms))) AS t(j)),
    pp{i} AS MATERIALIZED (
      SELECT word, cnt, j, sym AS l,
             lead(sym) OVER (PARTITION BY word ORDER BY j) AS r
      FROM e{i}),
    p{i} AS (SELECT l, r, sum(cnt)::bigint AS total
             FROM pp{i} WHERE r IS NOT NULL GROUP BY 1, 2),
    b{i} AS (SELECT l, r, total FROM p{i} ORDER BY total DESC, l, r LIMIT 1),
    cnd{i} AS (SELECT pp.word, pp.j FROM pp{i} pp, b{i} b
               WHERE pp.l = b.l AND pp.r = b.r),
    sel{i} AS (SELECT word, j FROM (
                 SELECT word, j,
                        row_number() OVER (PARTITION BY word, grp ORDER BY j) AS rk
                 FROM (SELECT word, j,
                              j - row_number() OVER (PARTITION BY word ORDER BY j) AS grp
                       FROM cnd{i})) WHERE rk % 2 = 1),
    v{i + 1} AS MATERIALIZED (
      SELECT e.word, max(e.cnt) AS cnt,
             list(CASE WHEN s.j IS NOT NULL THEN e.sym || b.r ELSE e.sym END
                  ORDER BY e.j) FILTER (WHERE p.j IS NULL) AS syms
      FROM e{i} e CROSS JOIN b{i} b
      LEFT JOIN sel{i} s ON s.word = e.word AND s.j = e.j
      LEFT JOIN sel{i} p ON p.word = e.word AND p.j = e.j - 1
      GROUP BY e.word)""")
    finals = "\n    UNION ALL\n    ".join(
        f"SELECT {i + 1}::bigint AS rank, l AS lhs, r AS rhs, total AS pair_count FROM b{i}"
        for i in range(k)
    )
    return "WITH " + ",".join(parts) + f"\n    {finals}\n    ORDER BY rank"


def _bpe_twin_ctes(k: int) -> str:
    """The CTE chain of _bpe_twin_sql without the final SELECT — shared
    by the encode twin, which consumes the fully-merged vocab v{k}."""
    full = _bpe_twin_sql(k)
    return full[len("WITH ") : full.rindex("SELECT 1::bigint") - 4]


@q("bpe_train_merges", _bpe_twin_sql(6))
def bpe_train_merges_docs(spark, sf_dir):
    """E52: BPE tokenizer training (Sennrich et al.) — the first 6
    learned merges over the documents corpus, (rank, lhs, rhs,
    pair_count). Corpus touched ONCE (word-frequency groupBy, map-side
    combine); the merge loop runs on the bounded vocab table with a
    lexicographically-pinned tie rule, so the twin's unrolled replay
    lands on the identical merge list — all strings and integers, zero
    float risk. The reference pytest pins the greedy merge against a
    dict-based Sennrich replay including overlapping-run words."""
    from ..operators.curation import bpe_train_merges

    docs = load_table(spark, sf_dir, "documents")
    m = bpe_train_merges(docs, "text", k=6)
    return spark.createDataFrame(
        [(i + 1, l, r, c) for i, (l, r, c) in enumerate(m)],
        "rank long, lhs string, rhs string, pair_count long",
    )


@q(
    "bpe_encode_docs",
    f"""
    WITH {_bpe_twin_ctes(6)},
    wdocs AS (SELECT doc_id, {WORDS_DD} AS ws FROM documents),
    dw AS (SELECT doc_id, i AS pos, ws[i] AS word
           FROM wdocs, unnest(generate_series(1, len(ws))) AS t(i)),
    enc AS (SELECT d.doc_id, d.pos,
                   array_to_string(v.syms, '-') AS wtok,
                   len(v.syms)::bigint AS wn
            FROM dw d JOIN v6 v ON v.word = d.word)
    SELECT doc_id, sum(wn)::bigint AS n_tokens,
           md5(string_agg(wtok, '-' ORDER BY pos)) AS tok_md5
    FROM enc GROUP BY doc_id
    UNION ALL
    SELECT doc_id, 0::bigint AS n_tokens, md5('') AS tok_md5
    FROM wdocs WHERE len(ws) = 0
    """,
)
def bpe_encode_docs(spark, sf_dir):
    """E52b: BPE apply — encode the corpus with the 6 merges learned by
    `bpe_train_merges` (train once on the bounded vocab, encode as
    plan-literal nested folds: zero shuffle/join/UDF on the corpus
    read). Output (doc_id, n_tokens, tok_md5) — md5 over the
    '-'-joined token stream, the E34 device for cross-engine array
    comparison. The twin re-trains through its v6 CTE (the fully-merged
    vocab) and rebuilds each doc's stream by positional word lookup —
    an INDEPENDENT encode path (vocab join) checking the fold chain."""
    from ..operators.curation import bpe_encode, bpe_train_merges_local
    from ..operators.dedup import spread

    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    # r9: train driver-local (E52c, pytest-pinned bit-identical merges)
    # — same merge list without k sequential Spark rounds
    merges = bpe_train_merges_local(docs, "text", k=6)
    return bpe_encode(docs, merges)


@q(
    "tokenizer_pipeline",
    f"""
    WITH RECURSIVE {{BPE_CTES}},
    wdocs AS (SELECT doc_id, {WORDS_DD} AS ws FROM documents),
    dw AS (SELECT doc_id, i AS pos, ws[i] AS word
           FROM wdocs, unnest(generate_series(1, len(ws))) AS t(i)),
    encw AS (SELECT d.doc_id, d.pos,
                    array_to_string(v.syms, '-') AS wtok,
                    len(v.syms)::bigint AS wn
             FROM dw d JOIN v6 v ON v.word = d.word),
    enc AS (SELECT doc_id, sum(wn)::bigint AS n_tokens,
                   md5(string_agg(wtok, '-' ORDER BY pos)) AS tok_md5
            FROM encw GROUP BY doc_id
            UNION ALL
            SELECT doc_id, 0::bigint, md5('')
            FROM wdocs WHERE len(ws) = 0),
    d AS (SELECT doc_id, n_tokens AS s, (doc_id % 8)::int AS shard,
                 row_number() OVER (PARTITION BY doc_id % 8
                                    ORDER BY n_tokens DESC, doc_id) AS rn
          FROM enc),
    r AS (
      SELECT DISTINCT shard, 0::bigint AS t, []::bigint[] AS loads,
             NULL::bigint AS doc_id, NULL::bigint AS bin
      FROM d
      UNION ALL
      SELECT r.shard, r.t + 1,
             CASE WHEN list_aggregate(list_filter(r.loads, l -> l + d.s <= 512), 'max') IS NULL
                  THEN list_append(r.loads, d.s)
                  ELSE list_transform(generate_series(1, len(r.loads)),
                         i -> CASE WHEN i = list_position(r.loads,
                                    list_aggregate(list_filter(r.loads, l -> l + d.s <= 512), 'max'))
                              THEN r.loads[i] + d.s ELSE r.loads[i] END)
             END,
             d.doc_id,
             CASE WHEN list_aggregate(list_filter(r.loads, l -> l + d.s <= 512), 'max') IS NULL
                  THEN len(r.loads)::bigint
                  ELSE (list_position(r.loads,
                          list_aggregate(list_filter(r.loads, l -> l + d.s <= 512), 'max')) - 1)::bigint
             END
      FROM r JOIN d ON d.shard = r.shard AND d.rn = r.t + 1
    ),
    pk AS (SELECT doc_id, shard, bin FROM r WHERE doc_id IS NOT NULL)
    SELECT pk.shard::bigint AS shard, pk.bin,
           count(*) AS n_docs,
           sum(e.n_tokens)::bigint AS bin_tokens,
           (512 - sum(e.n_tokens))::bigint AS headroom,
           md5(string_agg(e.tok_md5, '-' ORDER BY
               ('0x' || substr(md5('0:' || pk.doc_id::varchar), 1, 15))::bigint,
               pk.doc_id)) AS order_md5
    FROM pk JOIN enc e USING (doc_id)
    GROUP BY pk.shard, pk.bin
    """,
)
def tokenizer_pipeline_q(spark, sf_dir):
    """E75: the tokenizer-PRODUCTION closure a training-data user
    actually runs, composed end-to-end in ONE plan: corpus -> E52c
    driver-local BPE training (word-freq shuffle + in-process merge
    loop — the realistic-k path, r7 verdict item 1) -> E52b plan-
    literal encode (zero-shuffle scan stage) -> E12b best-fit-
    decreasing packing into 512-token bins (one shard shuffle, carry
    columns riding the kernel — no rejoin) -> E38 delivery order
    (seeded-hash permutation, computed in-row) -> per-bin manifest with
    an order-sensitive digest over the docs' token-stream md5s.

    Exchange budget (pinned by test_tokenizer_pipeline_plan): the
    bounded word-freq shuffle at train time, then ONE corpus exchange
    for packing + ONE for the (shard, bin) manifest agg. The twin
    replays all four stages: v6 re-train, positional-join encode,
    recursive-CTE BFD, md5-ordered string_agg."""
    from ..operators.curation import bpe_encode, bpe_train_merges_local
    from ..operators.dedup import spread
    from ..operators.stats import pack_sequences_bfd

    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    merges = bpe_train_merges_local(docs, "text", k=6)
    enc = bpe_encode(docs, merges)  # doc_id, n_tokens, tok_md5 — scan-stage
    packed = pack_sequences_bfd(
        enc, "doc_id", "n_tokens", budget=512, n_shards=8, carry=("tok_md5",)
    )
    hord = F.conv(
        F.substring(F.md5(F.concat(F.lit("0:"), F.col("doc_id").cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    ordered = packed.withColumn("__h", hord)
    return (
        ordered.groupBy(F.col("shard").cast("long").alias("shard"), "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
            (F.lit(512) - F.sum("n_tokens")).alias("headroom"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("__h", "doc_id", "tok_md5"))
                        ),
                        lambda x: x["tok_md5"],
                    ),
                    "-",
                )
            ).alias("order_md5"),
        )
    )


ORACLE["tokenizer_pipeline"] = ORACLE["tokenizer_pipeline"].replace(
    "{BPE_CTES}", _bpe_twin_ctes(6)
)


@q(
    "line_dedup_docs",
    f"""
    WITH d AS (SELECT doc_id, text FROM documents),
    corpus AS (
      SELECT doc_id, text FROM d
      UNION ALL
      SELECT doc_id + 100000 AS doc_id,
             array_to_string(({WORDS_DD})[1:24], ' ')
               || ' copyblock copyblock block' || (doc_id % 5) AS text
      FROM d),
    base AS (SELECT doc_id,
                    list_filter(string_split_regex(lower(trim(coalesce(text, ''))), '\\s+'),
                                w -> w <> '') AS ws
             FROM corpus),
    lines AS (SELECT doc_id,
                     cast(ceil(len(ws) / 8.0) AS bigint) AS total_lines,
                     i AS line_no,
                     array_to_string(ws[((i - 1) * 8 + 1):(i * 8)], ' ') AS line
              FROM base, unnest(generate_series(1, cast(ceil(len(ws) / 8.0) AS bigint))) AS t(i)),
    k AS (SELECT *, row_number() OVER (PARTITION BY md5(line)
                                       ORDER BY doc_id, line_no) AS rn
          FROM lines)
    SELECT doc_id, total_lines, count(*)::bigint AS kept_lines,
           md5(string_agg(line, ' ' ORDER BY line_no)) AS text_md5
    FROM k WHERE rn = 1
    GROUP BY doc_id, total_lines
    """,
)
def line_dedup_docs(spark, sf_dir):
    """E55: C4-style global line dedup — the corpus-wide
    first-occurrence set-semantics pass (no pairwise candidates at
    all; contrast E36's join-based span rewrite). The derived corpus
    plants +100000-shifted copies whose first 24 words duplicate the
    original's lines verbatim and whose 3-word tail is shared across
    each doc_id%5 residue class, so the planted copies exercise both
    whole-line drops and the one-global-keeper rule. Reassembled
    surviving text compares by md5."""
    from ..operators.dedup import line_dedup

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(
            F.array_join(F.slice(words(F.col("text")), 1, 24), " "),
            F.lit(" copyblock copyblock block"),
            (F.col("doc_id") % 5).cast("string"),
        ).alias("text"),
    )
    return line_dedup(d.unionByName(copies), span_words=8)


@q(
    "tokenizer_fertility",
    f"""
    WITH {{BPE_CTES}},
    wdocs AS (SELECT source, {WORDS_DD} AS ws,
                     length(coalesce(text, '')) AS n_chars
              FROM documents),
    dw AS (SELECT d.source, t.w AS word
           FROM wdocs d, unnest(d.ws) AS t(w)),
    tok AS (SELECT dw.source, len(v.syms)::bigint AS wn
            FROM dw JOIN v6 v ON v.word = dw.word),
    pt AS (SELECT source, sum(wn)::bigint AS total_tokens FROM tok GROUP BY source),
    pd AS (SELECT source, count(*)::bigint AS n_docs,
                  sum(len(ws))::bigint AS total_words,
                  sum(n_chars)::bigint AS total_chars
           FROM wdocs GROUP BY source)
    SELECT pd.source, pd.n_docs, pd.total_words,
           coalesce(pt.total_tokens, 0) AS total_tokens,
           CASE WHEN pd.total_words > 0
                THEN round(pt.total_tokens / pd.total_words::double, 6) END AS fertility,
           CASE WHEN coalesce(pt.total_tokens, 0) > 0
                THEN round(pd.total_chars / pt.total_tokens::double, 6) END AS chars_per_token
    FROM pd LEFT JOIN pt USING (source)
    """,
)
def tokenizer_fertility_docs(spark, sf_dir):
    """E56: per-source tokenizer efficiency (fertility = subword
    tokens/word; chars/token = compression) — train the E52 merges
    once, encode with the E52b plan-literal fold chain (zero shuffle
    scan-stage), aggregate per source (the ONLY exchange, |sources|
    keys, map-side combined). The twin re-trains through v6 and counts
    tokens INDEPENDENTLY by positional vocab join."""
    from ..operators.curation import bpe_train_merges_local, tokenizer_fertility

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    # r9: driver-local trainer (bit-identical merges, no per-round jobs)
    merges = bpe_train_merges_local(docs, "text", k=6)
    return tokenizer_fertility(docs, merges)


ORACLE["tokenizer_fertility"] = ORACLE["tokenizer_fertility"].replace(
    "{BPE_CTES}", _bpe_twin_ctes(6)
)


@q(
    "corpus_datacard",
    f"""
    WITH w AS (SELECT doc_id, source, text, {WORDS_DD} AS ws FROM documents),
    e AS (SELECT doc_id, unnest(ws) AS word FROM w),
    b AS (SELECT doc_id,
                 ('0x' || substr(md5('f:' || word), 1, 15))::bigint % 1024 AS j
          FROM e),
    s AS (SELECT doc_id,
                 sum(('0x' || substr(md5('w:' || j::varchar), 1, 8))::bigint
                     / 4294967296.0 - 0.5) AS dot
          FROM b GROUP BY doc_id),
    lg AS (SELECT doc_id, greatest(
             printf('%08d|%s', len(list_filter(ws, x -> x IN ('the','and','of','is','to'))), 'en'),
             printf('%08d|%s', len(list_filter(ws, x -> x IN ('der','die','und','ist','das'))), 'de'),
             printf('%08d|%s', len(list_filter(ws, x -> x IN ('le','la','et','est','les'))), 'fr'),
             printf('%08d|%s', len(list_filter(ws, x -> x IN ('el','la','y','es','los'))), 'es')) AS bb
           FROM w),
    pd AS (SELECT w.source,
                  coalesce(len(w.ws), 0)::bigint AS n_tok,
                  md5(coalesce(w.text, '')) AS fp,
                  CASE WHEN substr(lg.bb, 1, 8) = '00000000' THEN 'und'
                       ELSE substr(lg.bb, 10, 2) END AS lang,
                  round(1.0 / (1.0 + exp(-(CASE WHEN len(w.ws) > 0
                                                THEN coalesce(s.dot, 0.0) / len(w.ws)
                                                ELSE 0.0 END))), 6) AS prob6
           FROM w LEFT JOIN s ON s.doc_id = w.doc_id
                  JOIN lg ON lg.doc_id = w.doc_id),
    agg AS (SELECT source, count(*)::bigint AS n_docs,
                   sum(n_tok)::bigint AS n_tokens,
                   (count(*) - count(DISTINCT fp))::bigint AS dup_excess,
                   round(quantile_cont(n_tok, 0.5), 6) AS median_tokens,
                   round(avg(prob6), 6) AS mean_quality,
                   greatest(
                     printf('%015d|%s', sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END)::bigint, 'de'),
                     printf('%015d|%s', sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::bigint, 'en'),
                     printf('%015d|%s', sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END)::bigint, 'es'),
                     printf('%015d|%s', sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END)::bigint, 'fr'),
                     printf('%015d|%s', sum(CASE WHEN lang = 'und' THEN 1 ELSE 0 END)::bigint, 'und')) AS top
            FROM pd GROUP BY source)
    SELECT source, n_docs, n_tokens, dup_excess, median_tokens, mean_quality,
           substr(top, 17) AS top_lang,
           round(substr(top, 1, 15)::bigint::double / n_docs, 6) AS top_lang_share
    FROM agg
    """,
)
def corpus_datacard_q(spark, sf_dir):
    """E61: the per-source data card a corpus release ships with —
    volume, exact-dup excess, dominant language (+share), median
    length, mean E40 quality — every per-doc statistic scan-stage,
    ONE |sources|-key aggregate, zero joins. The twin recomposes the
    langid/classifier/fingerprint devices independently and matches
    the struct-argmax via the printf fixed-width trick."""
    from ..operators.curation import corpus_datacard

    docs = load_table(spark, sf_dir, "documents")
    return corpus_datacard(docs)


_SPLIT_DD = (
    "CASE WHEN ('0x' || substr(md5('split:' || {id}::varchar), 1, 8))::bigint % 100 < 20 THEN 'test' "
    "WHEN ('0x' || substr(md5('split:' || {id}::varchar), 1, 8))::bigint % 100 < 40 THEN 'val' "
    "ELSE 'train' END"
)


@q(
    "split_leakage_audit",
    f"""
    WITH w AS (SELECT doc_id, {WORDS_DD} AS ws FROM documents),
         sh AS (SELECT doc_id,
                       list_distinct(list_transform(generate_series(1, greatest(0, len(ws) - 2)),
                                     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sg
                FROM w WHERE len(ws) >= 3),
         sig AS (SELECT doc_id,
                        list_min(list_transform(sg, s -> md5('0:' || s))) AS mh0,
                        list_min(list_transform(sg, s -> md5('1:' || s))) AS mh1,
                        list_min(list_transform(sg, s -> md5('2:' || s))) AS mh2,
                        list_min(list_transform(sg, s -> md5('3:' || s))) AS mh3
                 FROM sh),
         bands AS (
           SELECT doc_id, 0 AS band_idx, mh0 || '|' || mh1 AS band_val FROM sig
           UNION ALL
           SELECT doc_id, 1 AS band_idx, mh2 || '|' || mh3 AS band_val FROM sig),
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b
             ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
         lab AS (SELECT id_a, id_b,
                        {_SPLIT_DD.format(id='id_a')} AS sa,
                        {_SPLIT_DD.format(id='id_b')} AS sb
                 FROM cand),
         norm AS (SELECT CASE WHEN sa <= sb THEN sa ELSE sb END AS split_a,
                         CASE WHEN sa <= sb THEN sb ELSE sa END AS split_b,
                         CASE WHEN sa <= sb THEN id_a ELSE id_b END AS da,
                         CASE WHEN sa <= sb THEN id_b ELSE id_a END AS db
                  FROM lab)
    SELECT split_a, split_b, count(*)::bigint AS n_pairs,
           count(DISTINCT da)::bigint AS n_docs_a,
           count(DISTINCT db)::bigint AS n_docs_b
    FROM norm GROUP BY split_a, split_b
    """,
)
def split_leakage_audit_q(spark, sf_dir):
    """E60: cross-split near-dup leakage audit over a deterministic
    hash split (20/20/60 here so every split pair is populated at
    sf0.01). Candidates come from the banded LSH path (never
    all-pairs); both endpoints' splits are pure in-row hash
    expressions on the PAIRS table — zero joins, one tiny final
    aggregate."""
    from ..operators.curation import split_leakage_audit

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", n_hashes=4, band_size=2, shingle_words=3)
    return split_leakage_audit(pairs, val_pct=20, test_pct=20)


@q(
    "fuzzy_dup_pairs",
    f"""
    WITH t AS (SELECT doc_id,
                      array_to_string(({WORDS_DD})[1:8], ' ') AS title,
                      ({WORDS_DD})[1] AS w1
               FROM documents),
    b AS (SELECT doc_id, title,
                 w1 || ':' || (length(title) // 8)::varchar AS blk
          FROM t WHERE w1 IS NOT NULL)
    SELECT a.doc_id AS id_a, c.doc_id AS id_b,
           levenshtein(a.title, c.title)::bigint AS dist
    FROM b a JOIN b c ON a.blk = c.blk AND a.doc_id < c.doc_id
    WHERE levenshtein(a.title, c.title) <= 5
    """,
)
def fuzzy_dup_pairs_docs(spark, sf_dir):
    """E76: blocked edit-distance near-dup pairs (typo/OCR variants
    that set-similarity misses: one edit kills every crossing k-gram).
    Blocking on (first word, prefix-length band) bounds candidates; verification is NATIVE levenshtein
    (identical DP distance in both engines). One block-key exchange;
    the verify touches candidate pairs only."""
    from ..operators.dedup import fuzzy_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    return fuzzy_dup_pairs(docs, "text", "doc_id", prefix_words=8, max_dist=5, len_band=8)


@q(
    "domain_link_graph",
    """
    WITH h AS (SELECT doc_id,
                      'd' || (doc_id % 40)::varchar || '.example.com' AS src_domain,
                      '<p><a href="http://d' || ((doc_id * 7) % 40)::varchar
                      || '.example.com/p' || doc_id::varchar || '">x</a> '
                      || '<a href="https://d' || ((doc_id * 13 + 5) % 40)::varchar
                      || '.example.com:8080/q">y</a> '
                      || 'no <a href="ftp://skip.me/z">scheme-filtered</a> tail</p>' AS html
               FROM documents),
    l AS (SELECT doc_id, src_domain, unnest(regexp_extract_all(html, 'href="(https?://[^"]+)"', 1)) AS url
          FROM h),
    e AS (SELECT src_domain, doc_id, regexp_extract(url, '^https?://([^/]+)', 1) AS dst_domain
          FROM l)
    SELECT src_domain, dst_domain,
           count(*)::bigint AS n_links,
           count(DISTINCT doc_id)::bigint AS n_docs
    FROM e
    WHERE dst_domain <> '' AND dst_domain <> src_domain
    GROUP BY 1, 2
    """,
)
def domain_link_graph_docs(spark, sf_dir):
    """E77: hyperlink extraction + domain link graph — each doc is
    wrapped in a deterministic HTML shell (two parseable anchors
    derived from doc_id, incl. a ported https host, plus an ftp decoy
    the scheme filter must drop — a construct-then-parse device); the
    operator extracts hrefs with scan-stage regexp and aggregates the
    (src, dst) edge table, whose cardinality is the DOMAIN graph, not
    the corpus."""
    from ..operators.curation import domain_link_graph

    docs = load_table(spark, sf_dir, "documents")
    shell = docs.select(
        "doc_id",
        F.concat(F.lit("d"), (F.col("doc_id") % 40).cast("string"), F.lit(".example.com")).alias(
            "src_domain"
        ),
        F.concat(
            F.lit('<p><a href="http://d'),
            ((F.col("doc_id") * 7) % 40).cast("string"),
            F.lit(".example.com/p"),
            F.col("doc_id").cast("string"),
            F.lit('">x</a> <a href="https://d'),
            ((F.col("doc_id") * 13 + 5) % 40).cast("string"),
            F.lit('.example.com:8080/q">y</a> no <a href="ftp://skip.me/z">scheme-filtered</a> tail</p>'),
        ).alias("html"),
    )
    return domain_link_graph(shell, "html", "doc_id", "src_domain")


@q(
    "span_corruption_plan",
    f"""
    WITH d AS (SELECT doc_id, len({WORDS_DD})::bigint AS n FROM documents),
    p AS (SELECT doc_id, n,
                 greatest(1::bigint, floor(n * 0.15 / 3)::bigint) AS k
          FROM d),
    s AS (SELECT doc_id, n, k, unnest(generate_series(0, k - 1)) AS si
          FROM p WHERE n >= 3 * k)
    SELECT doc_id, si::bigint AS span_idx,
           (floor(si * n / k)::bigint
            + ('0x' || substr(md5('span:' || doc_id::varchar || ':' || si::varchar), 1, 15))::bigint
              % (floor((si + 1) * n / k)::bigint - floor(si * n / k)::bigint - 2)
           )::bigint AS start,
           3::bigint AS length
    FROM s
    """,
)
def span_corruption_plan_docs(spark, sf_dir):
    """E79: T5-style span-corruption mask plan as DATA — deterministic
    stratified span placement (n_spans from the noise density, one
    md5-placed span per integer stratum, overlap impossible by
    construction) so every epoch/restart/engine masks identically.
    Pure in-row arithmetic: planning masks for 10^12 sequences is one
    scan, zero shuffle, zero UDF."""
    from ..functions.text import words as words_fn
    from ..operators.curation import span_corruption_plan

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", F.size(words_fn(F.coalesce(F.col("text"), F.lit("")))).cast("long").alias("n_tokens")
    )
    return span_corruption_plan(base, "n_tokens", "doc_id", density=0.15, span_len=3)


# ---------------------------------------------------------------------------
# Driver-snapshot rotation (VERDICT r4 item 1). The driver's CORRECTNESS
# artifact records only the FIRST 50 entries of queries() in insertion
# order (observed: r3 captured 50/57, r4 captured 50/73). Registration
# above stays thematic; the EXPORTED order is rotated so queries that
# have not yet appeared in a driver snapshot come first — every query
# gets a driver-verified row within two rounds. SELF-MAINTAINING: the
# per-query last-green round is read from the driver's own
# CORRECTNESS_r{N}.json artifacts in the repo root at import time
# (static r4 fallback when they are unreachable), so each new round's
# snapshot automatically rotates the next never/least-recently-verified
# queries into the 50-row window with no manual bookkeeping.
#
# SCOPE (r5 ADVICE): the external 50-row window is COVERAGE-rotating,
# not regression-detecting — a query regression can ride outside the
# window for a round or two by construction. The regression gate is
# tools/check_queries.py, which runs ALL registered queries in-repo
# (routinely at sf0.01 + sf0.1 per round); rotation only decides which
# subset the external driver independently re-verifies each round. The
# rotation input is the committed CORRECTNESS_r*.json artifacts in the
# repo root (environment-dependence is limited to "artifacts absent ->
# static r4 fallback", which can only rotate MORE conservatively).
# ---------------------------------------------------------------------------

def _driver_verified_rounds() -> dict[str, int]:
    """Self-maintaining rotation input: scan the repo root for the
    driver's own ``CORRECTNESS_r{N}.json`` artifacts and record each
    query's latest GREEN round (err-free + value-hash match). Returns
    {} when the artifacts are not reachable (e.g. the package shipped
    alone via --py-files), in which case the static r4 snapshot below
    is the fallback — so rotation never goes backwards, it just stops
    auto-advancing outside the repo."""
    import glob
    import json as _json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    out: dict[str, int] = {}
    for p in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p)
        if not m:
            continue
        try:
            with open(p) as f:
                rec = _json.load(f)
        except Exception:  # pragma: no cover - unreadable artifact
            continue
        for name, row in rec.items():
            if isinstance(row, dict) and row.get("err") is None and row.get("hash_match"):
                out[name] = max(out.get(name, 0), int(m.group(1)))
    return out


# static fallback: every name in CORRECTNESS_r04.json (the 50 queries
# the r4 driver snapshot verified green); everything registered but
# absent has priority 0 and sorts first
_STATIC_DRIVER_ROUNDS: dict[str, int] = dict.fromkeys(
    [
        "pricing_summary", "top_customers_revenue", "run_match_full_outer",
        "split_semi_anti", "sessionize_events", "asof_backward_join",
        "asof_forward_tte", "sliding_window_counts", "tumbling_time_features",
        "fixed_sph_labels", "backfill_last_purchase", "lag_lead_delta",
        "sequence_frames", "zip_truncate_streams", "median_mad_filter",
        "iqr_filter", "triangular_index_values", "label_histogram",
        "class_weights", "zscore_normalize", "dedup_exact_docs",
        "minhash_signatures", "lsh_dup_pairs", "ngram_jaccard_pairs",
        "ngram_jaccard_pairs_all", "simhash_docs", "token_count_docs",
        "text_quality", "langid_docs", "cosine_topk",
        "embedding_near_dup_pairs", "embedding_near_dup_pairs_lsh",
        "hrv_time_features_windows", "sliding_grid", "window_label_asof",
        "detection_metrics", "latest_alarm_before", "scalar_functions",
        "poincare_descriptors", "session_window_native",
        "hrv_spectral_poincare_windows", "hrv_entropy_windows",
        "dedup_keepers", "partition_pruned_scan", "dedup_components",
        "ivf_topk_fixed", "deterministic_sample", "sequence_packing",
        "hrv_features_flagship", "hrv_features_flagship_oracle_grid",
    ],
    4,
)

_LAST_DRIVER_ROUND: dict[str, int] = _driver_verified_rounds() or _STATIC_DRIVER_ROUNDS

# genuinely non-SQL-expressible queries allowed to lack a DuckDB twin
# (currently none — every registered query is value-oracled); anything
# else missing from ORACLE is a registration bug caught at import time,
# not at judge time
_ROWS_ONLY_OK: set[str] = set()


def _rotate(queries: dict, oracle: dict) -> tuple[dict, dict]:
    missing = set(queries) - set(oracle) - _ROWS_ONLY_OK
    orphans = set(oracle) - set(queries)
    if missing or orphans:
        raise AssertionError(
            f"queries()/oracle_sql() surface mismatch: missing twins {sorted(missing)}, "
            f"orphan twins {sorted(orphans)}"
        )
    names = sorted(queries, key=lambda n: _LAST_DRIVER_ROUND.get(n, 0))  # stable
    return {n: queries[n] for n in names}, {n: oracle[n] for n in names if n in oracle}


QUERIES, ORACLE = _rotate(QUERIES, ORACLE)
