"""Round-2 analytics extensions: event funnels, cohort retention,
exact-substring span dedup, sparse TF-IDF cosine pairs, domain-weighted
data mixing.

Same contract as plans/pipeline.py: every query is a (Spark builder,
DuckDB oracle SQL) pair, bit-exact by construction — integer-encoded
event ordering, BIGINT fixed-point weights, single-division doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from direct_spark_sql_spark.hashing import h64_sql
from direct_spark_sql_spark.operators import analytics as an
from direct_spark_sql_spark.operators import dedup as dd
from direct_spark_sql_spark.operators import retrieval as rt
from direct_spark_sql_spark.operators import sampling as sp
from direct_spark_sql_spark.operators.text import tokens
from direct_spark_sql_spark.plans.base import DEC_OUT, Query, sum_money_sql
from direct_spark_sql_spark.plans.pipeline import TOKS_SQL
from direct_spark_sql_spark.sources.registry import load_table

_US_PER_DAY = 86_400_000_000
_TREND_BASE_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC (corpus epoch)

# ---------------------------------------------------------------------------
# Ordered funnel
# ---------------------------------------------------------------------------

FUNNEL_STAGES = ("signup", "view", "click", "purchase")


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return an.funnel_counts(e, FUNNEL_STAGES)


def _funnel_oracle() -> str:
    rank_case = "CASE event_type " + " ".join(
        f"WHEN '{s}' THEN {i}" for i, s in enumerate(FUNNEL_STAGES)
    ) + " END"
    in_list = ", ".join(f"'{s}'" for s in FUNNEL_STAGES)
    # chained strict-min traversal == the engine's greedy sorted-array walk
    # (the encoded key k totally orders each user's events, so no ties)
    ctes = [
        f"""e AS (
  SELECT user_id, epoch_us(ts) * 8 + ({rank_case}) AS k, {rank_case} AS r
  FROM events WHERE event_type IN ({in_list}))""",
        "s1 AS (SELECT user_id, min(k) AS k FROM e WHERE r = 0 GROUP BY user_id)",
    ]
    for i in range(2, len(FUNNEL_STAGES) + 1):
        ctes.append(
            f"""s{i} AS (
  SELECT e.user_id, min(e.k) AS k FROM e JOIN s{i-1} USING (user_id)
  WHERE e.r = {i-1} AND e.k > s{i-1}.k GROUP BY e.user_id)"""
        )
    selects = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS stage_idx, '{s}' AS stage_name, "
        f"(SELECT CAST(count(*) AS BIGINT) FROM s{i}) AS n_users"
        for i, s in enumerate(FUNNEL_STAGES, start=1)
    )
    return f"WITH {', '.join(ctes)}\nSELECT * FROM ({selects}) ORDER BY stage_idx"


# ---------------------------------------------------------------------------
# Cohort retention
# ---------------------------------------------------------------------------

def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return an.cohort_retention(e)


RETENTION_ORACLE = f"""
WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id),
b AS (SELECT e.user_id,
             CAST(date_trunc('week', f.first_ts) AS DATE) AS cohort_week,
             CAST((epoch_us(e.ts) - epoch_us(f.first_ts)) // {an.WEEK_US} AS BIGINT)
               AS week_offset
      FROM events e JOIN f USING (user_id)),
a AS (SELECT cohort_week, week_offset,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM b GROUP BY cohort_week, week_offset)
SELECT cohort_week, week_offset, n_users,
       CAST(n_users AS DOUBLE) * 100.0
         / CAST(max(CASE WHEN week_offset = 0 THEN n_users END)
                  OVER (PARTITION BY cohort_week) AS DOUBLE) AS retention_pct
FROM a ORDER BY cohort_week, week_offset
"""


# ---------------------------------------------------------------------------
# Exact-substring span dedup
# ---------------------------------------------------------------------------

SPAN_W = 8


def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.size(tokens("text")) > 0)
    return dd.duplicated_spans(d, window=SPAN_W, min_docs=2, top_k=20)


def dedup_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr self-dedup SPANS (Lee et al.): per document, the
    maximal token-offset spans covered by SPAN_W-gram windows occurring
    at least twice anywhere in the corpus — the excisable-span form of
    dedup_exact_substring's top-k gram report, completing the span
    family (external eval set: decontam_span_report[_norm]; corpus
    self-frequency: this).  See operators/dedup.py:duplicated_span_report
    for the 100 TB posture (gram-keyed hash agg + semi-join, AQE skew
    split on a mass-duplicated hot gram, doc-partitioned islands)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return dd.duplicated_span_report(d, w=SPAN_W).orderBy("doc_id", "span_start")


def _exact_substring_spans_ctes(max_gram_df: int | None = None) -> str:
    """DuckDB CTE prefix ending in ``spans`` (doc_id, span_start,
    span_end, n_hits) — the twin of duplicated_span_report at SPAN_W,
    shared by the span report, the capped variant, and the self-dedup
    economics rollup (one merge-rule source).  ``max_gram_df`` mirrors
    the operator's stop-gram frequency band exactly: occurrences kept
    iff 2 <= n_occ <= cap."""
    band = (
        f"n_occ BETWEEN 2 AND {max_gram_df}"
        if max_gram_df is not None
        else "n_occ >= 2"
    )
    return f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
d AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= {SPAN_W}),
w AS (SELECT doc_id, s AS p, array_to_string(toks[s + 1 : s + {SPAN_W}], ' ') AS gram
      FROM d, UNNEST(generate_series(0, n - {SPAN_W})) AS u(s)),
gc AS (SELECT gram, COUNT(*) AS n_occ FROM w GROUP BY gram),
hits AS (SELECT w.doc_id, CAST(w.p AS BIGINT) AS p
         FROM w JOIN gc USING (gram) WHERE {band}),
b AS (SELECT doc_id, p,
             CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p)
                       <= {SPAN_W} THEN 0 ELSE 1 END AS brk
      FROM hits),
isl AS (SELECT doc_id, p,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY p
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS island
        FROM b),
spans AS (SELECT doc_id, MIN(p) AS span_start,
                 CAST(MAX(p) + {SPAN_W - 1} AS BIGINT) AS span_end,
                 CAST(COUNT(*) AS BIGINT) AS n_hits
          FROM isl GROUP BY doc_id, island)"""


#: Uncapped prefix, kept as the shared name the economics oracle builds on.
EXACT_SUBSTRING_SPANS_CTES = _exact_substring_spans_ctes(None)

EXACT_SUBSTRING_SPANS_ORACLE = EXACT_SUBSTRING_SPANS_CTES + """
SELECT doc_id, span_start, span_end, n_hits
FROM spans
ORDER BY doc_id, span_start
"""

#: Stop-gram df cap for the registered capped span query.  Production
#: ExactSubstr pipelines run this around 1e4; the registered operating
#: point is deliberately the smallest value that BINDS at the sf0.01
#: driver gate (max corpus 8-gram occurrence there is 3), so the
#: differential oracle actually exercises the frequency band, not just
#: the pass-through path.
EXACT_SUBSTR_STOP_GRAM_DF = 2


def dedup_exact_substring_spans_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """dedup_exact_substring_spans with the stop-gram df cap applied
    (VERDICT r10 #4): grams above EXACT_SUBSTR_STOP_GRAM_DF corpus
    occurrences are excluded map-side via a bounded broadcast anti-join
    BEFORE the gram shuffle, so every shuffled gram key carries at most
    `cap` rows — the provably-unskewed form of the span report that a
    100 TB run would use (the uncapped variant relies on AQE skew
    split for a mass-duplicated hot gram).  See
    operators/dedup.py:duplicated_span_report."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return dd.duplicated_span_report(
        d, w=SPAN_W, max_gram_df=EXACT_SUBSTR_STOP_GRAM_DF
    ).orderBy("doc_id", "span_start")


EXACT_SUBSTRING_SPANS_CAPPED_ORACLE = _exact_substring_spans_ctes(
    EXACT_SUBSTR_STOP_GRAM_DF
) + """
SELECT doc_id, span_start, span_end, n_hits
FROM spans
ORDER BY doc_id, span_start
"""

#: Lee et al.'s production excision operating point: only maximal
#: duplicated spans of >= 50 tokens are removed.  Binds at sf0.01 (the
#: driver gate's corpus has spans on both sides of 50).
EXACT_SUBSTR_MIN_SPAN_LEN = 50


def dedup_exact_substring_spans_len50(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """dedup_exact_substring_spans at the paper's excision operating
    point (VERDICT r11 #3): Lee et al. excise maximal duplicated
    substrings of >= 50 tokens — the 8-gram windows SEED the spans, but
    the removal decision is on the merged maximal span's length, so a
    short repeated quote is flagged by the len-8 report and correctly
    NOT excised here.  Post-merge length filter; same 100 TB shape as
    the base report (operators/dedup.py:duplicated_span_report)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return dd.duplicated_span_report(
        d, w=SPAN_W, min_span_len=EXACT_SUBSTR_MIN_SPAN_LEN
    ).orderBy("doc_id", "span_start")


EXACT_SUBSTRING_SPANS_LEN50_ORACLE = EXACT_SUBSTRING_SPANS_CTES + f"""
SELECT doc_id, span_start, span_end, n_hits
FROM spans
WHERE span_end - span_start + 1 >= {EXACT_SUBSTR_MIN_SPAN_LEN}
ORDER BY doc_id, span_start
"""


def dedup_exact_substring_economics_len50(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The sizing rollup at the len-50 excision point: per source, how
    many tokens actually get excised when only >= 50-token maximal
    spans are removed — reported alongside the len-8 economics so the
    pipeline decision compares the paper's operating point against the
    flag-everything floor.  Same LEFT-join rollup shape as
    dedup_exact_substring_economics."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    spans = dd.duplicated_span_report(
        d.select("doc_id", "text"),
        w=SPAN_W,
        min_span_len=EXACT_SUBSTR_MIN_SPAN_LEN,
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.sum(F.col("span_end") - F.col("span_start") + 1)
        .cast("long")
        .alias("dup_toks")
    )
    docs = d.select(
        "doc_id", "source", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    return (
        docs.join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("dup_toks").cast("long").alias("n_docs_with_dups"),
            F.sum("n_tokens").cast("long").alias("tokens_total"),
            F.coalesce(F.sum("dup_toks"), F.lit(0))
            .cast("long")
            .alias("tokens_in_dup_spans"),
        )
        .withColumn(
            "dup_token_frac",
            F.when(
                F.col("tokens_total") > 0,
                F.col("tokens_in_dup_spans").cast("double")
                / F.col("tokens_total").cast("double"),
            ),
        )
        .orderBy("source")
    )


EXACT_SUBSTRING_ECONOMICS_LEN50_ORACLE = EXACT_SUBSTRING_SPANS_CTES + f"""
, spans50 AS (SELECT * FROM spans
              WHERE span_end - span_start + 1 >= {EXACT_SUBSTR_MIN_SPAN_LEN}),
per_doc AS (SELECT doc_id, SUM(span_end - span_start + 1) AS dup_toks
            FROM spans50 GROUP BY doc_id),
docs AS (SELECT d2.doc_id, d2.source, len({TOKS_SQL}) AS n_tokens
         FROM documents d2)
SELECT source,
       CAST(COUNT(dup_toks) AS BIGINT) AS n_docs_with_dups,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
       CAST(COALESCE(SUM(dup_toks), 0) AS BIGINT) AS tokens_in_dup_spans,
       CASE WHEN SUM(n_tokens) > 0 THEN
         CAST(COALESCE(SUM(dup_toks), 0) AS DOUBLE)
           / CAST(SUM(n_tokens) AS DOUBLE)
       END AS dup_token_frac
FROM docs LEFT JOIN per_doc USING (doc_id)
GROUP BY source
ORDER BY source
"""


def dedup_exact_substring_sa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr via a TRUE distributed suffix array (VERDICT r12 #8):
    Lee et al.'s exact maximal-match semantics at the len-50 excision
    point — prefix-doubling suffix ranks (TeraSort-style distributed
    dense ranks, O(N log L) shuffles), SA-neighbor LCP by binary
    descent, per-position dup_len, interval-union spans.  The 8-gram
    span family APPROXIMATES this (merged islands of short-gram hits
    can chain matches from different places); here a 49-token repeat is
    excluded at len-50 and a 50-token repeat caught exactly
    (tests/test_suffix_sa.py plants both).

    The oracle is deliberately a DIFFERENT algorithm: by the covering
    theorem (operators/suffix.py module docstring) the union of
    [p, p+dup_len-1] over dup_len >= L equals the union of duplicated
    L-gram windows, so DuckDB replays plain 50-gram counting and the
    differential cross-validates two independent formulations."""
    from direct_spark_sql_spark.operators.suffix import exact_substring_spans_sa

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return exact_substring_spans_sa(
        d, min_len=EXACT_SUBSTR_MIN_SPAN_LEN
    ).orderBy("doc_id", "span_start")


def _exact_substring_sa_oracle(min_len: int) -> str:
    """Duplicated min_len-gram coverage islands — the covering-theorem
    twin of the suffix-array spans (same merge rule as the span family:
    consecutive window starts <= min_len apart share an island)."""
    return f"""
WITH t AS MATERIALIZED (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
d AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= {min_len}),
w AS MATERIALIZED (
  SELECT doc_id, s AS p, array_to_string(toks[s + 1 : s + {min_len}], ' ') AS gram
  FROM d, UNNEST(generate_series(0, n - {min_len})) AS u(s)),
gc AS (SELECT gram FROM w GROUP BY gram HAVING COUNT(*) >= 2),
hits AS (SELECT w.doc_id, CAST(w.p AS BIGINT) AS p FROM w JOIN gc USING (gram)),
b AS (SELECT doc_id, p,
             CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p)
                       <= {min_len} THEN 0 ELSE 1 END AS brk
      FROM hits),
isl AS (SELECT doc_id, p,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY p
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS island
        FROM b),
spans AS (SELECT doc_id, MIN(p) AS span_start,
                 CAST(MAX(p) + {min_len - 1} AS BIGINT) AS span_end
          FROM isl GROUP BY doc_id, island)
SELECT doc_id, CAST(span_start AS BIGINT) AS span_start, span_end,
       CAST(span_end - span_start + 1 AS BIGINT) AS span_len
FROM spans ORDER BY doc_id, span_start
"""


EXACT_SUBSTRING_SA_ORACLE = _exact_substring_sa_oracle(EXACT_SUBSTR_MIN_SPAN_LEN)


def dedup_exact_substring_economics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr duplication economics — the number the paper itself
    reports (several percent of C4 sits inside duplicated substrings):
    per source, how many documents carry duplicated spans, their total
    tokens, the tokens inside those spans, and the duplicated-token
    fraction — the sizing input for deciding whether span-level
    self-dedup is worth a corpus's pipeline stage.  All-integer sums;
    the fraction guards its denominator.

    The paper's fraction is duplicated tokens over ALL corpus tokens,
    so the rollup LEFT-joins the span totals onto every document of
    every source (ADVICE r10): a clean source reports n_docs_with_dups
    0 / tokens_in_dup_spans 0 / fraction 0 instead of vanishing from
    its own report, and tokens_total is the source's full token mass,
    not just its flagged documents'.

    100 TB shape: duplicated_span_report's gram-keyed agg + semi-join,
    then a plain equi-join on doc_id between the (doc_id, source,
    n_tokens) projection and the per-doc span rollup.  The rollup has
    one row per document carrying ANY duplicated span — for real web
    corpora that is a corpus-proportional fraction of all documents
    (the paper's point), NOT a bounded side, so no broadcast hint: AQE
    broadcasts when the flagged set is actually small and shuffles
    otherwise (ADVICE r10).  Final groupBy on the bounded source key."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    spans = dd.duplicated_span_report(
        d.select("doc_id", "text"), w=SPAN_W
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.sum(F.col("span_end") - F.col("span_start") + 1)
        .cast("long")
        .alias("dup_toks")
    )
    docs = d.select(
        "doc_id", "source", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    return (
        docs.join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("dup_toks").cast("long").alias("n_docs_with_dups"),
            F.sum("n_tokens").cast("long").alias("tokens_total"),
            F.coalesce(F.sum("dup_toks"), F.lit(0))
            .cast("long")
            .alias("tokens_in_dup_spans"),
        )
        .withColumn(
            "dup_token_frac",
            F.when(
                F.col("tokens_total") > 0,
                F.col("tokens_in_dup_spans").cast("double")
                / F.col("tokens_total").cast("double"),
            ),
        )
        .orderBy("source")
    )


EXACT_SUBSTRING_ECONOMICS_ORACLE = EXACT_SUBSTRING_SPANS_CTES + f"""
, per_doc AS (SELECT doc_id, SUM(span_end - span_start + 1) AS dup_toks
              FROM spans GROUP BY doc_id),
docs AS (SELECT d2.doc_id, d2.source, len({TOKS_SQL}) AS n_tokens
         FROM documents d2)
SELECT source,
       CAST(COUNT(dup_toks) AS BIGINT) AS n_docs_with_dups,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
       CAST(COALESCE(SUM(dup_toks), 0) AS BIGINT) AS tokens_in_dup_spans,
       CASE WHEN SUM(n_tokens) > 0 THEN
         CAST(COALESCE(SUM(dup_toks), 0) AS DOUBLE)
           / CAST(SUM(n_tokens) AS DOUBLE)
       END AS dup_token_frac
FROM docs LEFT JOIN per_doc USING (doc_id)
GROUP BY source
ORDER BY source
"""


EXACT_SUBSTRING_ORACLE = f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
w AS (
  SELECT doc_id, array_to_string(toks[s + 1 : s + {SPAN_W}], ' ') AS gram
  FROM (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= {SPAN_W}) d,
       UNNEST(generate_series(0, n - {SPAN_W})) AS u(s)
  UNION ALL
  SELECT doc_id, array_to_string(toks, ' ') AS gram
  FROM t WHERE len(toks) BETWEEN 1 AND {SPAN_W - 1}
),
g AS (SELECT gram,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_occurrences
      FROM w GROUP BY gram
      HAVING count(DISTINCT doc_id) >= 2)
SELECT {h64_sql('gram')} AS gram_fp, gram, n_docs, n_occurrences
FROM g ORDER BY n_occurrences DESC, gram LIMIT 20
"""


# ---------------------------------------------------------------------------
# TF-IDF cosine pairs
# ---------------------------------------------------------------------------

TFIDF_THRESHOLD = 0.35


def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return rt.tfidf_cosine_pairs(d, threshold=TFIDF_THRESHOLD, top_k=50)


TFIDF_PAIRS_ORACLE = f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM t),
tf AS (SELECT doc_id, tok AS term, CAST(count(*) AS BIGINT) AS tf
       FROM t, UNNEST(toks) AS u(tok) GROUP BY doc_id, tok),
dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf
        GROUP BY term HAVING count(*) <= {rt.TFIDF_MAX_DF}),
w AS (SELECT tf.doc_id, tf.term,
             tf.tf * CAST(FLOOR(
               (LN((CAST(n.n_docs AS DOUBLE) + 1.0) / (CAST(dft.df AS DOUBLE) + 1.0))
                + 1.0) * {float(rt.TFIDF_IDF_UNITS)} + 0.5) AS BIGINT) AS w
      FROM tf JOIN dft USING (term) CROSS JOIN n),
norms AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS norm2 FROM w GROUP BY doc_id),
dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(SUM(a.w * b.w) AS BIGINT) AS dot
         FROM w a JOIN w b USING (term)
         WHERE a.doc_id < b.doc_id
         GROUP BY a.doc_id, b.doc_id)
SELECT * FROM (
  SELECT doc_a, doc_b,
         CAST(dot AS DOUBLE)
           / (SQRT(CAST(na.norm2 AS DOUBLE)) * SQRT(CAST(nb.norm2 AS DOUBLE)))
           AS cosine
  FROM dots
  JOIN norms na ON na.doc_id = doc_a
  JOIN norms nb ON nb.doc_id = doc_b)
WHERE cosine >= {TFIDF_THRESHOLD}
ORDER BY cosine DESC, doc_a, doc_b LIMIT 50
"""


# ---------------------------------------------------------------------------
# BPE merge candidates
# ---------------------------------------------------------------------------

def text_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from direct_spark_sql_spark.operators.text import bpe_merge_candidates

    return bpe_merge_candidates(load_table(spark, sf_dir, "documents"), top_k=30)


BPE_PAIRS_ORACLE = f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
p AS (SELECT toks[s + 1] || ' ' || toks[s + 2] AS pair
      FROM (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 2) d,
           UNNEST(generate_series(0, n - 2)) AS u(s))
SELECT pair, CAST(count(*) AS BIGINT) AS n_occurrences
FROM p GROUP BY pair ORDER BY n_occurrences DESC, pair LIMIT 30
"""


# ---------------------------------------------------------------------------
# GROUP BY ALL / ORDER BY ALL (modern SQL sugar, same text both engines)
# ---------------------------------------------------------------------------

GROUP_BY_ALL_SQL = """
SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
GROUP BY ALL
ORDER BY ALL
"""


def agg_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    from direct_spark_sql_spark.plans.base import sql_query

    return sql_query(spark, sf_dir, GROUP_BY_ALL_SQL)


def table_checksum_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent whole-table checksum — the migration/copy
    validator: after moving 100 TB between clusters or formats, two
    engines computing the same (count, checksum) pair over canonical row
    strings proves row-level equality without sorting or comparing rows.
    Sum of per-row 60-bit MD5 hashes mod 2^61-1: commutative (shuffle- and
    partitioning-invariant), collision-safe to ~1e-18 per pair."""
    from direct_spark_sql_spark.hashing import h64
    from direct_spark_sql_spark.sources.registry import load_table

    o = load_table(spark, sf_dir, "orders")
    def cf(c):  # NULL-preserving canonical field: concat_ws would silently
        # DROP null fields (making ('a', NULL) and (NULL, 'a') collide and
        # diverging from the oracle's NULL-propagating ||).  Field values
        # are delimiter-escaped ('\'→'\\', '|'→'\|') so a '|' inside a
        # string field can't make two distinct rows canonicalize equal.
        s = c.cast("string")
        s = F.replace(s, F.lit("\\"), F.lit("\\\\"))
        s = F.replace(s, F.lit("|"), F.lit("\\|"))
        return F.coalesce(s, F.lit("\x00NULL"))

    canonical = F.concat_ws(
        "|",
        cf(F.col("o_orderkey")),
        cf(F.col("o_custkey")),
        cf(F.col("o_orderstatus")),
        # money doubles canonicalize via the repo-wide DECIMAL(14,2) cast;
        # exact only because the corpus guarantees 2-decimal money values
        # (FIXTURES.md) — the same contract every TPC-H money SUM relies
        # on.  Arbitrary-precision doubles would need a bitwise canonical
        # form instead (Spark and DuckDB round repr vs binary differently).
        cf(F.col("o_totalprice").cast("decimal(14,2)")),
        cf(F.col("o_orderdate").cast("date")),
        cf(F.col("o_orderpriority")),
    )
    m61 = (1 << 61) - 1
    # the sum runs in DECIMAL(38,0): 61-bit terms overflow BIGINT after a
    # few rows; 38-digit decimal is exact past 1e12 rows in both engines
    return o.select(
        F.pmod(h64(canonical), F.lit(m61)).cast("decimal(38,0)").alias("h")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.pmod(F.sum("h"), F.lit(m61).cast("decimal(38,0)"))
        .cast("long")
        .alias("checksum"),
    )


def _checksum_oracle() -> str:
    m61 = (1 << 61) - 1
    nul = "chr(0) || 'NULL'"
    fields = [
        "CAST(o_orderkey AS VARCHAR)",
        "CAST(o_custkey AS VARCHAR)",
        "o_orderstatus",
        "CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS VARCHAR)",
        "CAST(CAST(o_orderdate AS DATE) AS VARCHAR)",
        "o_orderpriority",
    ]
    canonical = " || '|' || ".join(
        f"COALESCE(replace(replace({f}, '\\', '\\\\'), '|', '\\|'), {nul})"
        for f in fields
    )
    return f"""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(SUM({h64_sql(canonical)} % {m61}) % {m61} AS BIGINT) AS checksum
FROM orders
"""


#: NULL aggregation semantics, one text for both engines: COUNT(*) counts
#: NULLs, COUNT(v) doesn't, SUM over an all-NULL group is NULL (not 0),
#: and the decimal→ROUND→DOUBLE funnel passes NULL through unchanged.
NULL_AGG_SQL = """
SELECT l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(v) AS BIGINT) AS n_nonnull,
       CAST(COUNT(*) - COUNT(v) AS BIGINT) AS n_nulls,
       CAST(CAST(ROUND(SUM(v), 6) AS DECIMAL(24,6)) AS DOUBLE) AS sum_v
FROM (SELECT l_linestatus,
             CASE WHEN l_quantity < 10 THEN NULL
                  ELSE CAST(l_quantity AS DECIMAL(12,2)) END AS v
      FROM lineitem)
GROUP BY l_linestatus ORDER BY l_linestatus
"""


def agg_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from direct_spark_sql_spark.plans.base import sql_query

    return sql_query(spark, sf_dir, NULL_AGG_SQL)


# ---------------------------------------------------------------------------
# End-to-end pretraining pipeline composition
# ---------------------------------------------------------------------------

def _mix_predicate_sql() -> str:
    """The domain_weighted_sample membership predicate as SQL text —
    single source of truth for every oracle that replays the mixing step
    (weights CASE + salted h64 bucket must match the Spark operator)."""
    case = "CASE source " + " ".join(
        f"WHEN '{s}' THEN {int(w * sp.SAMPLE_BUCKETS)}"
        for s, w in sorted(MIX_WEIGHTS.items())
    ) + f" ELSE {int(MIX_DEFAULT * sp.SAMPLE_BUCKETS)} END"
    bucket = h64_sql("source || ':' || CAST(doc_id AS VARCHAR)")
    return f"{bucket} % {sp.SAMPLE_BUCKETS} < {case}"


def pipeline_pretraining_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline as ONE lazy DAG — language filter,
    quality bar, canonical exact-dedup, then domain-weighted mixing —
    with per-source output stats.  Nothing materializes between stages:
    Catalyst sees the composed plan and optimizes across operator
    boundaries (one groupBy+semi-join shuffle pair for the dedup,
    map-only everything else).  This is the composability the operator
    library exists for.  Canonical selection is groupBy(fp).min +
    (fp, id) semi-join, not a min window: map-side combine collapses a
    mass-duplicate hot fingerprint and the join keys stay unique
    (VERDICT r7 #1)."""
    from direct_spark_sql_spark.operators import text as tx

    # r14: one shared hoisted token array across the three text operators
    # (the corpus_curation pattern) — tokenize once per row, not 3×.
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text", tx.tokens("text").alias("__toks")
    )
    feats = tx.quality_features(d, toks=F.col("__toks"))
    scored = feats.select(
        "doc_id", "source", "text", "n_tokens", "quality_score",
        tx.predicted_language("text", toks=F.col("__toks")).alias("plang"),
        "__toks",
    )
    from direct_spark_sql_spark.operators import dedup as dd

    fp = tx.fingerprint(scored, toks=F.col("__toks")).select(
        "fp_content", "doc_id", "source", "n_tokens", "quality_score", "plang"
    )
    kept = dd.canonical_min_rows(fp, "fp_content", "doc_id").filter(
        (F.col("plang") == "en") & (F.col("quality_score") >= 0.5)
    )
    mixed = sp.domain_weighted_sample(
        kept, key="doc_id", domain="source", weights=MIX_WEIGHTS,
        default_weight=MIX_DEFAULT,
    )
    return (
        mixed.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("doc_id").cast("long").alias("min_doc"),
            F.max("doc_id").cast("long").alias("max_doc"),
        )
        .orderBy("source")
    )


def _pretraining_e2e_oracle() -> str:
    from direct_spark_sql_spark.plans.pipeline import curation_canon_cte

    return f"""{curation_canon_cte(", source")},
kept AS (
  SELECT doc_id, source, n_tokens FROM canon
  WHERE plang = 'en' AND quality_score >= 0.5 AND doc_id = keep_id),
mixed AS (
  SELECT * FROM kept WHERE {_mix_predicate_sql()})
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(min(doc_id) AS BIGINT) AS min_doc,
       CAST(max(doc_id) AS BIGINT) AS max_doc
FROM mixed GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# Bigram-LM quality scores
# ---------------------------------------------------------------------------

def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from direct_spark_sql_spark.operators.text import bigram_logprob_scores

    return bigram_logprob_scores(load_table(spark, sf_dir, "documents"))


BIGRAM_LP_ORACLE = f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
d AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 2),
pairs AS (
  SELECT doc_id, toks[s + 1] || ' ' || toks[s + 2] AS pair, toks[s + 1] AS w1
  FROM d, UNNEST(generate_series(0, n - 2)) u(s)),
c2 AS (SELECT pair, CAST(count(*) AS BIGINT) AS c2 FROM pairs GROUP BY pair),
c1 AS (SELECT string_split(pair, ' ')[1] AS w1, CAST(SUM(c2) AS BIGINT) AS c1
       FROM c2 GROUP BY 1),
v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
      FROM t, UNNEST(toks) u(tok)),
scored AS (
  SELECT p.doc_id,
         CAST(FLOOR(LN((CAST(c2.c2 AS DOUBLE) + 1.0)
                       / (CAST(c1.c1 AS DOUBLE) + CAST(v.v AS DOUBLE)))
                    * 100000000.0 + 0.5) AS BIGINT) AS u
  FROM pairs p JOIN c2 USING (pair) JOIN c1 ON c1.w1 = p.w1 CROSS JOIN v)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(u) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100000000.0
         AS avg_logprob
FROM scored GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Daily-volume anomaly detection
# ---------------------------------------------------------------------------

ANOMALY_Z = 1.5


def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal (day-of-week) decomposition of daily event volume:
    dow-mean seasonal component, per-day residual, and the residual
    z-score — the seasonally-adjusted complement to events_anomaly_days
    (a weekly rhythm would otherwise masquerade as anomalies).  Exact:
    daily counts and moment sums are BIGINT; seasonal means, residuals
    and z are single IEEE expressions over identical integers.  Plan:
    one daily hash agg, a broadcast 7-row seasonal dim, a broadcast
    1-row residual-stats agg."""
    e = load_table(spark, sf_dir, "events")
    day = F.expr(f"unix_micros(cast(ts as timestamp)) div {_US_PER_DAY}")
    daily = e.groupBy(day.alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    dow = F.pmod(F.col("day") + F.lit(4), F.lit(7))  # epoch day 0 = Thursday
    with_dow = daily.select("day", "n_events", dow.cast("long").alias("dow"))
    seasonal = with_dow.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_days_dow"),
        F.sum("n_events").cast("long").alias("s_dow"),
    )
    j = with_dow.join(F.broadcast(seasonal), "dow")
    resid = (
        F.col("n_events").cast("double")
        - F.col("s_dow").cast("double") / F.col("n_days_dow").cast("double")
    )
    r = j.select("day", "dow", "n_events", resid.alias("residual"))
    # residual moments snapped to 1e-6 units so the variance sums are
    # exact BIGINT (residuals are rationals with small denominators)
    units = F.floor(F.col("residual") * F.lit(1e6) + F.lit(0.5)).cast("long")
    stats = r.select(units.alias("u")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("u").cast("long").alias("su"),
        F.sum(F.col("u") * F.col("u")).cast("long").alias("suu"),
    )
    mean_u = F.col("su").cast("double") / F.col("n").cast("double")
    std_u = F.sqrt(
        F.col("suu").cast("double") / F.col("n").cast("double") - mean_u * mean_u
    )
    z = F.when(
        std_u > 0,
        (F.floor(F.col("residual") * F.lit(1e6) + F.lit(0.5)).cast("long").cast("double") - mean_u) / std_u,
    )
    return (
        r.crossJoin(F.broadcast(stats))
        .select(
            F.col("day").cast("long").alias("day"),
            F.col("dow").cast("long").alias("dow"),
            "n_events",
            "residual",
            z.alias("resid_z"),
        )
        .orderBy("day")
    )


SEASONAL_DECOMPOSE_ORACLE = f"""
WITH daily AS (
  SELECT epoch_us(ts) // {_US_PER_DAY} AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY epoch_us(ts) // {_US_PER_DAY}
),
wd AS (SELECT day, n_events, CAST((day + 4) % 7 AS BIGINT) AS dow FROM daily),
seasonal AS (
  SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_days_dow,
         CAST(SUM(n_events) AS BIGINT) AS s_dow
  FROM wd GROUP BY dow
),
r AS (
  SELECT w.day, w.dow, w.n_events,
         CAST(w.n_events AS DOUBLE)
           - CAST(s.s_dow AS DOUBLE) / CAST(s.n_days_dow AS DOUBLE) AS residual
  FROM wd w JOIN seasonal s ON s.dow = w.dow
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(FLOOR(residual * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS su,
         CAST(SUM(CAST(FLOOR(residual * 1000000.0 + 0.5) AS BIGINT)
                  * CAST(FLOOR(residual * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS suu
  FROM r
)
SELECT r.day, r.dow, r.n_events, r.residual,
       CASE WHEN SQRT(CAST(suu AS DOUBLE) / CAST(n AS DOUBLE)
                      - (CAST(su AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(su AS DOUBLE) / CAST(n AS DOUBLE))) > 0
            THEN (CAST(CAST(FLOOR(r.residual * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE)
                  - CAST(su AS DOUBLE) / CAST(n AS DOUBLE))
                 / SQRT(CAST(suu AS DOUBLE) / CAST(n AS DOUBLE)
                        - (CAST(su AS DOUBLE) / CAST(n AS DOUBLE))
                          * (CAST(su AS DOUBLE) / CAST(n AS DOUBLE)))
       END AS resid_z
FROM r, stats ORDER BY day
"""


def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on daily event volume, PURE-INTEGER
    form: CUSUM_k = Σ_{i≤k}(n_i − mean) would be order-sensitive doubles,
    but scaled by n_days it is ``n·S_le(k) − k·S`` — exact BIGINT
    arithmetic, so the argmax |CUSUM| split day is bit-deterministic.
    Output: the detected changepoint day, its scaled CUSUM, and the
    before/after mean rates (single IEEE divisions).  One daily hash agg
    + one bounded value-axis window + argmax."""
    e = load_table(spark, sf_dir, "events")
    day = F.expr(f"unix_micros(cast(ts as timestamp)) div {_US_PER_DAY}")
    daily = e.groupBy(day.alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    from pyspark.sql import Window as W

    wcum = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    wall = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    cum = daily.select(
        "day",
        F.sum("n").over(wcum).alias("s_le"),
        F.count(F.lit(1)).over(wcum).alias("k"),
        F.sum("n").over(wall).alias("s_all"),
        F.count(F.lit(1)).over(wall).alias("n_days"),
    ).filter(F.col("k") < F.col("n_days"))
    scaled = (
        F.col("n_days") * F.col("s_le") - F.col("k") * F.col("s_all")
    ).alias("cusum_scaled")
    scored = cum.select("day", "k", "s_le", "s_all", "n_days", scaled)
    best = scored.orderBy(
        F.abs(F.col("cusum_scaled")).desc(), F.col("day").asc()
    ).limit(1)
    mean_before = F.col("s_le").cast("double") / F.col("k").cast("double")
    mean_after = (F.col("s_all") - F.col("s_le")).cast("double") / (
        F.col("n_days") - F.col("k")
    ).cast("double")
    return best.select(
        F.col("day").cast("long").alias("change_day"),
        F.col("cusum_scaled").cast("long").alias("cusum_scaled"),
        mean_before.alias("mean_before"),
        mean_after.alias("mean_after"),
    )


CHANGEPOINT_ORACLE = f"""
WITH daily AS (
  SELECT epoch_us(ts) // {_US_PER_DAY} AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY epoch_us(ts) // {_US_PER_DAY}
),
cum AS (
  SELECT day,
         SUM(n) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_le,
         COUNT(*) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k,
         SUM(n) OVER () AS s_all,
         COUNT(*) OVER () AS n_days
  FROM daily
),
scored AS (
  SELECT day, k, s_le, s_all, n_days,
         n_days * s_le - k * s_all AS cusum_scaled
  FROM cum WHERE k < n_days
)
SELECT CAST(day AS BIGINT) AS change_day,
       CAST(cusum_scaled AS BIGINT) AS cusum_scaled,
       CAST(s_le AS DOUBLE) / CAST(k AS DOUBLE) AS mean_before,
       CAST(s_all - s_le AS DOUBLE) / CAST(n_days - k AS DOUBLE) AS mean_after
FROM scored ORDER BY ABS(cusum_scaled) DESC, day ASC LIMIT 1
"""


def corpus_user_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concentration of event volume across users as a Gini coefficient —
    the curation diagnostic for "is the corpus dominated by a few heavy
    sources?".  With per-user counts x_(i) rank-sorted (ties broken by
    user id), Gini = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx): every sum is
    BIGINT-exact, leaving one IEEE division.  One hash agg + a bounded
    per-user rank window."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    from pyspark.sql import Window as W

    ranked = per_user.select(
        "x",
        F.row_number().over(W.orderBy(F.col("x").asc(), F.col("user_id").asc()))
        .cast("long").alias("i"),
    )
    agg = ranked.agg(
        F.sum(F.col("i") * F.col("x")).cast("long").alias("six"),
        F.sum("x").cast("long").alias("sx"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    gini = (
        (F.lit(2).cast("long") * F.col("six")
         - (F.col("n") + F.lit(1)) * F.col("sx")).cast("double")
        / (F.col("n") * F.col("sx")).cast("double")
    )
    return agg.select("n", "sx", gini.alias("gini"))


USER_GINI_ORACLE = """
WITH per_user AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY user_id
),
ranked AS (
  SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY x ASC, user_id ASC) AS BIGINT) AS i
  FROM per_user
),
agg AS (
  SELECT CAST(SUM(i * x) AS BIGINT) AS six,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM ranked
)
SELECT n, sx,
       CAST(2 * six - (n + 1) * sx AS DOUBLE) / CAST(n * sx AS DOUBLE) AS gini
FROM agg
"""


_XCORR_LAGS = 3


def events_crosscorr_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead/lag cross-correlation between the daily click and purchase
    series at lags -{k}..+{k} (does click volume LEAD purchase volume?).
    For each lag the Pearson correlation comes from five integer sums
    over the aligned day pairs — count, Σx, Σy, Σxy, Σx², Σy² — so both
    engines evaluate one identical IEEE expression per lag.  Plan: one
    daily hash agg, a 7-row lag dim exploded against it, a self-join on
    the shifted day key, one group-by-lag aggregate."""
    e = load_table(spark, sf_dir, "events")
    day = F.expr(f"unix_micros(cast(ts as timestamp)) div {_US_PER_DAY}")
    daily = (
        e.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(day.alias("day"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    clicks = daily.filter(F.col("event_type") == "click").select(
        F.col("day"), F.col("n").alias("x")
    )
    purch = daily.filter(F.col("event_type") == "purchase").select(
        F.col("day").alias("pday"), F.col("n").alias("y")
    )
    lags = spark.range(-_XCORR_LAGS, _XCORR_LAGS + 1).select(
        F.col("id").cast("long").alias("lag")
    )
    paired = (
        clicks.crossJoin(F.broadcast(lags))
        .join(purch, F.col("day") + F.col("lag") == F.col("pday"))
    )
    agg = paired.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")
    n = d("n_days")
    cov = d("sxy") - d("sx") * d("sy") / n
    vx = d("sxx") - d("sx") * d("sx") / n
    vy = d("syy") - d("sy") * d("sy") / n
    corr = F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy))
    return agg.select("lag", "n_days", corr.alias("corr")).orderBy("lag")


XCORR_ORACLE = f"""
WITH daily AS (
  SELECT epoch_us(ts) // {_US_PER_DAY} AS day, event_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY epoch_us(ts) // {_US_PER_DAY}, event_type
),
c AS (SELECT day, n AS x FROM daily WHERE event_type = 'click'),
p AS (SELECT day AS pday, n AS y FROM daily WHERE event_type = 'purchase'),
lags AS (SELECT CAST(UNNEST(generate_series(-{_XCORR_LAGS}, {_XCORR_LAGS})) AS BIGINT) AS lag),
paired AS (
  SELECT l.lag, c.x, p.y
  FROM c CROSS JOIN lags l JOIN p ON c.day + l.lag = p.pday
),
agg AS (
  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM paired GROUP BY lag
)
SELECT lag, n_days,
       CASE WHEN (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE)) > 0
             AND (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE)) > 0
            THEN (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE))
                 / SQRT((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE))
                        * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE)))
       END AS corr
FROM agg ORDER BY lag
"""


def events_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days whose event volume deviates ≥ {z}σ from the corpus mean — the
    monitoring query over ingestion volume.  Exact by construction: daily
    counts are BIGINT, the moment sums are BIGINT, and mean/std/z are
    single IEEE expressions over identical integers in both engines.  The
    1-row stats aggregate broadcasts; everything else is one hash agg."""
    e = load_table(spark, sf_dir, "events")
    day = F.expr(f"unix_micros(cast(ts as timestamp)) div {_US_PER_DAY}")
    daily = e.groupBy(day.alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    stats = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("n_events").cast("long").alias("s"),
        F.sum(F.col("n_events") * F.col("n_events")).cast("long").alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n_days").cast("double")
    std = F.sqrt(
        F.col("ss").cast("double") / F.col("n_days").cast("double") - mean * mean
    )
    # std == 0 (all days identical) would make z = 0/0 = NaN, and NaN
    # compares greater than the threshold in Spark — every day would be
    # flagged.  Guard: NULL z, which the >= filter drops in both engines.
    z = F.when(std > 0, (F.col("n_events").cast("double") - mean) / std)
    return (
        daily.crossJoin(F.broadcast(stats))
        .select(
            F.col("day").cast("long").alias("day"),
            "n_events",
            z.alias("z_score"),
        )
        .filter(F.abs(F.col("z_score")) >= ANOMALY_Z)
        .orderBy("day")
    )


ANOMALY_DAYS_ORACLE = f"""
WITH daily AS (
  SELECT epoch_us(ts) // {_US_PER_DAY} AS day,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1),
st AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
         CAST(SUM(n_events) AS BIGINT) AS s,
         CAST(SUM(n_events * n_events) AS BIGINT) AS ss
  FROM daily),
sb AS (
  SELECT n_days, s,
         CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean,
         SQRT(CAST(ss AS DOUBLE) / CAST(n_days AS DOUBLE)
              - (CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE))
                * (CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE))) AS std
  FROM st)
SELECT * FROM (
  SELECT CAST(day AS BIGINT) AS day, n_events,
         CASE WHEN std > 0
              THEN (CAST(n_events AS DOUBLE) - mean) / std END AS z_score
  FROM daily CROSS JOIN sb)
WHERE ABS(z_score) >= {ANOMALY_Z}
ORDER BY day
"""


# ---------------------------------------------------------------------------
# Containment dedup (subset duplication)
# ---------------------------------------------------------------------------

CONTAINMENT_THRESHOLD = 0.6


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return dd.containment_pairs(
        d, threshold=CONTAINMENT_THRESHOLD, max_shingle_df=1000
    ).orderBy("id_a", "id_b")


def _containment_oracle() -> str:
    from direct_spark_sql_spark.plans.pipeline import SHINGLE_OVERLAP_CTES

    return f"""{SHINGLE_OVERLAP_CTES}
SELECT * FROM (
  SELECT id_a, id_b,
         CAST(n_common AS DOUBLE) / CAST(sa.set_size AS DOUBLE) AS containment_a,
         CAST(n_common AS DOUBLE) / CAST(sb.set_size AS DOUBLE) AS containment_b,
         GREATEST(CAST(n_common AS DOUBLE) / CAST(sa.set_size AS DOUBLE),
                  CAST(n_common AS DOUBLE) / CAST(sb.set_size AS DOUBLE))
           AS containment
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b)
WHERE containment >= {CONTAINMENT_THRESHOLD}
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# Session path analysis
# ---------------------------------------------------------------------------

def events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return an.session_paths(e, gap_minutes=30, top_k=15)


SESSION_PATHS_ORACLE = """
WITH e AS (
  SELECT user_id, event_type,
         epoch_us(ts) * 1024 + event_id % 1024 AS k,
         epoch_us(ts) AS us
  FROM events),
marked AS (
  SELECT user_id, event_type, k,
         CASE WHEN LAG(us) OVER w IS NULL
                OR us - LAG(us) OVER w >= 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY k)),
numbered AS (
  SELECT user_id, event_type, k,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY k
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_seq
  FROM marked),
paths AS (
  -- ORDER BY (k, event_type) mirrors Spark's lexicographic struct sort,
  -- so a k-collision (same microsecond, event ids congruent mod 1024)
  -- still renders a deterministic, engine-identical path
  SELECT string_agg(event_type, '>' ORDER BY k, event_type) AS path
  FROM numbered GROUP BY user_id, session_seq)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY path ORDER BY n_sessions DESC, path LIMIT 15
"""


# ---------------------------------------------------------------------------
# PMI collocations
# ---------------------------------------------------------------------------

PMI_MIN_COUNT = 5


def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from direct_spark_sql_spark.operators.text import pmi_collocations

    return pmi_collocations(
        load_table(spark, sf_dir, "documents"), min_count=PMI_MIN_COUNT, top_k=25
    )


PMI_ORACLE = f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
d AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 2),
pairs AS (
  SELECT toks[s + 1] || ' ' || toks[s + 2] AS pair
  FROM d, UNNEST(generate_series(0, n - 2)) u(s)),
c2 AS (SELECT pair, CAST(count(*) AS BIGINT) AS c2 FROM pairs GROUP BY pair),
keyed AS (SELECT pair, c2,
                 string_split(pair, ' ')[1] AS w1,
                 string_split(pair, ' ')[2] AS w2
          FROM c2),
l AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS cl FROM keyed GROUP BY w1),
r AS (SELECT w2, CAST(SUM(c2) AS BIGINT) AS cr FROM keyed GROUP BY w2),
tot AS (SELECT CAST(SUM(c2) AS BIGINT) AS n FROM c2)
SELECT pair, c2,
       CAST(FLOOR(LN(CAST(n AS DOUBLE) * CAST(c2 AS DOUBLE)
                     / (CAST(cl AS DOUBLE) * CAST(cr AS DOUBLE)))
                  * 100000000.0 + 0.5) AS BIGINT) / 100000000.0 AS pmi
FROM keyed JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN tot
WHERE c2 >= {PMI_MIN_COUNT}
ORDER BY pmi DESC, pair LIMIT 25
"""


# ---------------------------------------------------------------------------
# Skip-gram co-occurrence
# ---------------------------------------------------------------------------

SKIPGRAM_WINDOW = 2


def text_skipgram_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from direct_spark_sql_spark.operators.text import skipgram_cooccurrence

    return skipgram_cooccurrence(
        load_table(spark, sf_dir, "documents"), window=SKIPGRAM_WINDOW, top_k=30
    )


SKIPGRAM_ORACLE = f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
d AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 2),
p AS (
  SELECT toks[i + 1] || ' ' || toks[j + 1] AS pair
  FROM d,
       UNNEST(generate_series(0, n - 1)) u(i),
       UNNEST(generate_series(0, n - 1)) v(j)
  WHERE j BETWEEN i - {SKIPGRAM_WINDOW} AND i + {SKIPGRAM_WINDOW} AND j <> i)
SELECT pair, CAST(count(*) AS BIGINT) AS n_cooccur
FROM p GROUP BY pair ORDER BY n_cooccur DESC, pair LIMIT 30
"""


# ---------------------------------------------------------------------------
# Embedding standardization
# ---------------------------------------------------------------------------

def embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from direct_spark_sql_spark.operators.similarity import standardize_embeddings

    z = standardize_embeddings(load_table(spark, sf_dir, "embeddings"))
    return (
        z.groupBy("dim", "n_vecs", "mean", "std")
        .agg(F.min("z").alias("z_min"), F.max("z").alias("z_max"))
        .orderBy("dim")
    )


STANDARDIZE_ORACLE = """
WITH e AS (
  SELECT vec_id, CAST(s - 1 AS BIGINT) AS dim,
         CAST(CAST(embedding[s] AS DOUBLE) AS DECIMAL(12,9)) AS v,
         -- z uses the decimal-snapped element on both engines (the snap is
         -- ≤ 12 significant digits, so decimal→double is exact)
         CAST(CAST(CAST(embedding[s] AS DOUBLE) AS DECIMAL(12,9)) AS DOUBLE) AS v_dbl
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(s)),
st AS (
  SELECT dim, CAST(count(*) AS BIGINT) AS n_vecs,
         CAST(CAST(ROUND(SUM(v), 6) AS DECIMAL(24,6)) AS DOUBLE) AS s,
         CAST(CAST(ROUND(SUM(v * v), 6) AS DECIMAL(24,6)) AS DOUBLE) AS ss
  FROM e GROUP BY dim),
m AS (SELECT dim, n_vecs,
             s / CAST(n_vecs AS DOUBLE) AS mean,
             SQRT(ss / CAST(n_vecs AS DOUBLE)
                  - (s / CAST(n_vecs AS DOUBLE)) * (s / CAST(n_vecs AS DOUBLE)))
               AS std
      FROM st)
SELECT e.dim, m.n_vecs, m.mean, m.std,
       MIN((e.v_dbl - m.mean) / m.std) AS z_min,
       MAX((e.v_dbl - m.mean) / m.std) AS z_max
FROM e JOIN m USING (dim)
GROUP BY e.dim, m.n_vecs, m.mean, m.std
ORDER BY e.dim
"""


# ---------------------------------------------------------------------------
# Embedding outlier screen (diagonal Mahalanobis)
# ---------------------------------------------------------------------------

def embedding_outlier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagonal-Mahalanobis embedding outliers: per-dimension z-scores,
    per-vector mean squared z snapped to integer 1e-9 units before the
    sum (order-independent BIGINT total), bounded top-25
    (operators/similarity.py:standardized_outliers) — the junk-vector
    screen before clustering / ANN index training."""
    from direct_spark_sql_spark.operators.similarity import standardized_outliers

    return standardized_outliers(load_table(spark, sf_dir, "embeddings"))


OUTLIER_SCORES_ORACLE = """
WITH e AS (
  SELECT vec_id, CAST(s - 1 AS BIGINT) AS dim,
         CAST(CAST(embedding[s] AS DOUBLE) AS DECIMAL(12,9)) AS v,
         CAST(CAST(CAST(embedding[s] AS DOUBLE) AS DECIMAL(12,9)) AS DOUBLE) AS v_dbl
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(s)),
st AS (
  SELECT dim, CAST(count(*) AS BIGINT) AS n_vecs,
         CAST(CAST(ROUND(SUM(v), 6) AS DECIMAL(24,6)) AS DOUBLE) AS s,
         CAST(CAST(ROUND(SUM(v * v), 6) AS DECIMAL(24,6)) AS DOUBLE) AS ss
  FROM e GROUP BY dim),
m AS (SELECT dim,
             s / CAST(n_vecs AS DOUBLE) AS mean,
             SQRT(ss / CAST(n_vecs AS DOUBLE)
                  - (s / CAST(n_vecs AS DOUBLE)) * (s / CAST(n_vecs AS DOUBLE)))
               AS std
      FROM st),
zz AS (
  SELECT e.vec_id,
         CAST(FLOOR(((e.v_dbl - m.mean) / m.std) * ((e.v_dbl - m.mean) / m.std)
                    * 1e9 + 0.5) AS BIGINT) AS zz_u
  FROM e JOIN m USING (dim)
  WHERE m.std > 0)
SELECT vec_id,
       CAST(SUM(zz_u) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e9
         AS outlier_score,
       CAST(COUNT(*) AS BIGINT) AS n_dims
FROM zz GROUP BY vec_id
ORDER BY outlier_score DESC, vec_id LIMIT 25
"""


# ---------------------------------------------------------------------------
# Gap-filled resampling with forward fill
# ---------------------------------------------------------------------------

def events_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily resample with LINEAR INTERPOLATION between observations (the
    numeric-gap-fill complement to events_resample_ffill): empty days get
    ``prev + (next-prev) * elapsed_fraction``; before the first / after
    the last observation the nearest anchor is clamped.  Same bounded
    scaffold shape as ffill; two window passes (backward + forward
    anchors).  All interpolation arithmetic is IEEE doubles in identical
    textual order in the oracle."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    day = F.expr(f"unix_micros(cast(ts as timestamp)) div {_US_PER_DAY}")
    ordk = F.expr(
        f"(unix_micros(cast(ts as timestamp)) - {_TREND_BASE_US}) * 1024"
        " + pmod(event_id, 1024)"
    )
    bounds = e.agg(F.min(day).alias("dmin"), F.max(day).alias("dmax"))
    users = e.select("user_id").distinct()
    scaffold = users.crossJoin(F.broadcast(bounds)).select(
        "user_id", F.explode(F.sequence("dmin", "dmax")).alias("day")
    )
    bins = (
        e.select("user_id", day.alias("day"), "value", ordk.alias("ordk"))
        .groupBy("user_id", "day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max_by("value", "ordk").alias("last_v"),
        )
    )
    j = scaffold.join(bins, ["user_id", "day"], "left").withColumn(
        "anchor_day", F.when(F.col("last_v").isNotNull(), F.col("day"))
    )
    wp = W.partitionBy("user_id").orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    wn = W.partitionBy("user_id").orderBy("day").rowsBetween(0, W.unboundedFollowing)
    prev_v = F.last("last_v", ignorenulls=True).over(wp)
    prev_d = F.last("anchor_day", ignorenulls=True).over(wp)
    next_v = F.first("last_v", ignorenulls=True).over(wn)
    next_d = F.first("anchor_day", ignorenulls=True).over(wn)
    frac = (F.col("day") - prev_d).cast("double") / (next_d - prev_d).cast("double")
    interp = (
        F.when(F.col("last_v").isNotNull(), F.col("last_v"))
        .when(
            prev_v.isNotNull() & next_v.isNotNull(),
            prev_v + (next_v - prev_v) * frac,
        )
        .otherwise(F.coalesce(prev_v, next_v))
    )
    return (
        j.select(
            "user_id",
            F.col("day").cast("long").alias("day"),
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
            interp.alias("interp_value"),
        )
        .orderBy("user_id", "day")
    )


RESAMPLE_INTERP_ORACLE = f"""
WITH b AS (
  SELECT user_id, epoch_us(ts) // {_US_PER_DAY} AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         max_by(value, (epoch_us(ts) - {_TREND_BASE_US}) * 1024 + event_id % 1024)
           AS last_v
  FROM events GROUP BY user_id, epoch_us(ts) // {_US_PER_DAY}
),
bounds AS (SELECT MIN(day) AS dmin, MAX(day) AS dmax FROM b),
users AS (SELECT DISTINCT user_id FROM events),
scaffold AS (
  SELECT user_id, UNNEST(generate_series(dmin, dmax)) AS day
  FROM users, bounds
),
j AS (
  SELECT s.user_id, s.day, b.n_events, b.last_v,
         CASE WHEN b.last_v IS NOT NULL THEN s.day END AS anchor_day
  FROM scaffold s LEFT JOIN b ON b.user_id = s.user_id AND b.day = s.day
),
w AS (
  SELECT user_id, day, n_events, last_v,
         last_value(last_v IGNORE NULLS) OVER wp AS prev_v,
         last_value(anchor_day IGNORE NULLS) OVER wp AS prev_d,
         first_value(last_v IGNORE NULLS) OVER wn AS next_v,
         first_value(anchor_day IGNORE NULLS) OVER wn AS next_d
  FROM j
  WINDOW wp AS (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wn AS (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, CAST(day AS BIGINT) AS day,
       CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
       CASE WHEN last_v IS NOT NULL THEN last_v
            WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
              THEN prev_v + (next_v - prev_v)
                   * (CAST(day - prev_d AS DOUBLE) / CAST(next_d - prev_d AS DOUBLE))
            ELSE COALESCE(prev_v, next_v)
       END AS interp_value
FROM w ORDER BY user_id, day
"""


def events_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily resample per user over the corpus' full day range, empty days
    gap-filled (n_events = 0) and the last observed value forward-filled —
    the time-series densification every downstream window model expects.

    Shape: the (user × day) scaffold comes from a 1-row broadcast of the
    global day bounds cross-joined to the distinct-user list with an
    exploded ``sequence`` (bounded: |users| × |days|); bin aggregates left-
    join on; one window pass does the forward fill.  The per-bin "last"
    value is ``max_by`` over an encoded (time, event_id) key, so ties are
    impossible and both engines pick the identical row."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    day = F.expr(f"unix_micros(cast(ts as timestamp)) div {_US_PER_DAY}")
    # total-order key: micros within the corpus epoch, low bits = event_id
    ordk = F.expr(
        f"(unix_micros(cast(ts as timestamp)) - {_TREND_BASE_US}) * 1024"
        " + pmod(event_id, 1024)"
    )
    bounds = e.agg(
        F.min(day).alias("dmin"), F.max(day).alias("dmax")
    )
    users = e.select("user_id").distinct()
    scaffold = users.crossJoin(F.broadcast(bounds)).select(
        "user_id", F.explode(F.sequence("dmin", "dmax")).alias("day")
    )
    bins = (
        e.select("user_id", day.alias("day"), "value", ordk.alias("ordk"))
        .groupBy("user_id", "day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max_by("value", "ordk").alias("last_v"),
        )
    )
    w = W.partitionBy("user_id").orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return (
        scaffold.join(bins, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.col("day").cast("long").alias("day"),
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
            F.last("last_v", ignorenulls=True).over(w).alias("filled_value"),
        )
        .orderBy("user_id", "day")
    )


RESAMPLE_FFILL_ORACLE = f"""
WITH bounds AS (
  SELECT min(epoch_us(ts) // {_US_PER_DAY}) AS dmin,
         max(epoch_us(ts) // {_US_PER_DAY}) AS dmax
  FROM events),
users AS (SELECT DISTINCT user_id FROM events),
scaffold AS (
  SELECT user_id, d AS day
  FROM users, bounds, UNNEST(generate_series(dmin, dmax)) t(d)),
b AS (
  SELECT user_id, epoch_us(ts) // {_US_PER_DAY} AS day,
         CAST(count(*) AS BIGINT) AS n_events,
         arg_max(value,
                 (epoch_us(ts) - {_TREND_BASE_US}) * 1024 + event_id % 1024)
           AS last_v
  FROM events GROUP BY 1, 2)
SELECT s.user_id, CAST(s.day AS BIGINT) AS day,
       COALESCE(b.n_events, 0) AS n_events,
       LAST_VALUE(b.last_v IGNORE NULLS) OVER (
         PARTITION BY s.user_id ORDER BY s.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
FROM scaffold s LEFT JOIN b ON s.user_id = b.user_id AND s.day = b.day
ORDER BY s.user_id, s.day
"""


# ---------------------------------------------------------------------------
# Per-user trend (exact OLS slope)
# ---------------------------------------------------------------------------

def events_user_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user least-squares trend of event value over time — the
    closed-form statistical aggregate pattern: every Σ term is an exact
    BIGINT/decimal sum (one shuffle, map-side combined), and the slope /
    intercept are single IEEE expressions over identically-snapped
    operands, so the result is bit-identical across engines.  No
    applyInPandas, no per-group fitting loop."""
    e = load_table(spark, sf_dir, "events")
    tm = F.expr(
        f"(unix_micros(cast(ts as timestamp)) - {_TREND_BASE_US}) div 60000000"
    )  # minutes since 2024-01-01, exact BIGINT
    base = e.select(
        "user_id",
        tm.alias("tm"),
        F.col("value").cast("decimal(14,2)").alias("v"),
    )
    agg = base.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("tm").cast("long").alias("st"),
        F.sum(F.col("tm") * F.col("tm")).cast("long").alias("stt"),
        F.sum("v").cast(DEC_OUT).cast("double").alias("sv"),
        F.sum(F.col("tm").cast("decimal(20,0)") * F.col("v"))
        .cast(DEC_OUT)
        .cast("double")
        .alias("stv"),
    )
    n_d = F.col("n_events").cast("double")
    st_d = F.col("st").cast("double")
    stt_d = F.col("stt").cast("double")
    slope = (n_d * F.col("stv") - st_d * F.col("sv")) / (n_d * stt_d - st_d * st_d)
    intercept = (F.col("sv") - slope * st_d) / n_d
    return agg.select(
        "user_id", "n_events", slope.alias("slope"), intercept.alias("intercept")
    ).orderBy("user_id")


TREND_ORACLE = f"""
WITH b AS (
  SELECT user_id,
         (epoch_us(ts) - {_TREND_BASE_US}) // 60000000 AS tm,
         CAST(value AS DECIMAL(14,2)) AS v
  FROM events),
a AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(SUM(tm) AS BIGINT) AS st,
         CAST(SUM(tm * tm) AS BIGINT) AS stt,
         CAST(CAST(ROUND(SUM(v), 2) AS DECIMAL(24,2)) AS DOUBLE) AS sv,
         CAST(CAST(ROUND(SUM(CAST(tm AS DECIMAL(20,0)) * v), 2) AS DECIMAL(24,2))
              AS DOUBLE) AS stv
  FROM b GROUP BY user_id)
SELECT user_id, n_events,
       (CAST(n_events AS DOUBLE) * stv - CAST(st AS DOUBLE) * sv)
         / (CAST(n_events AS DOUBLE) * CAST(stt AS DOUBLE)
            - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) AS slope,
       (sv - (CAST(n_events AS DOUBLE) * stv - CAST(st AS DOUBLE) * sv)
               / (CAST(n_events AS DOUBLE) * CAST(stt AS DOUBLE)
                  - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
             * CAST(st AS DOUBLE)) / CAST(n_events AS DOUBLE) AS intercept
FROM a ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# Null-safe equality join
# ---------------------------------------------------------------------------

def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    match each other — still an equi-join for Catalyst (EqualNullSafe is
    an extractable join key, so this hash-joins; no nested loop)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 400)
    key = F.when(F.col("value") < 0.5, None).otherwise(F.col("event_type"))
    a = e.select(F.col("event_id").alias("a_id"), key.alias("k"))
    b = e.select(F.col("event_id").alias("b_id"), key.alias("k"))
    return (
        a.join(b, a["k"].eqNullSafe(b["k"]))
        .groupBy(a["k"].alias("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy(F.col("k").asc_nulls_first())
    )


NULL_SAFE_JOIN_ORACLE = """
WITH e AS (
  SELECT event_id,
         CASE WHEN value < 0.5 THEN NULL ELSE event_type END AS k
  FROM events WHERE event_id < 400)
SELECT a.k AS k, CAST(count(*) AS BIGINT) AS n_pairs
FROM e a JOIN e b ON a.k IS NOT DISTINCT FROM b.k
GROUP BY a.k ORDER BY k NULLS FIRST
"""


# ---------------------------------------------------------------------------
# Z-order layout locality
# ---------------------------------------------------------------------------

def layout_zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering statistics: events coded on the Morton interleave
    of (user_id, epoch-day), bucketed by the code's 10-bit prefix.  Each
    bucket's (user, day) min/max rectangle is what parquet row-group stats
    would store after a ``zorder_layout`` write — small rectangles on BOTH
    dimensions are exactly why either-dimension predicates prune."""
    from direct_spark_sql_spark.operators.layout import morton_code

    e = load_table(spark, sf_dir, "events")
    day = F.expr(f"unix_micros(cast(ts as timestamp)) div {_US_PER_DAY}")
    z = morton_code(F.col("user_id"), day)
    return (
        e.select(
            F.col("user_id"), day.alias("day"), F.shiftright(z, 22).alias("bucket")
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("user_id").cast("long").alias("user_min"),
            F.max("user_id").cast("long").alias("user_max"),
            F.min("day").cast("long").alias("day_min"),
            F.max("day").cast("long").alias("day_max"),
        )
        .orderBy("bucket")
    )


def _zorder_oracle() -> str:
    from direct_spark_sql_spark.operators.layout import morton_code_sql

    z = morton_code_sql("user_id", f"(epoch_us(ts) // {_US_PER_DAY})")
    return f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) // {_US_PER_DAY} AS day,
         {z} >> 22 AS bucket
  FROM events)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(user_id) AS BIGINT) AS user_min,
       CAST(max(user_id) AS BIGINT) AS user_max,
       CAST(min(day) AS BIGINT) AS day_min,
       CAST(max(day) AS BIGINT) AS day_max
FROM e GROUP BY bucket ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# Incremental rollup maintenance
# ---------------------------------------------------------------------------

def incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view refresh without a base rescan: a daily rollup
    materialized from ~80% of events is merged with the delta batch's
    partial aggregates (operators/merge.py:merge_rollups).  The oracle is
    the FULL recompute over all events — incremental == full is exactly
    the correctness contract of algebraic view maintenance."""
    from direct_spark_sql_spark.operators.merge import merge_rollups
    from direct_spark_sql_spark.plans.base import DEC_PRICE

    e = load_table(spark, sf_dir, "events")

    def rollup(df: DataFrame) -> DataFrame:
        return (
            df.select(
                "event_type",
                F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
                F.col("value").cast(DEC_PRICE).alias("v"),
            )
            .groupBy("event_type", "day")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.sum("v").cast("decimal(24,2)").alias("sum_v"),
            )
        )

    base = rollup(e.filter(F.col("event_id") % 5 != 0))       # materialized
    delta = rollup(e.filter(F.col("event_id") % 5 == 0))      # new batch
    merged = merge_rollups(
        [base, delta],
        key_cols=["event_type", "day"],
        measure_casts={"n_events": "long", "sum_v": "decimal(24,2)"},
    )
    return merged.select(
        "event_type",
        "day",
        "n_events",
        F.col("sum_v").cast(DEC_OUT).cast("double").alias("total_value"),
    ).orderBy("event_type", "day")


INCREMENTAL_ROLLUP_ORACLE = f"""
SELECT event_type,
       CAST(date_trunc('day', ts) AS DATE) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {sum_money_sql('CAST(value AS DECIMAL(14,2))')} AS total_value
FROM events
GROUP BY event_type, day
ORDER BY event_type, day
"""


# ---------------------------------------------------------------------------
# Audio decode (real WAV codec)
# ---------------------------------------------------------------------------

def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode deterministic PCM16 WAV payloads executor-side, then DECODE
    them with the real stdlib RIFF parser and emit format + amplitude
    stats.  The oracle recomputes every value from the sample formula, so
    a codec bug (chunk walk, fmt parse, sign handling, interleave) breaks
    the hash match."""
    from direct_spark_sql_spark.operators import multimodal as mm

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return mm.extract_audio_features(mm.synthesize_audio(d)).orderBy("doc_id")


AUDIO_FEATURES_ORACLE = """
WITH d AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 22050 END AS rate,
         1 + doc_id % 2 AS channels,
         64 + doc_id % 37 AS n,
         3 + doc_id % 5 AS stp
  FROM documents WHERE doc_id < 100),
s AS (
  SELECT d.doc_id, d.rate, d.channels, d.n,
         ((i.i * d.stp + c.c * 11 + d.doc_id * 17) % 65536) - 32768 AS v
  FROM d
  JOIN generate_series(0, 100) i(i) ON i.i < d.n
  JOIN generate_series(0, 1) c(c) ON c.c < d.channels)
SELECT doc_id,
       CAST(rate AS INT) AS sample_rate,
       CAST(channels AS INT) AS channels,
       CAST(n AS BIGINT) AS n_frames,
       CAST(n * 1000000 // rate AS BIGINT) AS duration_us,
       CAST(MIN(v) AS INT) AS amp_min,
       CAST(MAX(v) AS INT) AS amp_max,
       CAST(SUM(ABS(v)) AS BIGINT) AS amp_abs_sum
FROM s GROUP BY doc_id, rate, channels, n ORDER BY doc_id
"""


def multimodal_audio_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual audio dedup by energy-contour fingerprint: real WAV
    encode → real decode → 7-bit rising/falling energy signature over 8
    time windows (operators/multimodal.py:audio_fingerprint); equal
    fingerprints are the near-dup buckets, found by equi-groupBy — the
    audio sibling of multimodal_image_dedup.  The oracle recomputes
    every fingerprint from the synthesis formula, so a decode,
    windowing, energy or bit-order bug breaks the match.  Bucket sizes
    come from groupBy(afp).count + join-back, not a count window — the
    hot-fingerprint-safe shape (VERDICT r7 #1)."""
    from direct_spark_sql_spark.operators import multimodal as mm

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    fp = mm.audio_fingerprint(mm.synthesize_audio(d))
    sizes = fp.groupBy("afp").agg(
        F.count(F.lit(1)).cast("long").alias("group_size")
    )
    return (
        fp.join(sizes, "afp")
        .select("doc_id", "rate", "channels", "n_frames", "afp", "group_size")
        .orderBy("doc_id")
    )


AUDIO_DEDUP_ORACLE = """
WITH d AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 22050 END AS rate,
         1 + doc_id % 2 AS channels,
         64 + doc_id % 37 AS n,
         3 + doc_id % 5 AS stp
  FROM documents WHERE doc_id < 100),
s AS (
  SELECT d.doc_id, d.rate, d.channels, d.n, i.i AS f,
         ((i.i * d.stp + c.c * 11 + d.doc_id * 17) % 65536) - 32768 AS v
  FROM d
  JOIN generate_series(0, 100) i(i) ON i.i < d.n
  JOIN generate_series(0, 1) c(c) ON c.c < d.channels),
mono AS (
  SELECT doc_id, rate, channels, n, f, (f * 8) // n AS wb, SUM(v) AS m
  FROM s GROUP BY doc_id, rate, channels, n, f),
en AS (
  SELECT doc_id, rate, channels, n, wb, SUM(m * m) AS e
  FROM mono GROUP BY doc_id, rate, channels, n, wb),
bits AS (
  SELECT doc_id, rate, channels, n, wb,
         CASE WHEN e > LAG(e) OVER (PARTITION BY doc_id ORDER BY wb)
              THEN 1 ELSE 0 END AS bit,
         CASE WHEN e * 8 > SUM(e) OVER (PARTITION BY doc_id)
              THEN 1 ELSE 0 END AS loud
  FROM en),
hashes AS (
  SELECT doc_id, MIN(rate) AS rate, MIN(channels) AS channels, MIN(n) AS n,
         CAST(SUM(CASE WHEN wb >= 1 THEN bit << (wb - 1) ELSE 0 END)
              + SUM(loud << (wb + 7)) AS BIGINT) AS afp
  FROM bits GROUP BY doc_id)
SELECT doc_id, CAST(rate AS INT) AS rate, CAST(channels AS INT) AS channels,
       CAST(n AS INT) AS n_frames, afp,
       CAST(COUNT(*) OVER (PARTITION BY afp) AS BIGINT) AS group_size
FROM hashes ORDER BY doc_id
"""


def multimodal_video_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual video dedup by temporal fingerprint: real Y4M decode,
    every 2nd frame's luma plane hashed with the 4×3 integer aHash, the
    sampled-frame hashes packed positionally into one long
    (operators/multimodal.py:video_fingerprint) — spatial layout AND
    temporal evolution in one equi-groupBy key, completing the
    image/audio/video perceptual-dedup triple.  The oracle recomputes
    every fingerprint from the synthesis formula.  Bucket sizes come
    from groupBy(vfp).count + join-back, not a count window — the
    hot-fingerprint-safe shape (VERDICT r7 #1)."""
    from direct_spark_sql_spark.operators import multimodal as mm

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    fp = mm.video_fingerprint(mm.synthesize_videos(d))
    sizes = fp.groupBy("vfp").agg(
        F.count(F.lit(1)).cast("long").alias("group_size")
    )
    return (
        fp.join(sizes, "vfp")
        .select("doc_id", "width", "height", "n_frames", "vfp", "group_size")
        .orderBy("doc_id")
    )


# NOTE (ADVICE r8): this oracle implements ONLY the positional packing
# SUM(ah << 12*(f//2)) — it does not replay video_fingerprint's XOR fold
# for sample positions >= VFP_MAX_PACKED (operators/multimodal.py).
# Parity therefore DEPENDS on synthesize_videos capping n_frames at
# 3 + id%4 <= 6 (3 sampled frames < VFP_MAX_PACKED = 5); bumping the
# synthesis frame count past 2*VFP_MAX_PACKED-1 requires adding the XOR
# branch here (tests/test_multimodal.py::
# test_synthesized_videos_stay_within_packed_frame_slots pins the cap).
VIDEO_DEDUP_ORACLE = """
WITH d AS (
  SELECT doc_id, 4 + 2 * (doc_id % 5) AS w, 4 + 2 * (doc_id % 4) AS h,
         3 + doc_id % 4 AS n
  FROM documents WHERE doc_id < 100),
fr AS (
  SELECT d.doc_id, d.w, d.h, d.n, f.f
  FROM d JOIN generate_series(0, 6) f(f) ON f.f < d.n AND f.f % 2 = 0),
px AS (
  SELECT fr.doc_id, fr.w, fr.h, fr.n, fr.f,
         (X.x * 3 + Y.y * 7 + fr.f * 11 + fr.doc_id * 13) % 256 AS g,
         (X.x * 4) // fr.w AS bx,
         (Y.y * 3) // fr.h AS by
  FROM fr
  JOIN generate_series(0, 11) X(x) ON X.x < fr.w
  JOIN generate_series(0, 9) Y(y) ON Y.y < fr.h),
cells AS (
  SELECT doc_id, w, h, n, f, by, bx, SUM(g) // COUNT(*) AS m
  FROM px GROUP BY doc_id, w, h, n, f, by, bx),
thr AS (SELECT doc_id, f, SUM(m) // 12 AS t FROM cells GROUP BY doc_id, f),
fhash AS (
  SELECT c.doc_id, c.w, c.h, c.n, c.f,
         SUM(CASE WHEN c.m > thr.t THEN (1 << (c.by * 4 + c.bx)) ELSE 0 END)
           AS ah
  FROM cells c JOIN thr ON thr.doc_id = c.doc_id AND thr.f = c.f
  GROUP BY c.doc_id, c.w, c.h, c.n, c.f),
hashes AS (
  SELECT doc_id, MIN(w) AS w, MIN(h) AS h, MIN(n) AS n,
         CAST(SUM(ah << (12 * (f // 2))) AS BIGINT) AS vfp
  FROM fhash GROUP BY doc_id)
SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(n AS INT) AS n_frames, vfp,
       CAST(COUNT(*) OVER (PARTITION BY vfp) AS BIGINT) AS group_size
FROM hashes ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Training-sequence packing
# ---------------------------------------------------------------------------

SEQ_LEN = 512


def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk packing of the document corpus into fixed
    512-token training sequences via the distributed prefix sum
    (operators/packing.py — no single-partition window).  Output: per
    sequence, the number of contributing docs, tokens, and head docs."""
    from direct_spark_sql_spark.operators.packing import pack_sequences

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    contrib = pack_sequences(d, SEQ_LEN)
    return (
        contrib.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_contributed").cast("long").alias("n_tokens"),
            F.sum(F.col("is_head").cast("long")).cast("long").alias("n_heads"),
        )
        .orderBy("seq_id")
    )


#: Harmonic whole-document bin packing operating point: capacity 64
#: tokens binds every class on the testdata (doc lengths run ~11-99
#: tokens: classes 1-5 populate AND the >64-token tail exercises the
#: oversize flag); k_max 8 is the classic HARMONIC_8 (~1.69x-optimal).
PACK_BIN_CAPACITY = 64
PACK_BIN_KMAX = 8


def pack_bins_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-document harmonic bin packing (Lee & Lee 1985) of the
    corpus into 64-token contexts — the padding-free-batching sibling of
    pack_training_sequences for pipelines that never split a document.
    Doc-level assignment output so the differential check pins every
    single document's (class, bin).  See
    operators/packing.py:pack_bins_harmonic for the 100 TB shape (one
    distributed prefix-sum rank, class offsets broadcast, closed-form
    bin index — no per-class single-partition window, no bin state)."""
    from direct_spark_sql_spark.operators.packing import pack_bins_harmonic

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    return pack_bins_harmonic(
        d, capacity=PACK_BIN_CAPACITY, k_max=PACK_BIN_KMAX
    ).orderBy("doc_id")


def pack_bins_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class packing economics of pack_bins_assignment: bins used,
    docs and tokens packed, and the fill fraction (packed tokens over
    bin capacity) — the waste report that justifies the harmonic rule's
    ~1.69x bound against one-doc-per-context padding.  Oversize class 0
    reports capacity = its own token mass (one doc per bin, no pad)."""
    from direct_spark_sql_spark.operators.packing import pack_bins_harmonic

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    a = pack_bins_harmonic(d, capacity=PACK_BIN_CAPACITY, k_max=PACK_BIN_KMAX)
    cap = F.when(
        F.col("class_k") == 0, F.col("tokens_packed").cast("double")
    ).otherwise((F.col("n_bins") * F.lit(PACK_BIN_CAPACITY)).cast("double"))
    return (
        a.groupBy("class_k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            (F.max("bin_index") + 1).cast("long").alias("n_bins"),
            F.sum("n_tokens").cast("long").alias("tokens_packed"),
        )
        .withColumn(
            "fill_frac",
            F.when(cap > 0, F.col("tokens_packed").cast("double") / cap),
        )
        .orderBy("class_k")
    )


def _pack_bins_ctes() -> str:
    c, k = PACK_BIN_CAPACITY, PACK_BIN_KMAX
    return f"""
WITH t AS (SELECT doc_id, CAST(len({TOKS_SQL}) AS BIGINT) AS n_tokens
           FROM documents),
cls AS (SELECT doc_id, n_tokens,
               CAST(CASE WHEN n_tokens > {c} THEN 0
                    ELSE LEAST({k}, {c} // n_tokens) END AS INT) AS class_k
        FROM t WHERE n_tokens >= 1),
r AS (SELECT doc_id, n_tokens, class_k,
             ROW_NUMBER() OVER (PARTITION BY class_k ORDER BY doc_id) AS rn
      FROM cls),
asg AS (SELECT doc_id, n_tokens, class_k,
               CAST((rn - 1) // (CASE WHEN class_k = 0 THEN 1
                                      ELSE class_k END) AS BIGINT) AS bin_index,
               class_k = 0 AS oversize
        FROM r)"""


PACK_BINS_ASSIGNMENT_ORACLE = _pack_bins_ctes() + """
SELECT doc_id, n_tokens, class_k, bin_index, oversize
FROM asg ORDER BY doc_id
"""

PACK_BINS_STATS_ORACLE = _pack_bins_ctes() + f"""
, s AS (SELECT class_k,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MAX(bin_index) + 1 AS BIGINT) AS n_bins,
               CAST(SUM(n_tokens) AS BIGINT) AS tokens_packed
        FROM asg GROUP BY class_k)
SELECT class_k, n_docs, n_bins, tokens_packed,
       CASE WHEN class_k = 0 THEN
              CASE WHEN tokens_packed > 0 THEN 1.0 END
            WHEN n_bins * {PACK_BIN_CAPACITY} > 0 THEN
              CAST(tokens_packed AS DOUBLE)
                / CAST(n_bins * {PACK_BIN_CAPACITY} AS DOUBLE)
       END AS fill_frac
FROM s ORDER BY class_k
"""


#: Candidate training-sequence lengths for the packing-efficiency report
PACK_EFF_LENGTHS = (256, 512, 1024)


def corpus_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency planning report: for each source and candidate
    sequence length, the padding overhead of naive one-doc-per-sequence
    training (every doc padded up to ceil(n/L)·L) vs concat-then-chunk
    packing (pad only the final partial sequence) — the number that
    justifies running pack_training_sequences at all, and the input to
    choosing L.

    All-integer padding arithmetic (ceil via (n + L - 1) div L), one
    corpus scan, ONE groupBy(source) computing all lengths at once, then
    a ``stack`` generator to long format — no joins, no windows, bounded
    output (sources × lengths)."""
    d = load_table(spark, sf_dir, "documents").select(
        "source", F.size(tokens("text")).cast("long").alias("n")
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n").cast("long").alias("total_tokens")]
    for L in PACK_EFF_LENGTHS:
        ceil_l = (F.col("n") + F.lit(L - 1)) - F.pmod(F.col("n") + F.lit(L - 1), F.lit(L))
        aggs.append(F.sum(ceil_l).cast("long").alias(f"naive_{L}"))
    g = d.groupBy("source").agg(*aggs)
    cols = []
    for L in PACK_EFF_LENGTHS:
        packed = (
            F.col("total_tokens") + F.lit(L - 1)
        ) - F.pmod(F.col("total_tokens") + F.lit(L - 1), F.lit(L))
        g = g.withColumn(f"np_{L}", F.col(f"naive_{L}") - F.col("total_tokens"))
        g = g.withColumn(f"pp_{L}", packed - F.col("total_tokens"))
        cols.append(f"{L}, np_{L}, pp_{L}")
    stacked = g.selectExpr(
        "source", "n_docs", "total_tokens",
        f"stack({len(PACK_EFF_LENGTHS)}, {', '.join(cols)}) "
        "AS (seq_len, naive_pad, packed_pad)",
    )
    return stacked.select(
        "source",
        F.col("seq_len").cast("long").alias("seq_len"),
        "n_docs",
        "total_tokens",
        F.col("naive_pad").cast("long").alias("naive_pad"),
        F.col("packed_pad").cast("long").alias("packed_pad"),
        (
            F.col("naive_pad").cast("double")
            / (F.col("total_tokens") + F.col("naive_pad")).cast("double")
        ).alias("naive_pad_frac"),
    ).orderBy("source", "seq_len")


def _pack_eff_oracle() -> str:
    rows = []
    for L in PACK_EFF_LENGTHS:
        rows.append(f"""
SELECT source, CAST({L} AS BIGINT) AS seq_len,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS total_tokens,
       CAST(SUM(((n + {L - 1}) // {L}) * {L}) - SUM(n) AS BIGINT) AS naive_pad,
       CAST(((SUM(n) + {L - 1}) // {L}) * {L} - SUM(n) AS BIGINT) AS packed_pad,
       CAST(SUM(((n + {L - 1}) // {L}) * {L}) - SUM(n) AS DOUBLE)
         / CAST(SUM(((n + {L - 1}) // {L}) * {L}) AS DOUBLE) AS naive_pad_frac
FROM t GROUP BY source""")
    body = "\nUNION ALL\n".join(rows)
    return f"""
WITH t AS (SELECT source, CAST(len({TOKS_SQL}) AS BIGINT) AS n FROM documents)
{body}
ORDER BY source, seq_len
"""


PACK_SEQUENCES_ORACLE = f"""
WITH t AS (SELECT doc_id, CAST(len({TOKS_SQL}) AS BIGINT) AS n FROM documents),
c AS (SELECT doc_id, n,
             CAST(SUM(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS end_tok
      FROM t),
s AS (SELECT doc_id, n, end_tok - n AS start_tok, end_tok FROM c WHERE n > 0),
e AS (SELECT doc_id, start_tok, end_tok, q AS seq_id
      FROM s, UNNEST(generate_series(start_tok // {SEQ_LEN},
                                     (end_tok - 1) // {SEQ_LEN})) u(q))
SELECT seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(LEAST(end_tok, (seq_id + 1) * {SEQ_LEN})
                - GREATEST(start_tok, seq_id * {SEQ_LEN})) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN start_tok >= seq_id * {SEQ_LEN} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_heads
FROM e GROUP BY seq_id ORDER BY seq_id
"""


# ---------------------------------------------------------------------------
# Global corpus shuffle → training shards
# ---------------------------------------------------------------------------

SHARD_SIZE = 64


def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle cut into fixed 64-doc training
    shards (operators/packing.py:global_shuffle_shards), reported as a
    per-shard manifest: doc/token counts, the shard's hash-space
    boundaries, and a SUM(doc_id * rank) checksum that pins every single
    row's shard assignment (any misplaced rank breaks the hash match).

    100 TB shape: one TeraSort-style range partition for the global rank
    (distributed prefix sum, no single-partition window); the manifest
    aggregation is bounded by the shard count."""
    from direct_spark_sql_spark.operators.packing import global_shuffle_shards

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    assigned = global_shuffle_shards(d, "doc_id", SHARD_SIZE)
    return (
        assigned.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum(F.col("doc_id") * F.col("rank")).cast("long").alias("assign_checksum"),
            F.min("shuffle_key").alias("lo_hash"),
            F.max("shuffle_key").alias("hi_hash"),
        )
        .orderBy("shard_id")
    )


SHUFFLE_SHARDS_ORACLE = f"""
WITH t AS (SELECT doc_id, CAST(len({TOKS_SQL}) AS BIGINT) AS n_tokens,
                  {h64_sql('doc_id')} AS shuffle_key
           FROM documents),
r AS (SELECT *, CAST(ROW_NUMBER() OVER (
                  ORDER BY shuffle_key, CAST(doc_id AS VARCHAR)) AS BIGINT)
                  AS rank
      FROM t)
SELECT CAST((rank - 1) // {SHARD_SIZE} AS BIGINT) AS shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(doc_id * rank) AS BIGINT) AS assign_checksum,
       CAST(MIN(shuffle_key) AS BIGINT) AS lo_hash,
       CAST(MAX(shuffle_key) AS BIGINT) AS hi_hash
FROM r GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Video frame sampling (real Y4M codec)
# ---------------------------------------------------------------------------

def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode deterministic Y4M video streams executor-side, then DECODE
    them with the real stdlib parser and sample every 2nd frame with luma
    stats.  The oracle recomputes every value from the pixel formula, so a
    parser bug (header tokens, plane sizes, frame walk) breaks the hash
    match — the video third of the image/audio/video real-decode triad."""
    from direct_spark_sql_spark.operators import multimodal as mm

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return mm.sample_video_frames(mm.synthesize_videos(d), every_k=2).orderBy(
        "doc_id", "frame_idx"
    )


VIDEO_FRAMES_ORACLE = """
WITH d AS (
  SELECT doc_id,
         4 + 2 * (doc_id % 5) AS w,
         4 + 2 * (doc_id % 4) AS h,
         3 + doc_id % 4 AS n
  FROM documents WHERE doc_id < 100),
f AS (SELECT d.*, fr.f FROM d JOIN generate_series(0, 6) fr(f) ON fr.f < d.n
      WHERE fr.f % 2 = 0),
px AS (
  SELECT f.doc_id, f.f, f.w, f.h,
         (x.x * 3 + y.y * 7 + f.f * 11 + f.doc_id * 13) % 256 AS v
  FROM f
  JOIN generate_series(0, 12) x(x) ON x.x < f.w
  JOIN generate_series(0, 10) y(y) ON y.y < f.h)
SELECT doc_id,
       CAST(f AS INT) AS frame_idx,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(SUM(v) AS BIGINT) AS luma_sum,
       CAST(MIN(v) AS INT) AS luma_min,
       CAST(MAX(v) AS INT) AS luma_max
FROM px GROUP BY doc_id, f, w, h
ORDER BY doc_id, frame_idx
"""


# ---------------------------------------------------------------------------
# Quantized two-stage ANN
# ---------------------------------------------------------------------------

def embedding_quantized_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from direct_spark_sql_spark.operators.similarity import quantized_rerank_topk

    e = load_table(spark, sf_dir, "embeddings")
    query = e.filter(F.col("vec_id") == 0)
    return quantized_rerank_topk(
        e.filter(F.col("vec_id") != 0), query, shortlist=50, k=10
    )


QUANTIZED_RERANK_ORACLE = """
WITH base AS (
  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xd
  FROM embeddings),
meta AS (SELECT vec_id, xd, list_min(xd) AS mn, list_max(xd) AS mx FROM base),
cx AS (
  SELECT vec_id, i,
         CASE WHEN mx = mn THEN 0
              ELSE CAST(floor((xd[i] - mn) * 254.0 / (mx - mn) + 0.5) AS BIGINT) - 127
         END AS c
  FROM meta, UNNEST(generate_series(1, len(xd))) t(i)),
qc AS (SELECT i, c FROM cx WHERE vec_id = 0),
s1 AS (SELECT cx.vec_id, CAST(SUM(cx.c * qc.c) AS BIGINT) AS approx_score
       FROM cx JOIN qc USING (i) WHERE cx.vec_id <> 0 GROUP BY cx.vec_id),
short AS (SELECT * FROM s1 ORDER BY approx_score DESC, vec_id LIMIT 50),
ex AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(12,9)) AS a
  FROM embeddings),
q2 AS (SELECT i, a AS b FROM ex WHERE vec_id = 0),
d AS (
  SELECT ex.vec_id,
         CAST(CAST(ROUND(SUM(ex.a * q2.b), 6) AS DECIMAL(24,6)) AS DOUBLE) AS dot,
         CAST(CAST(ROUND(SUM(ex.a * ex.a), 6) AS DECIMAL(24,6)) AS DOUBLE) AS na,
         CAST(CAST(ROUND(SUM(q2.b * q2.b), 6) AS DECIMAL(24,6)) AS DOUBLE) AS nb
  FROM ex JOIN q2 ON ex.i = q2.i
  WHERE ex.vec_id IN (SELECT vec_id FROM short)
  GROUP BY ex.vec_id)
SELECT d.vec_id, s.approx_score, CASE WHEN d.na > 0 AND d.nb > 0
       THEN d.dot / (sqrt(d.na) * sqrt(d.nb)) ELSE -2.0 END AS cosine
FROM d JOIN short s ON s.vec_id = d.vec_id
ORDER BY cosine DESC, d.vec_id LIMIT 10
"""


def embedding_sq8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-aware int8 two-stage ANN (faiss SQ8 shape): symmetric
    max-abs codes whose per-vector scales factor out of the dot, so the
    coarse score is a TRUE dot estimate (operators/similarity.py:
    sq8_rerank_topk) — the upgrade path the min-max proxy variant
    documents; exact guarded-cosine rerank on the 50-row shortlist."""
    from direct_spark_sql_spark.operators.similarity import sq8_rerank_topk

    e = load_table(spark, sf_dir, "embeddings")
    query = e.filter(F.col("vec_id") == 0)
    return sq8_rerank_topk(e.filter(F.col("vec_id") != 0), query, shortlist=50, k=10)


SQ8_RERANK_ORACLE = """
WITH base AS (
  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xd
  FROM embeddings),
meta AS (SELECT vec_id, xd,
                GREATEST(list_max(xd), -list_min(xd)) AS maxabs
         FROM base),
cx AS (
  SELECT vec_id, maxabs, i,
         CASE WHEN maxabs = 0 THEN 0
              ELSE CAST(floor(xd[i] * 127.0 / maxabs + 0.5) AS BIGINT)
         END AS c
  FROM meta, UNNEST(generate_series(1, len(xd))) t(i)),
qc AS (SELECT i, c, maxabs AS qma FROM cx WHERE vec_id = 0),
s1 AS (SELECT cx.vec_id,
              ((ANY_VALUE(cx.maxabs) / 127.0) * (ANY_VALUE(qc.qma) / 127.0))
                * CAST(CAST(SUM(cx.c * qc.c) AS BIGINT) AS DOUBLE) AS approx_dot
       FROM cx JOIN qc USING (i) WHERE cx.vec_id <> 0 GROUP BY cx.vec_id),
short AS (SELECT * FROM s1 ORDER BY approx_dot DESC, vec_id LIMIT 50),
ex AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(12,9)) AS a
  FROM embeddings),
q2 AS (SELECT i, a AS b FROM ex WHERE vec_id = 0),
d AS (
  SELECT ex.vec_id,
         CAST(CAST(ROUND(SUM(ex.a * q2.b), 6) AS DECIMAL(24,6)) AS DOUBLE) AS dot,
         CAST(CAST(ROUND(SUM(ex.a * ex.a), 6) AS DECIMAL(24,6)) AS DOUBLE) AS na,
         CAST(CAST(ROUND(SUM(q2.b * q2.b), 6) AS DECIMAL(24,6)) AS DOUBLE) AS nb
  FROM ex JOIN q2 ON ex.i = q2.i
  WHERE ex.vec_id IN (SELECT vec_id FROM short)
  GROUP BY ex.vec_id)
SELECT d.vec_id, s.approx_dot, CASE WHEN d.na > 0 AND d.nb > 0
       THEN d.dot / (sqrt(d.na) * sqrt(d.nb)) ELSE -2.0 END AS cosine
FROM d JOIN short s ON s.vec_id = d.vec_id
ORDER BY cosine DESC, d.vec_id LIMIT 10
"""


# ---------------------------------------------------------------------------
# Domain-weighted mixing
# ---------------------------------------------------------------------------

MIX_WEIGHTS = {"src0": 0.9, "src1": 0.9, "src2": 0.9, "src3": 0.5, "src4": 0.5}
MIX_DEFAULT = 0.2


def sample_domain_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    kept = sp.domain_weighted_sample(
        d, key="doc_id", domain="source", weights=MIX_WEIGHTS, default_weight=MIX_DEFAULT
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.min("doc_id").cast("long").alias("min_doc"),
            F.max("doc_id").cast("long").alias("max_doc"),
        )
        .orderBy("source")
    )


def _mix_oracle() -> str:
    return f"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(min(doc_id) AS BIGINT) AS min_doc,
       CAST(max(doc_id) AS BIGINT) AS max_doc
FROM documents
WHERE {_mix_predicate_sql()}
GROUP BY source ORDER BY source
"""




# ---------------------------------------------------------------------------
# DSIR importance resampling (Xie et al. 2023) and UniMax language-budget
# allocation (Chung et al. 2023) — the two data-mixing primitives real
# pretraining pipelines run between dedup and packing.
# ---------------------------------------------------------------------------

#: DSIR operating point: src0 is the "target domain" slice, weights over
#: hashed unigram+bigram features in 1024 buckets (small enough that real
#: hash collisions occur at every test scale — both engines mirror them).
DSIR_TARGET_SOURCE = "src0"
DSIR_BUCKETS = 1024


def sample_dsir_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus documents by DSIR importance weight against the
    src0 target slice — the selection DSIR resamples from.  The exact
    BIGINT fixed-point weight (logw_units) is the ranking and
    comparison key; ties break on doc_id.  See
    operators/sampling.py:dsir_log_weights for the 100 TB shape
    (bucket-capped aggs, broadcast λ dim, no corpus-text shuffle)."""
    d = load_table(spark, sf_dir, "documents")
    # target = one source of the SAME corpus: pass target ids so the λ fit
    # derives the target's bucket counts from the corpus per-(doc, bucket)
    # counts instead of tokenizing the slice a second time (bit-identical
    # integers; operators/sampling.py round-13 fast path).
    w = sp.dsir_log_weights(
        d.select("doc_id", "text"),
        None,
        n_buckets=DSIR_BUCKETS,
        target_ids=d.filter(F.col("source") == DSIR_TARGET_SOURCE).select("doc_id"),
    )
    return (
        w.join(d.select("doc_id", "source"), "doc_id")
        .select("doc_id", "source", "n_feats", "logw_units", "log_weight")
        .orderBy(F.desc("logw_units"), "doc_id")
        .limit(20)
    )


def sample_dsir_source_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source DSIR distribution shift: mean log importance weight of
    each source against the src0 target — the corpus-level readout of
    which sources already resemble the target domain (the number DSIR's
    selection curves are drawn from).  Integer unit sums, one final
    division."""
    d = load_table(spark, sf_dir, "documents")
    # target = one source of the SAME corpus: pass target ids so the λ fit
    # derives the target's bucket counts from the corpus per-(doc, bucket)
    # counts instead of tokenizing the slice a second time (bit-identical
    # integers; operators/sampling.py round-13 fast path).
    w = sp.dsir_log_weights(
        d.select("doc_id", "text"),
        None,
        n_buckets=DSIR_BUCKETS,
        target_ids=d.filter(F.col("source") == DSIR_TARGET_SOURCE).select("doc_id"),
    )
    return (
        w.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_scored"),
            F.sum("logw_units").cast("long").alias("logw_units_total"),
            (
                F.sum("logw_units").cast("double")
                / F.count(F.lit(1)).cast("double")
                / F.lit(sp.DSIR_LOG_UNITS)
            ).alias("avg_log_weight"),
        )
        .orderBy("source")
    )


def _dsir_ctes() -> str:
    """Shared DuckDB prefix ending in ``w`` (doc_id, n_feats,
    logw_units) — the twin of dsir_log_weights at the registered
    operating point."""
    b = DSIR_BUCKETS
    return f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
uni AS (SELECT doc_id, tok AS f FROM t, UNNEST(toks) u(tok)),
bi AS (SELECT doc_id, toks[s + 1] || ' ' || toks[s + 2] AS f
       FROM (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 2) d,
            UNNEST(generate_series(0, n - 2)) u(s)),
feat AS (SELECT doc_id, {h64_sql('f')} % {b} AS bk
         FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
ct AS (SELECT bk, CAST(COUNT(*) AS BIGINT) AS ct
       FROM feat JOIN documents USING (doc_id)
       WHERE source = '{DSIR_TARGET_SOURCE}' GROUP BY bk),
cr AS (SELECT bk, CAST(COUNT(*) AS BIGINT) AS cr FROM feat GROUP BY bk),
tt AS (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) AS tt FROM ct),
tr AS (SELECT CAST(COALESCE(SUM(cr), 0) AS BIGINT) AS tr FROM cr),
sp AS (SELECT UNNEST(generate_series(0, {b - 1})) AS bk),
lam AS (SELECT sp.bk,
          CAST(FLOOR(LN(((CAST(COALESCE(ct.ct, 0) AS DOUBLE) + 1.0)
                         / (CAST(tt AS DOUBLE) + {float(b)}))
                        / ((CAST(COALESCE(cr.cr, 0) AS DOUBLE) + 1.0)
                           / (CAST(tr AS DOUBLE) + {float(b)})))
                     * 100000000.0 + 0.5) AS BIGINT) AS lam
        FROM sp LEFT JOIN cr ON sp.bk = cr.bk LEFT JOIN ct ON sp.bk = ct.bk
        CROSS JOIN tt CROSS JOIN tr),
w AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
             CAST(SUM(lam) AS BIGINT) AS logw_units
      FROM feat JOIN lam USING (bk) GROUP BY doc_id)"""


DSIR_TOPK_ORACLE = _dsir_ctes() + """
SELECT w.doc_id, d.source, n_feats, logw_units,
       CAST(logw_units AS DOUBLE) / 100000000.0 AS log_weight
FROM w JOIN documents d USING (doc_id)
ORDER BY logw_units DESC, doc_id LIMIT 20
"""

DSIR_SOURCE_SHIFT_ORACLE = _dsir_ctes() + """
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs_scored,
       CAST(SUM(logw_units) AS BIGINT) AS logw_units_total,
       CAST(SUM(logw_units) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         / 100000000.0 AS avg_log_weight
FROM w JOIN documents d USING (doc_id)
GROUP BY d.source ORDER BY d.source
"""


#: UniMax operating point: 1-epoch cap, budget = 80% of total corpus
#: tokens — at the testdata's zipfian lang mix this caps the small
#: languages at a full epoch AND budget-bounds `en`, so both branches of
#: the waterfill are oracle-exercised at every scale factor.
UNIMAX_EPOCH_CAP = 1


def corpus_unimax_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax token-budget allocation across languages (Chung et al.
    2023): every language repeated at most UNIMAX_EPOCH_CAP epochs,
    leftover budget shared equally among the uncapped large languages —
    the fairness rule that replaces temperature sampling.  The heavy
    step is one map-side-combinable per-lang token agg; the waterfill
    itself runs on the bounded language dim (see
    operators/sampling.py:unimax_allocation)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    # Round 13 (guide §7.2 duplicated subtrees): the budget total is a
    # window SUM over the ≤|langs|-row counts frame instead of a separate
    # agg + crossJoin — the crossJoin's broadcast subplan duplicated the
    # whole tokenize+agg chain, re-running the corpus token scan (the
    # query's entire cost) a second time.  The window keys the bounded
    # lang dim into one task — exactly where the waterfill already runs —
    # so the heavy scan executes ONCE and the budget arithmetic is the
    # same exact BIGINT sum (order-independent), bit-identical output.
    counts = d.groupBy(F.col("lang").alias("domain")).agg(
        F.sum(F.size(tokens("text"))).cast("long").alias("n_tokens")
    )
    whole = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    with_total = counts.withColumn(
        "__total", F.sum("n_tokens").over(whole).cast("long")
    )
    return sp.unimax_allocation(
        with_total,
        F.expr("(__total * 8) div 10"),
        UNIMAX_EPOCH_CAP,
    ).orderBy("domain")


UNIMAX_MIX_ORACLE = f"""
WITH c AS (SELECT lang AS domain,
                  CAST(SUM(len({TOKS_SQL})) AS BIGINT) AS n_tokens
           FROM documents GROUP BY lang),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM c),
r AS (SELECT domain, n_tokens,
             CAST({UNIMAX_EPOCH_CAP} * n_tokens AS BIGINT) AS cap_tokens,
             (tot.total * 8) // 10 AS budget,
             ROW_NUMBER() OVER (ORDER BY {UNIMAX_EPOCH_CAP} * n_tokens, domain)
               AS i,
             COUNT(*) OVER () AS L,
             CAST(COALESCE(SUM({UNIMAX_EPOCH_CAP} * n_tokens) OVER (
                    ORDER BY {UNIMAX_EPOCH_CAP} * n_tokens, domain
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS prefix
      FROM c, tot),
s AS (SELECT *, GREATEST(CAST(0 AS BIGINT),
                         (budget - prefix) // (L - i + 1)) AS share FROM r),
k AS (SELECT *, MIN(CASE WHEN cap_tokens > share THEN i END) OVER () AS kstar
      FROM s),
f AS (SELECT *, MAX(CASE WHEN i = kstar THEN share END) OVER () AS s_star
      FROM k),
a AS (SELECT domain, n_tokens, cap_tokens,
             CAST(CASE WHEN kstar IS NULL OR i < kstar THEN cap_tokens
                       ELSE s_star END AS BIGINT) AS alloc_tokens,
             (kstar IS NOT NULL AND i >= kstar) AS budget_bound
      FROM f)
SELECT domain, n_tokens, cap_tokens, alloc_tokens, budget_bound,
       CASE WHEN n_tokens > 0 THEN
         CAST(alloc_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)
       END AS epochs
FROM a ORDER BY domain
"""


# ---------------------------------------------------------------------------
# Market-basket pair affinity (support / lift)
# ---------------------------------------------------------------------------

BASKET_MIN_PAIRS = 2
BASKET_TOP_K = 40


def basket_brand_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brands co-purchased within an order, ranked by lift.

    The association-rule / co-occurrence-mining shape (reference exposes
    the same statistic family through its aggregate pipeline; here the
    basket key is o_orderkey and the item is p_brand — 25 distinct items,
    so the pair space is bounded at C(25,2) regardless of data volume).
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(pt, li.l_partkey == pt.p_partkey).select(
        F.col("l_orderkey").alias("basket"), F.col("p_brand").alias("item")
    )
    return an.basket_affinity(
        baskets, "basket", "item",
        min_pair_baskets=BASKET_MIN_PAIRS, top_k=BASKET_TOP_K,
    )


BASKET_AFFINITY_ORACLE = f"""
WITH ob AS (SELECT DISTINCT l.l_orderkey AS bk, p.p_brand AS item
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
pc AS (SELECT a.item AS item_a, b.item AS item_b,
              CAST(count(*) AS BIGINT) AS pair_baskets
       FROM ob a JOIN ob b ON a.bk = b.bk AND a.item < b.item
       GROUP BY 1, 2
       HAVING count(*) >= {BASKET_MIN_PAIRS}),
ic AS (SELECT item, CAST(count(*) AS BIGINT) AS item_baskets FROM ob GROUP BY item),
tot AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) AS n_baskets FROM ob)
SELECT item_a, item_b, pair_baskets,
       CAST(pair_baskets AS DOUBLE) / CAST(n_baskets AS DOUBLE) AS support,
       CAST(pair_baskets AS DOUBLE) * CAST(n_baskets AS DOUBLE)
         / (CAST(ia.item_baskets AS DOUBLE) * CAST(ib.item_baskets AS DOUBLE)) AS lift
FROM pc JOIN ic ia ON ia.item = pc.item_a
        JOIN ic ib ON ib.item = pc.item_b
        CROSS JOIN tot
ORDER BY lift DESC, item_a, item_b LIMIT {BASKET_TOP_K}
"""


# ---------------------------------------------------------------------------
# PSI distribution drift (training-data monitoring)
# ---------------------------------------------------------------------------

PSI_BIN_W = 8


def quality_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count distribution drift between two deterministic corpus halves.

    The population-stability-index monitor every recurring-ingest training
    pipeline runs: slice A (reference) vs slice B (current), binned
    token-count histograms, per-bin PSI contributions and the exact total.
    The halves are split by MD5 parity of doc_id so both engines agree.

    One corpus pass (r13): both halves come from the same scan, so the
    merged (bin, n_ref, n_cur) frame is ONE groupBy with conditional
    counts — identical BIGINTs to the old per-half aggregate + full-outer
    join (a bin appears iff either half has a row in it), at half the
    scan/tokenize cost and no join.
    """
    from direct_spark_sql_spark.hashing import h64

    d = load_table(spark, sf_dir, "documents")
    binned = d.select(
        (h64(F.col("doc_id")) % 2).alias("half"),
        F.floor(F.size(tokens("text")) / F.lit(PSI_BIN_W)).cast("long").alias("bin"),
    )
    # h64 is a 60-bit NON-NEGATIVE integer (hashing.py), so half ∈ {0, 1}
    # exhaustively — n_ref + n_cur covers every row and the bin set is
    # identical to the old per-half union.
    merged = (
        binned.groupBy("bin")
        .agg(
            F.count(F.when(F.col("half") == 0, 1)).cast("long").alias("n_ref"),
            F.count(F.when(F.col("half") == 1, 1)).cast("long").alias("n_cur"),
        )
    )
    return an.psi_from_merged(merged)


PSI_DRIFT_ORACLE = f"""
WITH t AS (SELECT doc_id, len({TOKS_SQL}) AS ntok FROM documents),
b AS (SELECT {h64_sql('doc_id')} % 2 AS half,
             CAST(ntok // {PSI_BIN_W} AS BIGINT) AS bin FROM t),
m AS (SELECT bin,
             CAST(count(*) FILTER (WHERE half = 0) AS BIGINT) AS n_ref,
             CAST(count(*) FILTER (WHERE half = 1) AS BIGINT) AS n_cur
      FROM b GROUP BY bin),
tot AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS tot_ref,
               CAST(SUM(n_cur) AS BIGINT) AS tot_cur,
               CAST(count(*) AS BIGINT) AS n_bins FROM m),
u AS (SELECT bin, n_ref, n_cur,
             CAST(FLOOR((pc - pr) * LN(pc / pr) * {an.PSI_SNAP} + 0.5) AS BIGINT)
               AS psi_units
      FROM (SELECT bin, n_ref, n_cur,
                   (CAST(n_ref AS DOUBLE) + 1.0)
                     / (CAST(tot_ref AS DOUBLE) + CAST(n_bins AS DOUBLE)) AS pr,
                   (CAST(n_cur AS DOUBLE) + 1.0)
                     / (CAST(tot_cur AS DOUBLE) + CAST(n_bins AS DOUBLE)) AS pc
            FROM m CROSS JOIN tot))
SELECT bin, n_ref, n_cur,
       CAST(psi_units AS DOUBLE) / {an.PSI_SNAP} AS psi_contrib,
       CAST(SUM(psi_units) OVER () AS DOUBLE) / {an.PSI_SNAP} AS psi_total
FROM u ORDER BY bin
"""


QUERIES: list[Query] = [
    Query(
        name="basket_brand_affinity",
        spark_fn=basket_brand_affinity,
        oracle=BASKET_AFFINITY_ORACLE,
        tags=("analytics", "join"),
        bench=True,
        doc="market-basket brand-pair support/lift via exchange-reused "
            "self-equi-join on the basket key (bounded C(25,2) pair space)",
    ),
    Query(
        name="quality_psi_drift",
        spark_fn=quality_psi_drift,
        oracle=PSI_DRIFT_ORACLE,
        tags=("analytics", "quality"),
        bench=True,
        doc="population-stability-index drift between corpus halves; "
            "snapped-ln per-bin contributions, exact integer-unit total",
    ),
    Query(
        name="events_funnel",
        spark_fn=events_funnel,
        oracle=_funnel_oracle(),
        tags=("analytics", "events"),
        doc="ordered-stage funnel via one collect_list + HOF stage machine (no self-joins)",
    ),
    Query(
        name="events_retention",
        spark_fn=events_retention,
        oracle=RETENTION_ORACLE,
        tags=("analytics", "events"),
        doc="weekly cohort retention matrix with week-0-relative percentages",
    ),
    Query(
        name="dedup_exact_substring",
        spark_fn=dedup_exact_substring,
        oracle=EXACT_SUBSTRING_ORACLE,
        tags=("dedup", "text"),
        doc="cross-document duplicated token spans via rolling w-gram windows",
    ),
    Query(
        name="dedup_exact_substring_economics",
        spark_fn=dedup_exact_substring_economics,
        oracle=EXACT_SUBSTRING_ECONOMICS_ORACLE,
        tags=("dedup", "text"),
        doc="ExactSubstr duplication economics per source: docs with "
            "duplicated spans, tokens inside them, duplicated-token "
            "fraction over ALL source tokens (paper definition; clean "
            "sources report zeros) — unhinted doc_id equi-join, AQE "
            "decides the strategy from the rollup's measured size",
    ),
    Query(
        name="dedup_exact_substring_spans",
        spark_fn=dedup_exact_substring_spans,
        oracle=EXACT_SUBSTRING_SPANS_ORACLE,
        tags=("dedup", "text"),
        doc="ExactSubstr self-dedup spans (Lee et al.): per-doc maximal "
            "token-offset spans of 8-gram windows occurring >=2x anywhere "
            "in the corpus — the excisable-span form; gram-keyed hash agg "
            "+ semi-join, doc-partitioned islands merge",
    ),
    Query(
        name="dedup_exact_substring_spans_capped",
        spark_fn=dedup_exact_substring_spans_capped,
        oracle=EXACT_SUBSTRING_SPANS_CAPPED_ORACLE,
        tags=("dedup", "text", "skew"),
        doc="span report with the stop-gram df cap (frequency band "
            "2..cap): hot grams broadcast-anti-joined map-side before "
            "the shuffle, so no gram key exceeds cap rows — the "
            "provably-unskewed 100 TB form of the span family",
    ),
    Query(
        name="dedup_exact_substring_spans_len50",
        spark_fn=dedup_exact_substring_spans_len50,
        oracle=EXACT_SUBSTRING_SPANS_LEN50_ORACLE,
        tags=("dedup", "text"),
        doc="span report at Lee et al.'s excision operating point: only "
            "maximal duplicated spans of >= 50 tokens survive — post-merge "
            "length filter over the 8-gram-seeded islands",
    ),
    Query(
        name="dedup_exact_substring_economics_len50",
        spark_fn=dedup_exact_substring_economics_len50,
        oracle=EXACT_SUBSTRING_ECONOMICS_LEN50_ORACLE,
        tags=("dedup", "text"),
        doc="per-source excised-token sizing at the len-50 operating point, "
            "reported alongside the len-8 economics",
    ),
    Query(
        name="dedup_exact_substring_sa",
        spark_fn=dedup_exact_substring_sa,
        oracle=EXACT_SUBSTRING_SA_ORACLE,
        tags=("dedup", "text"),
        doc="ExactSubstr via TRUE distributed suffix array: prefix-doubling "
            "ranks + SA-neighbor LCP descent + per-position dup_len; exact "
            "49/50 boundary at the paper's len-50 point; oracle is the "
            "independent 50-gram coverage formulation (covering theorem)",
    ),
    Query(
        name="tfidf_cosine_pairs",
        spark_fn=tfidf_cosine_pairs,
        oracle=TFIDF_PAIRS_ORACLE,
        tags=("similarity", "text"),
        doc="sparse TF-IDF cosine pairs via df-capped inverted-index join",
    ),
    Query(
        name="text_bpe_merge_candidates",
        spark_fn=text_bpe_merge_candidates,
        oracle=BPE_PAIRS_ORACLE,
        tags=("text",),
        doc="adjacent-token-pair frequencies (one BPE merge round's candidate scores)",
    ),
    Query(
        name="agg_group_by_all",
        spark_fn=agg_group_by_all,
        oracle=GROUP_BY_ALL_SQL,
        tags=("agg", "sql"),
        doc="GROUP BY ALL / ORDER BY ALL sugar (identical text both engines)",
    ),
    Query(
        name="table_checksum_orders",
        spark_fn=table_checksum_orders,
        oracle=_checksum_oracle(),
        tags=("integrity",),
        doc="order-independent whole-table checksum (migration/copy validator)",
    ),
    Query(
        name="agg_null_semantics",
        spark_fn=agg_null_semantics,
        oracle=NULL_AGG_SQL,
        tags=("agg", "sql"),
        doc="NULL aggregation contract: COUNT(*) vs COUNT(v), NULL-propagating SUM",
    ),
    Query(
        name="pipeline_pretraining_e2e",
        spark_fn=pipeline_pretraining_e2e,
        oracle=_pretraining_e2e_oracle(),
        tags=("pipeline",),
        doc="lang→quality→dedup→mixing as one lazy DAG with per-source stats",
    ),
    Query(
        name="text_bigram_logprob",
        spark_fn=text_bigram_logprob,
        oracle=BIGRAM_LP_ORACLE,
        tags=("text", "quality"),
        doc="corpus-trained bigram-LM quality scores (perplexity-filter shape)",
    ),
    Query(
        name="events_anomaly_days",
        spark_fn=events_anomaly_days,
        oracle=ANOMALY_DAYS_ORACLE,
        tags=("analytics", "events"),
        doc="daily-volume z-score outliers (ingestion monitoring)",
    ),
    Query(
        name="dedup_containment",
        spark_fn=dedup_containment,
        oracle=_containment_oracle(),
        tags=("dedup", "text"),
        doc="asymmetric shingle containment pairs (subset-duplication detector)",
    ),
    Query(
        name="events_session_paths",
        spark_fn=events_session_paths,
        oracle=SESSION_PATHS_ORACLE,
        tags=("analytics", "events"),
        doc="top event-type paths per inactivity-gap session (flow analysis)",
    ),
    Query(
        name="text_pmi_collocations",
        spark_fn=text_pmi_collocations,
        oracle=PMI_ORACLE,
        tags=("text",),
        doc="PMI-ranked adjacent-pair collocations (phrase-mining statistic)",
    ),
    Query(
        name="text_skipgram_cooccurrence",
        spark_fn=text_skipgram_cooccurrence,
        oracle=SKIPGRAM_ORACLE,
        tags=("text",),
        doc="±2-window skip-gram co-occurrence counts (word2vec/PMI corpus statistic)",
    ),
    Query(
        name="embedding_standardize",
        spark_fn=embedding_standardize,
        oracle=STANDARDIZE_ORACLE,
        tags=("similarity", "embedding"),
        doc="per-dimension z-score standardization with broadcast stats join",
    ),
    Query(
        name="embedding_outlier_scores",
        spark_fn=embedding_outlier_scores,
        oracle=OUTLIER_SCORES_ORACLE,
        tags=("similarity", "embedding", "quality"),
        bench=True,
        doc="diagonal-Mahalanobis outlier screen: mean squared z per "
            "vector (decimal-exact sum), bounded top-25",
    ),
    Query(
        name="events_resample_ffill",
        spark_fn=events_resample_ffill,
        oracle=RESAMPLE_FFILL_ORACLE,
        tags=("analytics", "events"),
        doc="daily gap-filled resample with deterministic forward fill",
    ),
    Query(
        name="events_changepoint_cusum",
        spark_fn=events_changepoint_cusum,
        oracle=CHANGEPOINT_ORACLE,
        tags=("analytics", "events"),
        doc="CUSUM changepoint on daily volume in pure-integer scaled "
            "form (n*S_le - k*S), argmax split day bit-deterministic",
    ),
    Query(
        name="corpus_user_gini",
        spark_fn=corpus_user_gini,
        oracle=USER_GINI_ORACLE,
        tags=("analytics", "quality"),
        doc="Gini concentration of event volume across users from exact "
            "rank sums — the few-heavy-sources curation diagnostic",
    ),
    Query(
        name="events_crosscorr_lags",
        spark_fn=events_crosscorr_lags,
        oracle=XCORR_ORACLE,
        tags=("analytics", "events"),
        doc="lead/lag Pearson cross-correlation between click and "
            "purchase daily series from five integer sums per lag",
    ),
    Query(
        name="events_seasonal_decompose",
        spark_fn=events_seasonal_decompose,
        oracle=SEASONAL_DECOMPOSE_ORACLE,
        tags=("analytics", "events"),
        doc="day-of-week seasonal decomposition: dow-mean component, "
            "residual, snapped-moment residual z — seasonally-adjusted "
            "anomaly signal",
    ),
    Query(
        name="events_resample_interp",
        spark_fn=events_resample_interp,
        oracle=RESAMPLE_INTERP_ORACLE,
        tags=("analytics", "events"),
        doc="daily resample with linear interpolation between anchors, "
            "edge-clamped; IEEE-identical interpolation in both engines",
    ),
    Query(
        name="events_user_trend",
        spark_fn=events_user_trend,
        oracle=TREND_ORACLE,
        tags=("analytics", "events"),
        doc="per-user OLS slope/intercept from exact closed-form sums (no grouped-map UDF)",
    ),
    Query(
        name="join_null_safe_eq",
        spark_fn=join_null_safe_eq,
        oracle=NULL_SAFE_JOIN_ORACLE,
        tags=("join",),
        doc="null-safe equality (<=>) hash join with NULL-matching semantics",
    ),
    Query(
        name="layout_zorder_events",
        spark_fn=layout_zorder_events,
        oracle=_zorder_oracle(),
        tags=("layout",),
        doc="Morton/Z-order clustering: per-bucket (user, day) rectangles",
    ),
    Query(
        name="incremental_rollup_merge",
        spark_fn=incremental_rollup_merge,
        oracle=INCREMENTAL_ROLLUP_ORACLE,
        tags=("merge", "rollup"),
        doc="algebraic materialized-view refresh: base rollup + delta partials, oracle = full recompute",
    ),
    Query(
        name="multimodal_audio_features",
        spark_fn=multimodal_audio_features,
        oracle=AUDIO_FEATURES_ORACLE,
        tags=("multimodal",),
        doc="real WAV encode→decode round-trip (RIFF chunk walk), amplitude-stat oracle",
    ),
    Query(
        name="multimodal_video_dedup",
        spark_fn=multimodal_video_dedup,
        oracle=VIDEO_DEDUP_ORACLE,
        tags=("multimodal", "dedup"),
        doc="perceptual video dedup: real Y4M decode + per-sampled-frame "
            "integer luma aHash packed positionally into one temporal "
            "fingerprint; equal fingerprints = near-dup buckets",
    ),
    Query(
        name="multimodal_audio_dedup",
        spark_fn=multimodal_audio_dedup,
        oracle=AUDIO_DEDUP_ORACLE,
        tags=("multimodal", "dedup"),
        doc="perceptual audio dedup: real decode + 7-bit integer "
            "energy-contour fingerprint over 8 windows, equal "
            "fingerprints = near-dup buckets (equi-groupBy); every "
            "fingerprint oracle-recomputed from the sample formula",
    ),
    Query(
        name="pack_training_sequences",
        spark_fn=pack_training_sequences,
        oracle=PACK_SEQUENCES_ORACLE,
        tags=("text", "packing"),
        doc="concat-then-chunk 512-token sequence packing via distributed prefix sum",
    ),
    Query(
        name="pack_bins_assignment",
        spark_fn=pack_bins_assignment,
        oracle=PACK_BINS_ASSIGNMENT_ORACLE,
        tags=("text", "packing"),
        doc="harmonic whole-document bin packing (Lee & Lee 1985) into "
            "64-token contexts: closed-form (class, rank) assignment via one "
            "distributed prefix-sum rank — doc-level bin assignment, "
            "oversize flagged",
    ),
    Query(
        name="pack_bins_stats",
        spark_fn=pack_bins_stats,
        oracle=PACK_BINS_STATS_ORACLE,
        tags=("text", "packing", "pipeline"),
        doc="per-class packing economics (bins, fill fraction) of the "
            "harmonic assignment",
    ),
    Query(
        name="corpus_packing_efficiency",
        spark_fn=corpus_packing_efficiency,
        oracle=_pack_eff_oracle(),
        tags=("text", "packing", "pipeline"),
        doc="padding-overhead planning report (naive one-doc-per-sequence vs "
            "concat packing) per source at 3 candidate sequence lengths — "
            "all-integer ceil arithmetic, one scan, one groupBy, stack to "
            "long format, no joins",
    ),
    Query(
        name="corpus_shuffle_shards",
        spark_fn=corpus_shuffle_shards,
        oracle=SHUFFLE_SHARDS_ORACLE,
        tags=("sampling", "packing", "pipeline"),
        doc="deterministic global corpus shuffle cut into 64-doc training "
            "shards; per-shard manifest with an assignment-pinning checksum "
            "(TeraSort-style range partition + distributed prefix sum)",
    ),
    Query(
        name="multimodal_video_frames",
        spark_fn=multimodal_video_frames,
        oracle=VIDEO_FRAMES_ORACLE,
        tags=("multimodal",),
        doc="real Y4M encode→decode→frame-sample round-trip, luma-stat oracle",
    ),
    Query(
        name="embedding_quantized_rerank",
        spark_fn=embedding_quantized_rerank,
        oracle=QUANTIZED_RERANK_ORACLE,
        tags=("similarity", "embedding"),
        doc="two-stage ANN: int8 coarse shortlist, exact decimal-cosine rerank",
    ),
    Query(
        name="embedding_sq8_rerank",
        spark_fn=embedding_sq8_rerank,
        oracle=SQ8_RERANK_ORACLE,
        tags=("similarity", "embedding"),
        doc="scale-aware SQ8 two-stage ANN: symmetric max-abs codes, "
            "scales factor out of the dot (true dot estimate), exact rerank",
    ),
    Query(
        name="sample_domain_weighted",
        spark_fn=sample_domain_weighted,
        oracle=_mix_oracle(),
        tags=("sampling",),
        doc="deterministic domain-weighted data mixing (hash-salted per domain)",
    ),
    Query(
        name="sample_dsir_topk",
        spark_fn=sample_dsir_topk,
        oracle=DSIR_TOPK_ORACLE,
        tags=("sampling", "text"),
        doc="DSIR importance resampling (Xie et al. 2023): top-20 docs by "
            "hashed unigram+bigram log importance weight vs the src0 "
            "target slice; exact BIGINT fixed-point ranking key",
    ),
    Query(
        name="sample_dsir_source_shift",
        spark_fn=sample_dsir_source_shift,
        oracle=DSIR_SOURCE_SHIFT_ORACLE,
        tags=("sampling", "text"),
        bench=True,
        doc="per-source mean DSIR log importance weight vs the src0 "
            "target — which sources already resemble the target domain; "
            "bucket-capped aggs + broadcast lambda dim",
    ),
    Query(
        name="corpus_unimax_mix",
        spark_fn=corpus_unimax_mix,
        oracle=UNIMAX_MIX_ORACLE,
        tags=("sampling", "corpus"),
        bench=True,
        doc="UniMax budget allocation (Chung et al. 2023): epoch-capped "
            "waterfill of a token budget across languages — closed-form "
            "windows over the bounded language dim; both cap and "
            "budget-bound branches exercised at the registered operating "
            "point",
    ),
]
