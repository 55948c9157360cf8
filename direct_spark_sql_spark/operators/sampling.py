"""Deterministic sampling and corpus statistics.

Random-number sampling (``df.sample``/``sampleBy``) is seed-deterministic
only within one engine — no oracle can replay it.  Training-data pipelines
want *hash* sampling anyway: membership is a pure function of the row key,
so re-runs, backfills, and incremental loads select the same rows, and
train/eval splits never leak when the corpus is re-partitioned.

All operators are single-pass, map-only or one-aggregation shapes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from direct_spark_sql_spark.hashing import h64
from direct_spark_sql_spark.operators.text import tokens

#: hash-bucket space for sampling rates (1e4 → 0.01% rate granularity)
SAMPLE_BUCKETS = 10_000

#: Width of the stand-in external-benchmark slice used by the whole
#: decontamination family (top 2% of the h64 bucket space): ONE constant
#: ties the five Spark predicates and every oracle literal together so
#: the slice can never drift between engines or queries (review r8 #7).
BENCH_SLICE_BUCKETS = 200
#: First bucket of the benchmark slice — `bucket >= BENCH_SLICE_START`
#: is the membership predicate; oracles interpolate the same number.
BENCH_SLICE_START = SAMPLE_BUCKETS - BENCH_SLICE_BUCKETS


def sample_bucket(key: Column | str) -> Column:
    """Stable bucket in [0, SAMPLE_BUCKETS) from the row key."""
    return h64(key) % SAMPLE_BUCKETS


def hash_sample(df: DataFrame, key: str, rate: float) -> DataFrame:
    """Keep ~rate of rows, deterministically by key hash."""
    return df.filter(sample_bucket(F.col(key)) < int(rate * SAMPLE_BUCKETS))


def hash_split(df: DataFrame, key: str, eval_rate: float = 0.1) -> DataFrame:
    """Disjoint train/eval split as a labeled column — the leak-proof
    split: membership depends only on the key."""
    return df.withColumn(
        "split",
        F.when(
            sample_bucket(F.col(key)) < int(eval_rate * SAMPLE_BUCKETS), "eval"
        ).otherwise("train"),
    )


def stratified_hash_sample(
    df: DataFrame, key: str, stratum: str, rates: dict[str, float]
) -> DataFrame:
    """Per-stratum hash sampling (e.g. downsample dominant languages).
    Strata absent from ``rates`` are dropped — the curation semantic."""
    rate_col = None
    for value, rate in sorted(rates.items()):
        cond = F.col(stratum) == value
        bound = F.lit(int(rate * SAMPLE_BUCKETS))
        rate_col = F.when(cond, bound) if rate_col is None else rate_col.when(cond, bound)
    rate_col = rate_col.otherwise(F.lit(0))
    return df.filter(sample_bucket(F.col(key)) < rate_col)


def vocabulary(
    df: DataFrame, text_col: str = "text", min_df: int = 2
) -> DataFrame:
    """Corpus vocabulary: per-token total frequency and document frequency.
    One explode + one aggregation; both counts map-side combine.  The
    standard first pass of tokenizer/vocab construction.

    Examined r13, deliberately left two-pass: a single-pass rewrite
    (explode once → (token, doc) grain agg → per-token rollup) was
    measured 0.30 → 0.42 s at sf0.1 AND shuffles strictly more bytes at
    scale — both branches here collapse map-side BELOW the (token, doc)
    grain (tf to per-partition token partials, df likewise), so the
    extra scan is cheaper than the grain shuffle the "one-pass" form
    pays.  Two scans + two tiny shuffles beats one scan + one
    corpus-proportional shuffle.
    """
    tok = df.select(F.explode(tokens(text_col)).alias("token"), F.lit(1).alias("one"))
    return (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .join(
            df.select(F.explode(F.array_distinct(tokens(text_col))).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("df")),
            "token",
        )
        .filter(F.col("df") >= min_df)
    )


def domain_weighted_sample(
    df: DataFrame,
    key: str,
    domain: str,
    weights: dict[str, float],
    default_weight: float = 0.0,
) -> DataFrame:
    """Data-mixing resample: keep each row with its domain's probability,
    deterministically by (domain, key) hash — the mixture-weights step of
    corpus assembly (e.g. upweight curated sources, downsample crawl).

    Unlike :func:`stratified_hash_sample`, unlisted domains get
    ``default_weight`` rather than being dropped, and the hash is salted
    with the domain so the same key is an independent draw in each domain.
    Map-only, no shuffle; membership survives repartitioning/backfills.
    """
    rate_col = None
    for value, rate in sorted(weights.items()):
        cond = F.col(domain) == value
        bound = F.lit(int(rate * SAMPLE_BUCKETS))
        rate_col = F.when(cond, bound) if rate_col is None else rate_col.when(cond, bound)
    rate_col = (
        F.lit(int(default_weight * SAMPLE_BUCKETS))
        if rate_col is None
        else rate_col.otherwise(F.lit(int(default_weight * SAMPLE_BUCKETS)))
    )
    bucket = h64(F.concat_ws(":", F.col(domain), F.col(key))) % SAMPLE_BUCKETS
    return df.filter(bucket < rate_col)


def temperature_weighted_sample(
    df: DataFrame,
    key: str,
    domain: str,
    alpha: float = 0.7,
    target_rows: int = 1000,
) -> DataFrame:
    """Temperature-scaled mixture resampling: domain sampling probabilities
    ∝ n_d^alpha (the standard multilingual/multi-source rebalancing rule —
    alpha < 1 flattens the distribution toward rare domains), scaled so the
    expected kept total is ``target_rows`` and clamped at keep-everything.

    Unlike :func:`domain_weighted_sample` the weights are *computed from
    the corpus itself* in one count aggregate (broadcast back as a tiny
    dim), so the same call rebalances any snapshot.  Membership stays
    deterministic per (domain, key) hash: map-side filter, no data
    shuffle, reproducible across repartitioning and backfills.
    """
    # n_d^alpha is snapped to integer 1e6 units before the cross-domain
    # sum, so the normalizer is an order-independent exact BIGINT sum —
    # the rate arithmetic below then sees bit-identical operands in both
    # engines (same discipline as the BM25/gradient fixed-point sums).
    pow_units = F.floor(
        F.pow(F.col("__n").cast("double"), F.lit(alpha)) * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    counts = df.groupBy(F.col(domain).alias("__d")).agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    total_pow = counts.agg(F.sum(pow_units).alias("__z_units"))
    rates = counts.crossJoin(F.broadcast(total_pow)).select(
        "__d",
        F.least(
            F.lit(SAMPLE_BUCKETS).cast("long"),
            F.floor(
                pow_units.cast("double")
                / F.col("__z_units").cast("double")
                * F.lit(float(target_rows))
                / F.col("__n").cast("double")
                * F.lit(float(SAMPLE_BUCKETS))
            ).cast("long"),
        ).alias("__rate_buckets"),
    )
    bucket = h64(F.concat_ws(":", F.col(domain), F.col(key))) % SAMPLE_BUCKETS
    return (
        df.join(F.broadcast(rates), df[domain] == F.col("__d"))
        .filter(bucket < F.col("__rate_buckets"))
        .drop("__d")
    )


#: fixed-point snap for the Efraimidis–Spirakis key (1e-8 units as BIGINT):
#: ln() is not identically rounded across libms, so ranking happens on the
#: snapped integer with the row key as the deterministic tie-break.
ES_KEY_SNAP = 100_000_000.0

#: hash range of h64 (60 bits) as a double divisor mapping hashes to (0, 1]
_H64_RANGE = float(1 << 60)


def weighted_sample_without_replacement(
    df: DataFrame, key: str, weight: str, k: int
) -> DataFrame:
    """Exact-k weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis, "Weighted random sampling with a reservoir", IPL'06) — the
    distributed weighted-reservoir standard: each row draws a uniform
    u from its key hash and scores ``ln(u) / w``; the top-k scores ARE a
    weighted sample without replacement.  Deterministic end-to-end: u is
    the MD5-derived h64 mapped into (0, 1], and the score is snapped to
    1e-8 units (BIGINT) with the key as tie-break, so any engine draws
    the identical sample.

    100 TB shape: one scan + a bounded top-k (TakeOrderedAndProject) —
    per-partition heaps of size k, k rows to the driver, no shuffle of
    the data itself.
    """
    u = (h64(F.col(key)).cast("double") + F.lit(1.0)) / F.lit(_H64_RANGE)
    score = F.log(u) / F.col(weight).cast("double")
    key_units = F.floor(score * F.lit(ES_KEY_SNAP) + F.lit(0.5)).cast("long")
    # Efraimidis-Spirakis requires strictly positive weights: w=0 makes the
    # score ln(u)/0 = -Inf (whose BIGINT cast saturates in Spark but differs
    # in other engines, breaking the identical-sample contract) and w<0
    # silently inverts the ranking.  Non-positive weights are excluded from
    # the draw — same contract as the SQL oracle's WHERE weight > 0.
    df = df.filter(F.col(weight).cast("double") > 0)
    return (
        df.select(
            key,
            F.col(weight).cast("long").alias("weight"),
            key_units.alias("es_key_units"),
        )
        .orderBy(F.desc("es_key_units"), key)
        .limit(k)
    )


def token_budget_sample(
    df: DataFrame,
    key: str,
    domain: str,
    token_col: str,
    budgets: dict[str, int],
    default_budget: int = 0,
) -> DataFrame:
    """Absolute token-budget mixing — "take ~N tokens from each source",
    the Chinchilla-style corpus-assembly step, where
    :func:`domain_weighted_sample` takes fixed *rates*: each domain's
    keep-rate is derived from its measured token volume,

        ``rate_buckets = least(SAMPLE_BUCKETS,
                               (budget * SAMPLE_BUCKETS) div total_tokens)``

    so the expected kept token count per domain is ~min(budget, total).
    All-integer arithmetic (exact in any engine); membership is the same
    domain-salted deterministic hash draw as domain_weighted_sample, so
    it is replayable and stable under repartitioning.

    100 TB shape: one groupBy(domain) SUM (tiny — domains are few,
    map-side combine absorbs any volume skew), the per-domain rates
    broadcast back, and the keep filter is map-only.  The corpus is
    never shuffled.
    """
    budget_col = None
    for value, b in sorted(budgets.items()):
        cond = F.col(domain) == value
        lit = F.lit(int(b))
        budget_col = F.when(cond, lit) if budget_col is None else budget_col.when(cond, lit)
    budget_col = (
        F.lit(int(default_budget))
        if budget_col is None
        else budget_col.otherwise(F.lit(int(default_budget)))
    )
    rates = (
        df.groupBy(domain)
        .agg(F.sum(F.col(token_col)).cast("long").alias("__tok_total"))
        .withColumn("__budget", budget_col.cast("long"))
        .selectExpr(
            domain,
            f"least(CAST({SAMPLE_BUCKETS} AS BIGINT), "
            f"(__budget * {SAMPLE_BUCKETS}) DIV greatest(__tok_total, 1)) "
            "AS __rate_buckets",
        )
    )
    bucket = h64(F.concat_ws(":", F.col(domain), F.col(key))) % SAMPLE_BUCKETS
    return (
        df.join(F.broadcast(rates), domain)
        .filter(bucket < F.col("__rate_buckets"))
        .drop("__rate_buckets")
    )


#: 1e-8 fixed-point snap for per-bucket DSIR log-ratios (the BM25 /
#: bigram-LM discipline: floor(x*1e8 + 0.5) of identical IEEE doubles is
#: deterministic cross-engine, making every per-document rollup an
#: order-independent BIGINT sum).
DSIR_LOG_UNITS = 100_000_000.0


def dsir_log_weights(
    corpus: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    target_ids: DataFrame | None = None,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every corpus
    document by how much more likely its hashed n-gram features are
    under the TARGET domain's feature distribution than under the raw
    corpus' own — log w(doc) = Σ_f c_doc(f) · ln(p_target(f)/q_raw(f)),
    features = unigrams ∪ bigrams hashed into ``n_buckets`` buckets,
    both distributions add-1 smoothed over the bucket space.  High
    weights mark documents that read like the target domain; DSIR then
    resamples proportionally (here: rank/threshold on the weight).

    Returns (id, n_feats, logw_units, log_weight) — logw_units is the
    exact BIGINT fixed-point sum (the cross-engine comparison key),
    log_weight = logw_units / 1e8.

    100 TB shape: feature hashing is map-side; BOTH distribution aggs
    group on the bucket key, whose cardinality is capped at
    ``n_buckets`` — partial aggregation collapses them map-side and the
    final shuffle moves ≤ n_buckets rows per partition.  The λ(bucket)
    log-ratio table is an exactly-n_buckets-row broadcast dim, so scoring is
    one map-side join + one hash agg on the doc id.  No shuffle ever
    carries the corpus text.

    Split into :func:`dsir_lambda_table` (fit) + :func:`dsir_score`
    (apply) so the streaming admission gate can train λ offline once
    and score arriving shards with it — the paper's deployment.

    ``target_ids`` (round-13 fast path): when the target slice is a
    SUBSET of ``corpus`` identified by ``id_col`` values (the registered
    source-shift readout: target = one source of the same corpus), pass
    its ids instead of ``target`` and the target's bucket counts are
    derived from the corpus' own per-document bucket features by one
    doc-id join — the target text is never tokenized or exploded a
    second time.  Bit-identical λ/weights (same integer counts).

    r14 (guide §2.4 — remove shuffles outright): the materialized
    intermediate is now the per-document bucket ARRAY (map-only — the
    old per-(doc, bucket) count table paid a corpus-grain aggregate
    exchange just to build the checkpoint), the fit aggregates are
    bucket-grain (≤ n_buckets rows after map-side combine), and scoring
    is IN-ROW: λ collapses to a one-row n_buckets array broadcast and
    log w(doc) = Σ_occurrences λ[bucket] runs inside the scan — no
    scoring join, no per-doc aggregate shuffle.  Bit-identical: the
    bucket array preserves the exploded feature multiset, integer sums
    are order-independent, and Σ_f c(f)·λ(f) = Σ_occurrences λ(bucket).
    """
    corp_f = _dsir_feat_buckets(corpus, text_col, id_col, n_buckets).localCheckpoint()
    occ = corp_f.select(F.col(id_col), F.explode("__barr").alias("__b"))
    cr = occ.groupBy("__b").agg(F.count(F.lit(1)).cast("long").alias("__cr"))
    if target_ids is not None:
        ct = (
            occ.join(target_ids.select(id_col), id_col)
            .groupBy("__b")
            .agg(F.count(F.lit(1)).cast("long").alias("__ct"))
        )
    else:
        ct = (
            _dsir_feat_buckets(target, text_col, id_col, n_buckets)
            .select(F.explode("__barr").alias("__b"))
            .groupBy("__b")
            .agg(F.count(F.lit(1)).cast("long").alias("__ct"))
        )
    lam = _dsir_lambda_from_target_bucket_counts(cr, ct, n_buckets)
    return _dsir_score_buckets(corp_f, lam, id_col, n_buckets)


def _dsir_feat_buckets(
    df: DataFrame, text_col: str, id_col: str, n_buckets: int
) -> DataFrame:
    """(id, __barr): per-document hashed-feature bucket array — unigrams
    ∪ bigrams, h64 % n_buckets, multiplicity preserved, ONE map-only
    pass (no explode, no aggregate, no shuffle).  Documents with zero
    features are dropped, exactly as the exploded form's empty arrays
    produced no rows (NULL text → NULL array → also dropped).

    Size bound: one entry per feature occurrence, so a document of
    ``n ≥ 2`` tokens holds ``n`` unigrams + ``n − 1`` bigrams = ``2n − 1``
    entries (``n`` for ``n < 2``).  The array grows with the document, not
    with ``n_buckets``; a pathologically long document is one large row."""
    from direct_spark_sql_spark.operators.dedup import token_windows
    from direct_spark_sql_spark.operators.text import tokens

    toks = tokens(text_col)
    feats = F.concat(
        toks,
        F.when(F.size(toks) >= 2, token_windows(text_col, 2)).otherwise(
            F.array().cast("array<string>")
        ),
    )
    return df.select(
        F.col(id_col),
        F.transform(feats, lambda f: h64(f) % F.lit(n_buckets)).alias("__barr"),
    ).filter(F.size("__barr") > 0)


def _dsir_score_buckets(
    feat: DataFrame, lam: DataFrame, id_col: str, n_buckets: int
) -> DataFrame:
    """Apply a dense λ table to per-document bucket arrays IN-ROW: the λ
    model (exactly n_buckets rows by construction — the dense spine) is
    collapsed to ONE array row, broadcast, and each document's score is
    Σ_occurrences λ[bucket] inside the scan — no scoring join, no
    per-doc aggregate, no shuffle at any corpus size.  Identical
    integers to the old (doc, bucket)-grain join + SUM(c·λ): integer
    addition is order-independent and Σ_f c(f)·λ(f) = Σ_occ λ(bucket).

    The array is indexed by position, so a table missing a bucket row
    would shift every later λ onto the wrong bucket: the collapse fails
    the query (in-plan, no extra job) unless it holds n_buckets rows."""
    lam_arr = F.broadcast(
        lam.agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__b", "__lam"))),
                lambda s: s["__lam"],
            ).alias("__lam_arr")
        ).select(
            F.when(F.size("__lam_arr") == n_buckets, F.col("__lam_arr"))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("DSIR λ table has "),
                        F.size("__lam_arr").cast("string"),
                        F.lit(f" bucket rows, expected n_buckets={n_buckets}"),
                    )
                )
            )
            .alias("__lam_arr")
        )
    )
    units = F.aggregate(
        F.col("__barr"),
        F.lit(0).cast("long"),
        lambda acc, b: acc
        + F.element_at(F.col("__lam_arr"), (b + F.lit(1)).cast("int")),
    )
    return feat.crossJoin(lam_arr).select(
        F.col(id_col),
        F.size("__barr").cast("long").alias("n_feats"),
        units.alias("logw_units"),
    ).withColumn(
        "log_weight", F.col("logw_units").cast("double") / F.lit(DSIR_LOG_UNITS)
    )


def _dsir_feat_counts(
    df: DataFrame, text_col: str, id_col: str, n_buckets: int
) -> DataFrame:
    """(id, __b, __c): per-document hashed-feature bucket counts —
    unigrams ∪ bigrams, h64 % n_buckets (map-side explode + one
    bucket-bounded hash agg)."""
    from direct_spark_sql_spark.operators.dedup import token_windows
    from direct_spark_sql_spark.operators.text import tokens

    # Round-13 (guide §1.2 fewer passes): the unigram and bigram features
    # used to be TWO scan+tokenize branches union'd together; one select
    # concatenates both feature arrays per document and explodes once —
    # same (id, feature) multiset (explode of a concat = union of the
    # explodes; docs with <2 tokens contribute an empty bigram slice
    # exactly like the old size>=2 filter), so every downstream bucket
    # count is bit-identical while the corpus is scanned and tokenized
    # once instead of twice.
    toks = tokens(text_col)
    feats = F.concat(
        toks,
        F.when(F.size(toks) >= 2, token_windows(text_col, 2)).otherwise(
            F.array().cast("array<string>")
        ),
    )
    return (
        df.select(F.col(id_col), F.explode(feats).alias("__f"))
        .select(id_col, (h64(F.col("__f")) % F.lit(n_buckets)).alias("__b"))
        .groupBy(id_col, "__b")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )


def _dsir_lambda_from_target_bucket_counts(
    cr: DataFrame, ct: DataFrame, n_buckets: int
) -> DataFrame:
    """λ table from BOTH sides already reduced to per-bucket totals —
    ``(__b, __cr)`` for the raw corpus, ``(__b, __ct)`` for the target —
    the shared tail of the two fit paths.  Round-13 split: when the
    target slice is a SUBSET of the corpus (the registered source-shift
    query), its bucket totals derive from the corpus' own features by
    one doc-id join, skipping a second tokenize of the target text;
    the generic path still hashes the target independently.  Identical
    integer totals either way, so λ is bit-identical."""
    tt = ct.agg(F.coalesce(F.sum("__ct"), F.lit(0)).cast("long").alias("__tt"))
    tr = cr.agg(F.coalesce(F.sum("__cr"), F.lit(0)).cast("long").alias("__tr"))
    b = float(n_buckets)
    spine = cr.sparkSession.range(n_buckets).select(
        F.col("id").cast("long").alias("__b")
    )
    # Explicit broadcasts (r13): cr and ct are bucket-space aggregates —
    # ≤ n_buckets rows by construction, a CONSTANT at any data scale — but
    # the planner can't see that through the aggregation and planned the
    # ct join as a SortMergeJoin (sort + exchange on the λ fit path).
    return (
        spine.join(F.broadcast(cr), "__b", "left")
        .join(F.broadcast(ct), "__b", "left")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(tr))
        .select(
            "__b",
            F.floor(
                F.log(
                    (
                        (F.coalesce(F.col("__ct"), F.lit(0)).cast("double") + F.lit(1.0))
                        / (F.col("__tt").cast("double") + F.lit(b))
                    )
                    / (
                        (F.coalesce(F.col("__cr"), F.lit(0)).cast("double") + F.lit(1.0))
                        / (F.col("__tr").cast("double") + F.lit(b))
                    )
                )
                * F.lit(DSIR_LOG_UNITS)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("__lam"),
        )
    )


def _dsir_lambda_from_counts(
    cr: DataFrame,
    target: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int,
) -> DataFrame:
    """λ table (__b, __lam): 1e-8-snapped ln(p_target/q_raw) per hashed
    bucket, add-1 smoothed — EXACTLY n_buckets rows, the broadcastable
    model.  The table is DENSE over the full bucket space (ADVICE r11):
    add-1 smoothing defines a ratio for every bucket, including ones
    the fit corpus never produced (ct=0, cr=0 → λ = ln((tr+b)/(tt+b))
    in units), so the online use — scoring arriving shards whose
    features hash to buckets absent from the pilot — matches the
    paper's smoothing instead of silently dropping those features at
    the scoring join.  The spine is a bounded spark.range(n_buckets)
    (default 1024), so the density costs nothing at any corpus size."""
    ct = (
        _dsir_feat_buckets(target, text_col, id_col, n_buckets)
        .select(F.explode("__barr").alias("__b"))
        .groupBy("__b")
        .agg(F.count(F.lit(1)).cast("long").alias("__ct"))
    )
    return _dsir_lambda_from_target_bucket_counts(cr, ct, n_buckets)


def dsir_lambda_table(
    corpus: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """Fit the DSIR importance model offline: the exactly-n_buckets-row
    λ table (dense over the bucket space, so shards whose features hash
    to buckets the pilot never saw still score with the paper's add-1
    smoothed ratio) from a (pilot) corpus sample and the target slice.
    Pair with :func:`dsir_score` to screen arriving shards online."""
    cr = (
        _dsir_feat_buckets(corpus, text_col, id_col, n_buckets)
        .select(F.explode("__barr").alias("__b"))
        .groupBy("__b")
        .agg(F.count(F.lit(1)).cast("long").alias("__cr"))
    )
    return _dsir_lambda_from_counts(cr, target, text_col, id_col, n_buckets)


def dsir_score(
    docs: DataFrame,
    lam: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """Score documents with a FIXED λ table (the online half of DSIR):
    map-side feature hashing + IN-ROW Σ λ[bucket] against the λ model
    collapsed to a one-row broadcast array (:func:`_dsir_score_buckets`)
    — no scoring join, no per-doc aggregate shuffle.  ``n_buckets`` must
    match the table's fit (the table is dense over the bucket space by
    construction, which is what lets it collapse to an index array)."""
    return _dsir_score_buckets(
        _dsir_feat_buckets(docs, text_col, id_col, n_buckets), lam, id_col, n_buckets
    )


def unimax_allocation(
    counts: DataFrame,
    budget_tokens: "Column | int",
    epoch_cap: int = 1,
    domain_col: str = "domain",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and
    More Effective Language Sampling for Large-Scale Multilingual
    Pretraining"): distribute a token budget across domains so every
    domain is repeated at most ``epoch_cap`` epochs, and whatever budget
    the capped (small) domains can't absorb is shared EQUALLY among the
    uncapped (large) ones — the fairness rule that replaces temperature
    sampling's tail starvation.

    The paper's greedy loop has a closed form over domains sorted by
    cap = epoch_cap·N_d ascending: walking ranks i = 1..L with prefix
    P_i = Σ_{j<i} cap_j, the equal share at rank i is
    s_i = (B − P_i) div (L − i + 1); the first rank k* where
    cap_{k*} > s_{k*} marks the budget-bound frontier — every domain
    before k* takes its full cap, every domain from k* on takes s_{k*}
    (caps are ascending, so none of them can hit their cap).  All
    integer floor arithmetic — bit-exact in any engine.

    Input: ``counts`` = one row per domain (domain_col, tokens_col).
    Output adds cap_tokens, alloc_tokens, epochs (single division),
    budget_bound (this domain got the equal share, not its cap).

    100 TB shape: the waterfill runs on the BOUNDED per-domain frame
    (≤ thousands of rows for languages/sources) — the single-partition
    windows below are over that tiny dim, never the corpus; the heavy
    work (per-domain token totals) is the caller's one map-side
    combinable agg."""
    budget = (
        F.lit(int(budget_tokens)).cast("long")
        if isinstance(budget_tokens, int)
        else budget_tokens.cast("long")
    )
    cap = (F.lit(int(epoch_cap)).cast("long") * F.col(tokens_col).cast("long"))
    w = Window.orderBy("cap_tokens", domain_col)
    frame = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = (
        counts.select(
            F.col(domain_col),
            F.col(tokens_col).cast("long").alias(tokens_col),
            cap.alias("cap_tokens"),
            budget.alias("__budget"),
        )
        .withColumn("__i", F.row_number().over(w))
        .withColumn("__L", F.count(F.lit(1)).over(frame))
        .withColumn(
            "__prefix",
            F.coalesce(
                F.sum("cap_tokens").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).cast("long"),
        )
    )
    share = F.greatest(
        F.lit(0).cast("long"),
        F.expr("(__budget - __prefix) div (__L - __i + 1)"),
    )
    flagged = ranked.withColumn("__share", share).withColumn(
        "__over", F.when(F.col("cap_tokens") > F.col("__share"), F.col("__i"))
    )
    # materialize k* before the share lookup so the second window
    # references a plain column, not a nested window expression
    return (
        flagged.withColumn("__kstar", F.min("__over").over(frame))
        .withColumn(
            "__s",
            F.max(
                F.when(F.col("__i") == F.col("__kstar"), F.col("__share"))
            ).over(frame),
        )
        .select(
            domain_col,
            tokens_col,
            "cap_tokens",
            F.when(
                F.col("__kstar").isNull() | (F.col("__i") < F.col("__kstar")),
                F.col("cap_tokens"),
            )
            .otherwise(F.col("__s"))
            .cast("long")
            .alias("alloc_tokens"),
            (F.col("__kstar").isNotNull() & (F.col("__i") >= F.col("__kstar")))
            .alias("budget_bound"),
        )
        .withColumn(
            "epochs",
            F.when(
                F.col(tokens_col) > 0,
                F.col("alloc_tokens").cast("double")
                / F.col(tokens_col).cast("double"),
            ),
        )
    )
