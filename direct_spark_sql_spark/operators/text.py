"""Text analysis operators: tokenization, language ID, quality scoring,
token counting, document fingerprinting.

All pure `pyspark.sql.functions` (JVM-side, codegen'd, no Python in the hot
path) over a `text` column of whitespace-separated tokens.  Each operator
has an exact DuckDB-SQL twin in plans/pipeline.py — deterministic by
construction (integer counts, single-division doubles, MD5 fingerprints).

Scale: every operator is a per-row map (no shuffle at all) except the
corpus-level aggregations, which are plain partial+final hash aggs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from direct_spark_sql_spark.hashing import MERSENNE_P, h64

#: Minimal function-word lexicons for the language-ID heuristic.  Real
#: pipelines plug in larger lists; the operator only assumes "a lexicon per
#: language" and scores by hit count.
LANG_LEXICONS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une", "du", "en"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"),
    "es": ("el", "la", "de", "y", "los", "las", "un", "una", "en", "que"),
    "zh": ("的", "是", "在", "了", "和", "有", "我", "不", "这", "他"),
}

#: Stopwords for the quality score (English function words).
STOPWORDS: tuple[str, ...] = LANG_LEXICONS["en"]


def tokens(col: Column | str = "text") -> Column:
    """Whitespace tokenization (single-space split, empty tokens removed)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, " "), lambda t: F.length(t) > 0)


def token_count(col: Column | str = "text") -> Column:
    return F.size(tokens(col)).cast("long")


#: ASCII case-fold tables for :func:`normalize_for_matching` — translate()
#: is codepoint-exact and engine-identical (DuckDB has the same 3-arg
#: translate), unlike lower(), whose Unicode special cases (dotted/dotless
#: I, final sigma) are locale/library-dependent and could diverge between
#: the JVM and DuckDB in the last codepoint.
MATCH_NORM_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
MATCH_NORM_LOWER = "abcdefghijklmnopqrstuvwxyz"


def normalize_for_matching(col: Column | str = "text") -> Column:
    """GPT-3-appendix-C-style text normalization for n-gram collision
    matching: ASCII lowercase (translate, see MATCH_NORM_UPPER) and every
    codepoint outside ``[a-z0-9 ]`` replaced by a space — punctuation,
    symbols, and non-ASCII letters all become token separators, so
    ``"The Answer."`` and ``"the answer"`` produce identical token
    streams.  Production decontamination (GPT-3 appendix C, PaLM, Llama)
    normalizes before building collision grams precisely because cased /
    punctuated variants of an eval item would otherwise evade the check.

    Downstream tokenization is unchanged: :func:`tokens` drops the empty
    strings the multi-space runs produce.  Pure map-side column — no
    shuffle, stays inside whole-stage codegen."""
    c = F.col(col) if isinstance(col, str) else col
    low = F.translate(c, MATCH_NORM_UPPER, MATCH_NORM_LOWER)
    return F.regexp_replace(low, "[^a-z0-9 ]", " ")


def regex_token_count(col: Column | str = "text") -> Column:
    """BPE-ish token counting: runs of word characters or single
    non-word-non-space characters, the usual pre-tokenizer shape."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"), 0)).cast("long")


def _hit_count(toks: Column, lexicon: tuple[str, ...]) -> Column:
    """Non-distinct count of tokens that appear in the lexicon (JVM-side
    higher-order filter, no explode/shuffle)."""
    arr = F.array(*[F.lit(w) for w in lexicon])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t))).cast("long")


def _language_hit_struct(
    col: Column | str, finish=None, toks: Column | None = None
) -> Column:
    """All lexicon hit counts in a SINGLE token-array pass: one aggregate
    accumulating a struct of per-language counters, instead of one filter
    pass per language.  HOFs evaluate interpreted (CodegenFallback), so the
    per-token walk dominates — folding 5 passes into 1 measured 40% faster
    on the sf0.1 documents corpus at identical output.

    ``finish`` (optional) runs inside the aggregate's FINISH lambda where
    ``acc`` is the computed accumulator (field reads are O(1)) — the ONE
    place per-language argmax/ratio logic belongs (r13: reading struct
    fields off the aggregate *expression* re-ran the whole walk per
    field).  :func:`predicted_language` reuses this accumulator rather
    than forking its own copy (ADVICE r13).  ``toks`` (optional) is an
    already-computed token-array column — pass it when the caller has
    hoisted ``tokens(col)`` into a projection so the pipeline tokenizes
    once, not once per operator."""
    langs = sorted(LANG_LEXICONS)
    arrs = {l: F.array(*[F.lit(w) for w in LANG_LEXICONS[l]]) for l in langs}
    zero = F.struct(*[F.lit(0).cast("int").alias(f"c_{l}") for l in langs])

    def step(acc: Column, t: Column) -> Column:
        return F.struct(*[
            (acc[f"c_{l}"] + F.when(F.array_contains(arrs[l], t), 1).otherwise(0))
            .alias(f"c_{l}")
            for l in langs
        ])

    arr = toks if toks is not None else tokens(col)
    if finish is None:
        return F.aggregate(arr, zero, step)
    return F.aggregate(arr, zero, step, finish)


def predicted_language(
    col: Column | str = "text", toks: Column | None = None
) -> Column:
    """argmax of lexicon hit counts; deterministic tiebreak = alphabetical
    language code (greatest(...) with ordered CASE).

    r13: the argmax runs inside the aggregate's FINISH lambda.  The old
    form read 11 struct fields off the aggregate *expression* (5 in
    greatest + 5 CASE arms + the guard), and every GetStructField copy
    re-ran the whole interpreted per-token walk — 11 token passes per
    row.  Inside finish, ``acc`` is the already-computed accumulator
    (a lambda variable — field reads are O(1)), so the walk runs ONCE.
    Same greatest/CASE arithmetic on the same counts, identical output.
    r14: the accumulator itself is :func:`_language_hit_struct`'s — one
    source for the per-language counting logic (ADVICE r13)."""
    langs = sorted(LANG_LEXICONS)

    def finish(acc: Column) -> Column:
        best = F.greatest(*[acc[f"c_{l}"] for l in langs])
        expr = None
        for lang in langs:
            cond = acc[f"c_{lang}"] == best
            expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
        return F.when(best > 0, expr).otherwise(F.lit("und"))

    return _language_hit_struct(col, finish=finish, toks=toks)


def quality_features(
    df: DataFrame, text_col: str = "text", toks: Column | None = None
) -> DataFrame:
    """Per-document quality features: token counts, type-token ratio,
    average token length, stopword ratio, and a composite score.

    The composite is a linear combination evaluated in a fixed order so the
    IEEE result is reproducible across engines.

    r13 shape: the token array and the four integer counts are hoisted
    into their own projections (the ivf_assign pattern — CollapseProject
    keeps non-cheap aliases referenced more than once in their own
    Project), so the interpreted split+filter tokenize chain runs ONCE
    per row instead of once per feature reference (~12× before: every
    ratio and the composite re-derived tokens(text) independently).
    The ratios divide the identical integer-derived doubles in the same
    order — bit-identical output.

    ``toks`` (r14): an already-computed token-array column.  Composed
    pipelines (corpus_curation and friends) run quality features,
    language id AND fingerprints over the same text — without sharing,
    each operator hoists its OWN tokenize (3 interpreted split+filter
    walks per row across the pipeline).  Passing the shared array makes
    this stage an O(1) column reference; the feature arithmetic is
    unchanged either way.
    """
    tdf = df.select(
        "*", (toks if toks is not None else tokens(text_col)).alias("__qf_toks")
    )
    toks = F.col("__qf_toks")
    cdf = tdf.select(
        "*",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_tokens"),
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t).cast("long")
        ).alias("__qf_total_len"),
        _hit_count(toks, STOPWORDS).alias("__qf_n_stop"),
    )
    n_tok = F.col("n_tokens")
    ttr = F.col("n_unique_tokens").cast("double") / n_tok
    avg_len = F.col("__qf_total_len").cast("double") / n_tok
    stop_ratio = F.col("__qf_n_stop").cast("double") / n_tok
    return cdf.select(
        *df.columns,
        "n_tokens",
        "n_unique_tokens",
        ttr.alias("type_token_ratio"),
        avg_len.alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        # composite: favor lexical diversity and moderate length, penalize
        # stopword stuffing — fixed evaluation order for determinism
        (ttr * F.lit(0.5) + stop_ratio * F.lit(0.2)
         + F.least(n_tok.cast("double") / F.lit(100.0), F.lit(1.0)) * F.lit(0.3)
         ).alias("quality_score"),
    )


def content_fingerprint_from_tokens(toks: Column) -> Column:
    """The order/multiplicity-insensitive content fingerprint over an
    already-computed token array: 60-bit hash of the sorted distinct
    token list.  THE one formula source (review r10 / ADVICE r13):
    :func:`content_fingerprint` and :func:`fingerprint` both call this
    core, so the duplication notion can never silently fork between the
    string-input and hoisted-token paths."""
    return h64(F.array_join(F.array_sort(F.array_distinct(toks)), " "))


def content_fingerprint(col: Column | str = "text") -> Column:
    """String-input form of :func:`content_fingerprint_from_tokens` —
    used by every query that measures "exact" duplication
    (corpus_datasheet) directly from text."""
    return content_fingerprint_from_tokens(tokens(col))


def fingerprint(
    df: DataFrame, text_col: str = "text", toks: Column | None = None
) -> DataFrame:
    """Document fingerprints:

    - ``fp_md5``      — exact-content fingerprint (MD5 hex of raw text)
    - ``fp_content``  — order/multiplicity-insensitive content fingerprint:
      60-bit hash of the sorted distinct token list (catches reshuffled
      near-duplicates)
    - ``fp_rolling``  — additive rolling hash: sum of per-token 60-bit
      hashes mod 2^31-1 (order-insensitive but multiplicity-sensitive)

    r13: the token array is hoisted into its own projection so the
    split+filter tokenize chain runs once per row instead of once per
    fingerprint (fp_content and fp_rolling each re-derived it).  Same
    hash arithmetic over the same array — identical output.
    r14: fp_content goes through content_fingerprint_from_tokens (one
    formula source, ADVICE r13), and ``toks`` lets composed pipelines
    pass their shared hoisted token array (see quality_features).
    """
    tdf = df.select(
        "*", (toks if toks is not None else tokens(text_col)).alias("__fp_toks")
    )
    tok_arr = F.col("__fp_toks")
    rolling = F.aggregate(
        F.transform(tok_arr, lambda t: h64(t) % MERSENNE_P),
        F.lit(0).cast("long"),
        lambda acc, h: (acc + h) % MERSENNE_P,
    )
    return tdf.select(
        *df.columns,
        F.md5(F.col(text_col)).alias("fp_md5"),
        content_fingerprint_from_tokens(tok_arr).alias("fp_content"),
        rolling.alias("fp_rolling"),
    )


# ---------------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------------

#: Conservative patterns valid in BOTH Java regex (Spark) and RE2 (DuckDB):
#: plain character classes, bounded repetition, \b word boundaries.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_scan(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII detection + redaction — the compliance pass every
    training-data pipeline runs before publishing a corpus.

    Adds match counts per category (emails, NANP-style phone numbers,
    IPv4 addresses), a ``has_pii`` flag, and ``redacted`` text with each
    match replaced by a typed placeholder.  Pure JVM regex column work:
    map-only, no shuffle, safe at any scale."""
    c = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(c, F.lit(PII_EMAIL_RE), 0)).cast("long")
    n_phones = F.size(F.regexp_extract_all(c, F.lit(PII_PHONE_RE), 0)).cast("long")
    n_ipv4 = F.size(F.regexp_extract_all(c, F.lit(PII_IPV4_RE), 0)).cast("long")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(c, PII_EMAIL_RE, "<EMAIL>"),
            PII_PHONE_RE,
            "<PHONE>",
        ),
        PII_IPV4_RE,
        "<IP>",
    )
    return df.select(
        "*",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        n_ipv4.alias("n_ipv4"),
        ((n_emails + n_phones + n_ipv4) > 0).alias("has_pii"),
        redacted.alias("redacted"),
    )


# ---------------------------------------------------------------------------
# Repetition features (Gopher-style quality signals)
# ---------------------------------------------------------------------------

def let_once(value: Column, body) -> Column:
    """Expression-level let-binding: evaluate ``value`` ONCE per row and
    apply ``body`` to the bound lambda variable (``transform`` over a
    1-element array).  Spark SQL has no subexpression sharing across an
    expression tree for interpreted (CodegenFallback) children, and
    filter pushdown re-inlines Project aliases into predicates — so a
    non-cheap expression referenced k times inside one column/predicate
    re-evaluates k times.  Binding through a lambda variable makes every
    reference an O(1) variable read.  ``body`` receives exactly the value
    it would have been given textually, so semantics (incl. NULL) are
    unchanged."""
    return F.transform(F.array(value), body)[0]


def word_ngrams(col: Column | str, n: int) -> Column:
    """ALL word n-grams in order (multiplicity preserved — the repetition
    signals need totals, unlike dedup's distinct shingles).  Same fast
    zero-width-lookahead regex formulation as :func:`~direct_spark_sql_spark
    .operators.dedup.shingles`; documents shorter than n tokens contribute
    their full token span as one gram."""
    c = F.col(col) if isinstance(col, str) else col
    norm = F.regexp_replace(F.regexp_replace(c, " +", " "), "^ | $", "")
    body = " ".join(["[^ ]+"] * n)
    full = F.regexp_extract_all(norm, F.lit(f"(^|[ ])(?=({body}))"), 2)
    return let_once(
        tokens(c),
        lambda t: F.when(F.size(t) >= n, full).otherwise(
            F.array(F.array_join(t, " "))
        ),
    )


#: Intra-document repetition REMOVAL gate (VERDICT r8 #6): documents
#: whose duplicate-3-gram fraction reaches this bar are dropped from the
#: training-ready corpus — the per-document Gopher/MassiveText rule
#: (Rae et al. 2021 table A1 gates on duplicate-n-gram character
#: fractions in the 0.10-0.15 band for n=5..10 on real web text;
#: FineWeb keeps the same family).  Two operating points, the decontam
#: precedent: this 0.03 occurrence-fraction point is calibrated to THIS
#: corpus' tail (synthetic ~30-word vocabulary, p99 = 0.018, max 0.071
#: at sf0.01 — Gopher's production thresholds never fire on it), while a
#: real-web deployment would run the published 0.10-0.15 band.  The
#: metric is map-only array arithmetic (word_ngrams + array_distinct),
#: so the gate adds ZERO shuffle to any pipeline that composes it.
REP_DUP3_GATE = 0.03


def dup_ngram_frac(col: Column | str = "text", n: int = 3) -> Column:
    """Fraction of word-n-gram instances that are repeats of an earlier
    instance within the SAME document — the Gopher-family intra-document
    repetition signal, as a map-only column (no shuffle, no explode).

    r13: the gram array is let-bound — the formula references it three
    times, and each textual copy re-ran the n-gram regex extraction per
    row (and survives filter pushdown, where a Project hoist does not)."""
    return let_once(
        word_ngrams(col, n),
        lambda g: (F.size(g) - F.size(F.array_distinct(g))).cast("double")
        / F.size(g),
    )


def repetition_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Repetition-based quality signals (the Gopher/MassiveText family):
    duplicate-token fraction, duplicate-3-gram fraction, and the fraction
    of tokens taken by the single most frequent token.

    r13: ALL THREE signals are now map-only array arithmetic — no explode,
    no shuffle at all.  The top-token count used to be a (doc, token)
    hash aggregation plus a per-doc rollup, both keyed on every caller
    column INCLUDING the raw text — two corpus-text shuffles for a
    per-row statistic.  The max multiplicity of any token equals the
    longest equal-run in the SORTED token array, computed per row by one
    aggregate walk (prev, run, best); empty/null-token documents are
    filtered exactly as the old explode dropped them.  Token and gram
    arrays are let-bound (:func:`let_once`) so the tokenize and n-gram
    regex chains run once per row.

    Contract note (ADVICE r13): output is strictly PER ROW — one result
    row per surviving input row.  The pre-r13 explode+groupBy over all
    ``df.columns`` collapsed fully-identical input rows into one output
    row with merged token counts; for a corpus with a unique key column
    (every caller here) the two are identical, but a caller feeding
    duplicate rows gets per-row stats from this form.  The oracles that
    replay these signals (text_repetition_scores et al.) compute per-row
    over unique doc_ids, matching this contract."""
    base0 = df.select("*", tokens(text_col).alias("__rf_toks"))
    tcol = F.col("__rf_toks")
    n_tok = F.size(tcol).cast("long")
    dup_tok = (n_tok - F.size(F.array_distinct(tcol))).cast("double") / n_tok
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc: Column, t: Column) -> Column:
        run_new = F.when(t == acc["prev"], acc["run"] + F.lit(1)).otherwise(F.lit(1))
        return F.struct(
            t.alias("prev"),
            run_new.alias("run"),
            F.greatest(acc["best"], run_new).alias("best"),
        )

    top_run = let_once(
        F.array_sort(tcol),
        lambda s: F.aggregate(s, zero, step, lambda acc: acc["best"]),
    )
    return base0.filter(F.size(tcol) > 0).select(
        *df.columns,
        n_tok.alias("n_tokens"),
        dup_tok.alias("dup_token_frac"),
        dup_ngram_frac(text_col, 3).alias("dup_3gram_frac"),
        (top_run.cast("long").cast("double") / n_tok).alias("top_token_frac"),
    )


def boilerplate_ngrams(
    df: DataFrame,
    n: int = 2,
    min_df: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> tuple[DataFrame, DataFrame]:
    """Corpus-level boilerplate detection (the CCNet/RefinedWeb curation
    stage): an n-gram counts as boilerplate within a group (``source``)
    when it appears in at least ``min_df`` distinct documents of that
    group — headers, footers, nav chrome, license blurbs.

    Returns ``(per_doc, boiler)``: ``per_doc`` has one row per document
    with ``n_grams`` (distinct n-grams) and ``n_boiler`` (how many of them
    are group-boilerplate); ``boiler`` is the detected boilerplate gram
    table ``(group, gram, gram_df)``.

    Scale: the document-frequency count is one hash aggregation keyed
    (group, gram) with map-side combine; because each doc contributes each
    gram once (``array_distinct``), ``COUNT(*)`` IS the document frequency
    — no ``countDistinct`` shuffle. The boilerplate set is only the
    high-df tail (size bounded by corpus gram diversity / min_df), so the
    annotate-back join is broadcast-eligible at typical sizes and a plain
    equi-join otherwise. No self-join, no cartesian product.
    """
    grams = F.array_distinct(word_ngrams(text_col, n))
    g = df.select(id_col, group_col, F.explode(grams).alias("gram"))
    # Round 13 (guide §7.2): the boiler set is consumed multiple times
    # (the per-doc annotate join below, plus callers' per-group rollups),
    # and each consumer's plan re-ran the full corpus gram-explode+agg
    # chain that produces it.  boiler is the BOUNDED high-df tail (size
    # capped by gram diversity / min_df, not data volume), so an eager
    # localCheckpoint materializes it once and every consumer reads the
    # tiny table — the corpus is gram-exploded twice total (df count +
    # annotate), never three times.  Same rows, lineage only.
    boiler = (
        g.groupBy(group_col, "gram")
        .agg(F.count("*").alias("gram_df"))
        .filter(F.col("gram_df") >= int(min_df))
        .localCheckpoint()
    )
    per_doc = (
        g.join(
            boiler.select(group_col, "gram", F.lit(1).alias("__b")),
            [group_col, "gram"],
            "left",
        )
        .groupBy(id_col, group_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.count("__b").alias("n_boiler"),
        )
    )
    return per_doc, boiler


# ---------------------------------------------------------------------------
# Train/eval decontamination
# ---------------------------------------------------------------------------

def contamination_pairs(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_shared: int = 1,
    max_gram_df: int = 100,
) -> DataFrame:
    """(train_id, eval_id, n_shared) pairs of documents sharing ≥
    ``min_shared`` distinct word n-grams — the benchmark-decontamination
    sweep run before training (find eval/test material leaked into the
    training corpus).

    Candidate generation is an equi-join on the gram itself, never
    all-pairs; grams present in more than ``max_gram_df`` training docs are
    dropped first (boilerplate stop-gram guard — the same skew cap as
    n-gram Jaccard's ``max_shingle_df``, bounding join fan-out on power-law
    gram distributions).  At 100 TB the join key would be the gram's 64-bit
    hash with a verify pass; here the raw gram keeps the oracle equi-join
    bit-identical."""
    tg = train.select(
        F.col(id_col).alias("train_id"),
        F.explode(F.array_distinct(word_ngrams(text_col, n))).alias("g"),
    )
    eg = eval_df.select(
        F.col(id_col).alias("eval_id"),
        F.explode(F.array_distinct(word_ngrams(text_col, n))).alias("g"),
    )
    rare = (
        tg.groupBy("g")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") <= max_gram_df)
        .select("g")
    )
    return (
        tg.join(rare, "g", "left_semi")
        .join(eg, "g")
        .groupBy("train_id", "eval_id")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def bpe_merge_candidates(
    df: DataFrame, text_col: str = "text", top_k: int = 30
) -> DataFrame:
    """Adjacent-token-pair frequencies — the candidate-scoring step of one
    BPE merge round, at corpus scale.  Rolling 2-token windows (stride 1)
    from the same anchored-lookahead regex as the dedup shinglers, then a
    single corpus-wide hash agg (map-side combined) and a bounded top-k.
    Documents with fewer than two tokens contribute no pairs.

    Output: (pair, n_occurrences) for the top_k most frequent pairs,
    ordered by count desc then pair text (a total order — pair is the
    group key)."""
    from direct_spark_sql_spark.operators.dedup import token_windows

    pairs = (
        df.filter(F.size(tokens(text_col)) >= 2)
        .select(F.explode(token_windows(text_col, 2)).alias("pair"))
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "pair")
        .limit(top_k)
    )


def skipgram_cooccurrence(
    df: DataFrame,
    text_col: str = "text",
    window: int = 2,
    top_k: int = 30,
) -> DataFrame:
    """Skip-gram co-occurrence counts: (center, context) pairs for every
    context token within ±window positions — the corpus statistic word2vec
    trains on and PMI/association mining starts from.

    One posexplode + a self-join on (doc, position-band) would shuffle the
    corpus twice; instead each row generates its pairs JVM-side with a
    positional transform over the token array (per-row work bounded by
    2*window*n_tokens), then ONE map-side-combined hash agg counts pairs.
    Ordered (center, context) pairs are emitted once per direction, so
    symmetric pairs appear under both orderings — the word2vec convention.
    """
    toks = tokens(text_col)
    idx = F.sequence(F.lit(0), F.size(toks) - 1)
    # for each position i, pair with positions i-window..i+window except i
    pairs = F.flatten(
        F.transform(
            idx,
            lambda i: F.filter(
                F.transform(
                    F.sequence(i - window, i + window),
                    lambda j: F.when(
                        (j >= 0) & (j < F.size(toks)) & (j != i),
                        F.concat_ws(
                            " ",
                            F.element_at(toks, i + 1),
                            F.element_at(toks, j + 1),
                        ),
                    ),
                ),
                lambda p: p.isNotNull(),
            ),
        )
    )
    exploded = df.filter(F.size(toks) >= 2).select(F.explode(pairs).alias("pair"))
    return (
        exploded.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("n_cooccur"))
        .orderBy(F.desc("n_cooccur"), "pair")
        .limit(top_k)
    )


#: 1e-8 fixed-point snap for per-bigram log-probs (see retrieval.py BM25:
#: floor(x*1e8 + 0.5) of identical doubles is deterministic cross-engine,
#: making the per-document sum an order-independent BIGINT sum).
_LP_UNITS = 100000000.0


def bigram_logprob_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Language-model quality scoring with a corpus-trained bigram model —
    the shape of CCNet/KenLM-style perplexity filtering, self-contained:
    the "model" is the corpus' own add-one-smoothed bigram table.

    score(doc) = mean over bigrams of ln((c(w1 w2) + 1) / (c(w1·) + V))
    where c(w1·) is w1's history count and V the vocabulary size.  Low
    (very negative) scores mark improbable token sequences — the
    perplexity-filter signal.

    Scale shape: bigram generation is the per-row regex (no shuffle);
    model training is ONE hash agg over pairs (map-side combined); scoring
    joins each doc's bigrams to the model on the bigram key — shuffle
    bounded by corpus token count, never quadratic.  V is a 1-row
    broadcast.
    """
    from direct_spark_sql_spark.operators.dedup import token_windows

    toks = tokens(text_col)
    pairs = (
        df.filter(F.size(toks) >= 2)
        .select(F.col(id_col), F.explode(token_windows(text_col, 2)).alias("pair"))
    )
    c2 = pairs.groupBy("pair").agg(F.count(F.lit(1)).cast("long").alias("c2"))
    c1 = (
        c2.select(F.split("pair", " ").getItem(0).alias("w1"), "c2")
        .groupBy("w1")
        .agg(F.sum("c2").cast("long").alias("c1"))
    )
    vocab = df.select(F.explode(tokens(text_col)).alias("t")).agg(
        F.countDistinct("t").cast("long").alias("v")
    )
    lp = F.log(
        (F.col("c2").cast("double") + F.lit(1.0))
        / (F.col("c1").cast("double") + F.col("v").cast("double"))
    )
    units = F.floor(lp * F.lit(_LP_UNITS) + F.lit(0.5)).cast("long")
    scored = (
        pairs.join(c2, "pair")
        .select(id_col, "pair", F.split("pair", " ").getItem(0).alias("w1"), "c2")
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(id_col, units.alias("u"))
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            (
                F.sum("u").cast("double")
                / F.count(F.lit(1)).cast("double")
                / F.lit(_LP_UNITS)
            ).alias("avg_logprob"),
        )
        .orderBy(id_col)
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 25,
) -> DataFrame:
    """Pointwise-mutual-information collocations over adjacent token
    pairs: PMI = ln(N * c(a,b) / (c(a·) * c(·b))), the association score
    that surfaces multiword expressions for tokenizer/phrase mining.

    c(a·)/c(·b) are left/right positional counts derived from the bigram
    table itself (one extra tiny agg each, no corpus re-scan); N is the
    total bigram count (1-row broadcast).  ``min_count`` drops rare pairs
    before scoring — the standard noise gate, applied identically in the
    oracle.  PMI values snap to integer 1e-8 units (floor of identical
    IEEE doubles), so ordering is engine-exact.
    """
    from direct_spark_sql_spark.operators.dedup import token_windows

    toks = tokens(text_col)
    pairs = (
        df.filter(F.size(toks) >= 2)
        .select(F.explode(token_windows(text_col, 2)).alias("pair"))
    )
    c2 = pairs.groupBy("pair").agg(F.count(F.lit(1)).cast("long").alias("c2"))
    split = F.split("pair", " ")
    keyed = c2.select(
        "pair", "c2", split.getItem(0).alias("w1"), split.getItem(1).alias("w2")
    )
    left = keyed.groupBy("w1").agg(F.sum("c2").cast("long").alias("cl"))
    right = keyed.groupBy("w2").agg(F.sum("c2").cast("long").alias("cr"))
    total = c2.agg(F.sum("c2").cast("long").alias("n"))
    pmi = F.log(
        F.col("n").cast("double")
        * F.col("c2").cast("double")
        / (F.col("cl").cast("double") * F.col("cr").cast("double"))
    )
    units = F.floor(pmi * F.lit(_LP_UNITS) + F.lit(0.5)).cast("long")
    return (
        keyed.filter(F.col("c2") >= min_count)
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "pair", "c2",
            (units.cast("double") / F.lit(_LP_UNITS)).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "pair")
        .limit(top_k)
    )
