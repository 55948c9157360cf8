"""Semantics unit tests for the round-6 corpus-QA operators, on tiny
hand-built inputs with known answers (the oracle differential checks
cross-engine agreement; these pin the intended MEANING)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_cross_source_duplication_matrix_semantics(spark):
    from direct_spark_sql_spark.operators.dedup import cross_source_duplication

    rows = [
        # fingerprint f1 appears in A (twice) and B (once)
        (1, "f1", "A"), (2, "f1", "A"), (3, "f1", "B"),
        # f2 appears in A, B and C once each
        (4, "f2", "A"), (5, "f2", "B"), (6, "f2", "C"),
        # f3 only in C — no cross-source pair
        (7, "f3", "C"), (8, "f3", "C"),
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, fp STRING, source STRING")
    out = {
        (r.source_a, r.source_b): (r.n_shared_groups, r.n_docs_a, r.n_docs_b)
        for r in cross_source_duplication(df, "fp", "source", "doc_id").collect()
    }
    # A-B share f1 (2 docs vs 1) and f2 (1 vs 1) -> 2 groups, 3 vs 2 docs
    assert out[("A", "B")] == (2, 3, 2)
    assert out[("A", "C")] == (1, 1, 1)
    assert out[("B", "C")] == (1, 1, 1)
    assert set(out) == {("A", "B"), ("A", "C"), ("B", "C")}


def test_label_centroid_classify_separable_labels(spark):
    from direct_spark_sql_spark.operators.similarity import label_centroid_classify

    # Two orthogonal clusters; one vector of label 1 deliberately points
    # along label 0's axis and must land in the off-diagonal cell.
    rows = [
        (1, [1.0, 0.0], 0), (2, [0.9, 0.1], 0), (3, [1.0, 0.05], 0),
        (4, [0.0, 1.0], 1), (5, [0.1, 0.9], 1),
        (6, [1.0, 0.0], 1),  # mislabeled
    ]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
    conf = {
        (r.label, r.pred_label): r.n_vectors
        for r in label_centroid_classify(df).collect()
    }
    assert conf[(0, 0)] == 3
    assert conf[(1, 1)] == 2
    assert conf[(1, 0)] == 1  # the planted mislabel
    assert (0, 1) not in conf
    # fractions sum to 1 per label
    fr = label_centroid_classify(df).collect()
    by_label: dict[int, float] = {}
    for r in fr:
        by_label[r.label] = by_label.get(r.label, 0.0) + r.frac
    assert all(abs(v - 1.0) < 1e-12 for v in by_label.values())


def test_standardized_outliers_flags_planted_point(spark):
    from direct_spark_sql_spark.operators.similarity import standardized_outliers

    rows = [(i, [float((i % 7) - 3) / 10.0, float((i % 5) - 2) / 10.0])
            for i in range(1, 60)]
    rows.append((999, [25.0, -25.0]))  # far outlier
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    top = standardized_outliers(df, top_k=5).collect()
    assert top[0].vec_id == 999
    assert top[0].outlier_score > top[1].outlier_score * 5
    assert all(r.n_dims == 2 for r in top)
    # scores are non-negative and sorted descending
    scores = [r.outlier_score for r in top]
    assert scores == sorted(scores, reverse=True)
    assert all(s >= 0 for s in scores)


def test_k_anonymity_report_is_exactly_the_sub_k_classes(spark):
    from direct_spark_sql_spark.plans.pipeline_ext import (
        K_ANON_BUCKET, K_ANON_K, privacy_k_anonymity,
    )
    from direct_spark_sql_spark.sources.registry import load_table
    from tests.conftest import SF_DIR

    out = privacy_k_anonymity(spark, SF_DIR).collect()
    assert all(r.class_size < K_ANON_K for r in out)
    # complement check: every QI class NOT reported has size >= k
    d = load_table(spark, SF_DIR, "documents")
    all_classes = (
        d.groupBy(
            "source", "lang",
            (F.floor(F.col("n_chars") / K_ANON_BUCKET) * K_ANON_BUCKET)
            .cast("long").alias("len_bucket"),
        )
        .count()
        .collect()
    )
    reported = {(r.source, r.lang, r.len_bucket) for r in out}
    for r in all_classes:
        key = (r.source, r.lang, r.len_bucket)
        if key not in reported:
            assert r["count"] >= K_ANON_K


def test_zero_norm_vectors_sink_not_top(spark):
    """Ranking-family zero-norm contract: a zero vector's cosine is the
    -2.0 sentinel (below any real cosine), NOT NaN — Spark orders NaN
    ABOVE every number, so the unguarded formula would put a zero vector
    at the TOP of top-k and pass >= thresholds that DuckDB's replay
    rejects (the round-5 review's deferred zero-norm item)."""
    from direct_spark_sql_spark.operators.similarity import cosine_topk

    rows = [(1, [1.0, 0.0]), (2, [0.5, 0.5]), (3, [0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    q = spark.createDataFrame([([1.0, 0.0],)], "embedding ARRAY<FLOAT>")
    out = cosine_topk(df, q, k=3).collect()
    assert [r.vec_id for r in out] == [1, 2, 3]  # zero vector LAST
    assert out[-1].cosine == -2.0
    # zero-norm QUERY: every row sinks to the sentinel, ties by id
    zq = spark.createDataFrame([([0.0, 0.0],)], "embedding ARRAY<FLOAT>")
    zout = cosine_topk(df, zq, k=3).collect()
    assert [r.cosine for r in zout] == [-2.0, -2.0, -2.0]
    assert [r.vec_id for r in zout] == [1, 2, 3]


def test_sq8_coarse_score_is_true_dot_estimate(spark):
    """The SQ8 coarse score must approximate the REAL float dot product
    (scales factor out: scale_a*scale_q*intdot) — including for vectors
    with a large constant offset, where the min-max proxy's codes are
    shift-invariant and carry no signal.  Zero vectors score exactly 0."""
    from direct_spark_sql_spark.operators.similarity import sq8_rerank_topk

    rows = [
        (1, [1.0, 2.0, -1.5, 0.25]),
        (2, [11.0, 12.0, 8.5, 10.25]),   # big constant offset
        (3, [-2.0, 0.5, 3.0, -0.75]),
        (4, [0.0, 0.0, 0.0, 0.0]),       # zero vector
    ]
    qv = [0.5, -1.0, 2.0, 1.5]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    q = spark.createDataFrame([(qv,)], "embedding ARRAY<FLOAT>")
    out = {r.vec_id: r for r in sq8_rerank_topk(df, q, shortlist=4, k=4).collect()}
    for vid, vec in rows:
        true_dot = sum(a * b for a, b in zip(vec, qv))
        approx = out[vid].approx_dot
        if vid == 4:
            assert approx == 0.0
        else:
            # quantization error bound: d * (scale_a*|q|_inf + scale_q*|a|_inf)/2
            ma, mq = max(abs(x) for x in vec), max(abs(x) for x in qv)
            bound = 4 * 0.5 * (ma / 127 * mq + mq / 127 * ma) + 1e-9
            assert abs(approx - true_dot) <= bound, (vid, approx, true_dot)
    # the zero vector's guarded cosine is the sentinel
    assert out[4].cosine == -2.0


def test_benchmark_contamination_planted(spark):
    """A corpus doc that verbatim-contains a benchmark item must score
    high; an unrelated doc must not be flagged; scores are exact
    fractions of distinct 3-gram shingles."""
    from direct_spark_sql_spark.operators.dedup import benchmark_contamination

    bench = spark.createDataFrame(
        [(1000, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # verbatim copy of the benchmark item -> every shingle hits
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            # half-contaminated: benchmark prefix + fresh tail
            (2, "the quick brown fox jumps over something entirely new here"),
            # clean
            (3, "completely unrelated words about parquet shuffles and joins"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in benchmark_contamination(corpus, bench, threshold=0.3).collect()
    }
    assert got[1]["contamination"] == 1.0
    assert 0.3 <= got[2]["contamination"] < 1.0
    assert 3 not in got
    # n_hit counts DISTINCT shingles (shingles() dedups)
    assert got[1]["n_hit"] == got[1]["n_shingles"]


def test_benchmark_contamination_production_width(spark):
    """The GPT-3-style operating point (DECONTAM_PROD_N=8, any-collision
    flags): a doc sharing one verbatim 8-token span with a benchmark
    item is flagged; a doc sharing only shorter overlaps (which trigram
    decontam WOULD flag) is not — the width is the whole point."""
    from direct_spark_sql_spark.operators.dedup import benchmark_contamination
    from direct_spark_sql_spark.plans.pipeline import DECONTAM_PROD_N

    bench = spark.createDataFrame(
        [(1000, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # contains the 8-token span "one ... eight" verbatim
            (1, "prefix words one two three four five six seven eight suffix"),
            # shares several 3-grams ("one two three", "two three four")
            # but no 8-token span — clean at production width
            (2, "one two three four banana five six seven eight apple"),
            (3, "completely unrelated words about parquet shuffles and joins"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in benchmark_contamination(
            corpus, bench, n=DECONTAM_PROD_N, threshold=0.0
        ).collect()
    }
    assert 1 in got and got[1]["n_hit"] >= 1
    assert 2 not in got and 3 not in got
    # ...while the fixture-regime 3-gram point DOES flag doc 2
    tri = {
        r["doc_id"]
        for r in benchmark_contamination(corpus, bench, threshold=0.2).collect()
    }
    assert 2 in tri


def test_decontam_normalization_catches_case_variant(spark, tmp_path):
    """VERDICT r9 #1 pin: a cased/re-punctuated copy of a benchmark item
    shares ZERO raw 8-grams with it (raw operating point misses it) but
    identical normalized token streams (normalized operating point flags
    it) — exercised through the REGISTERED queries on a planted corpus,
    so the bench-slice predicate, normalization column and gram join all
    participate.  doc_id 1 hashes into the bench slice (h64(1)%10000 =
    9848 >= 9800); 2 and 3 land in the corpus side."""
    from direct_spark_sql_spark.plans.pipeline import (
        dedup_benchmark_decontam_8gram,
        dedup_benchmark_decontam_8gram_norm,
    )

    item = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    variant = "Alpha Bravo, Charlie Delta: Echo Foxtrot Golf Hotel India Juliett!"
    rows = [
        (1, "bench", "en", item, len(item)),       # bench slice
        (2, "web", "en", variant, len(variant)),   # case/punct variant
        (3, "web", "en",
         "unrelated kilo lima mike november oscar papa quebec romeo sierra",
         60),
    ]
    spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    raw = {r["doc_id"] for r in
           dedup_benchmark_decontam_8gram(spark, str(tmp_path)).collect()}
    norm = {r["doc_id"] for r in
            dedup_benchmark_decontam_8gram_norm(spark, str(tmp_path)).collect()}
    assert 2 not in raw          # cased/punctuated variant evades raw grams
    assert 2 in norm             # ...and is caught after normalization
    assert 3 not in raw and 3 not in norm


def test_decontam_span_covers_contaminated_paragraph_only(spark, tmp_path):
    """VERDICT r9 #2 pin: a doc with ONE contaminated paragraph yields
    one span covering exactly that paragraph's token range — the
    surrounding clean text is NOT inside the span (the whole point of
    span-level excision vs whole-doc drops).  Also pins the islands
    merge: two hits closer than the gram width collapse into one span."""
    from direct_spark_sql_spark.plans.pipeline import decontam_span_report

    para = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    # 5 clean tokens | 10 contaminated tokens | 5 clean tokens
    doc = "clean one two three four " + para + " five six seven eight nine"
    rows = [
        (1, "bench", "en", para, len(para)),   # h64(1)%10000=9848: bench slice
        (2, "web", "en", doc, len(doc)),       # corpus side
    ]
    spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    spans = decontam_span_report(spark, str(tmp_path)).collect()
    assert [(r["doc_id"], r["span_start"], r["span_end"], r["n_hits"])
            for r in spans] == [(2, 5, 14, 3)]
    # tokens 0-4 and 15-19 (the clean flanks) are outside the span;
    # 3 hits = the 10-token paragraph's three 8-gram windows, merged
    # into ONE island because consecutive starts differ by 1 (< n)

    # ...and the excision economics agree: whole-doc policy loses all
    # 20 tokens, the span policy excises 10, recovering the 10 clean
    from direct_spark_sql_spark.plans.pipeline import (
        decontam_excision_economics,
    )

    econ = decontam_excision_economics(spark, str(tmp_path)).collect()
    assert [(r["source"], r["n_flagged_docs"], r["tokens_whole_doc_drop"],
             r["tokens_span_excised"], r["tokens_recovered"])
            for r in econ] == [("web", 1, 20, 10, 10)]


def test_benchmark_contamination_broadcasts_eval_side(spark):
    """The eval-set gram join must be a broadcast semi-join (eval sets
    are tiny; the corpus side must not shuffle on gram text)."""
    from direct_spark_sql_spark.operators.dedup import benchmark_contamination

    bench = spark.createDataFrame(
        [(9, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma something else entirely")],
        "doc_id long, text string",
    )
    plan = (
        benchmark_contamination(corpus, bench, threshold=0.0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan


def test_token_budget_sample_rates_and_clamp(spark):
    """Budget >= domain volume keeps everything (rate clamps); a
    fractional budget keeps ~budget tokens; membership is deterministic
    and the rates side broadcasts (corpus never shuffles)."""
    from direct_spark_sql_spark.operators.sampling import token_budget_sample

    rows = [(i, "big", 10) for i in range(400)] + [(1000 + i, "tiny", 10) for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    out = token_budget_sample(
        df, key="doc_id", domain="source", token_col="n_tokens",
        budgets={"big": 1000}, default_budget=100,
    )
    got = {r["source"]: r for r in out.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_tokens").alias("tok")).collect()}
    # tiny: budget 100 >= volume 50 -> keep all 5
    assert got["tiny"]["n"] == 5
    # big: budget 1000 of 4000 -> rate 0.25, hash draw keeps ~100 of 400
    assert 60 <= got["big"]["n"] <= 140, got["big"]["n"]
    # deterministic replay
    again = token_budget_sample(
        df, key="doc_id", domain="source", token_col="n_tokens",
        budgets={"big": 1000}, default_budget=100,
    )
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_t_closeness_flags_homogeneous_class(spark, tmp_path):
    """A QI class whose sensitive distribution diverges hard from the
    corpus must be flagged with the exact integer-unit TV distance; a
    class matching the global mix must not."""
    from direct_spark_sql_spark.plans.pipeline_ext import privacy_t_closeness

    rows = []
    # global mix: half 'en', half 'de' across two balanced sources...
    for i in range(40):
        rows.append((i, "balanced", "en" if i % 2 == 0 else "de", 10))
    # ...plus one all-'en' source: TV vs global = |1 - p_en_global|
    for i in range(100, 140):
        rows.append((i, "homog", "en", 10))
    spark.createDataFrame(
        rows, "doc_id long, source string, lang string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {r["source"]: r for r in privacy_t_closeness(spark, str(tmp_path)).collect()}
    # global: 60 en / 20 de of 80. homog class: 40/40 en.
    # TV = 0.5*(|1 - 60/80| + |0 - 20/80|) = 0.25 < t=0.4 -> NOT flagged...
    # balanced class: 20/40 en vs 60/80 -> TV = 0.5*(0.25+0.25)=0.25 -> not flagged
    assert got == {}
    # sharpen the divergence: make the corpus 'en'-dominant via a third source
    rows += [(200 + i, "endom", "en", 10) for i in range(320)]
    spark.createDataFrame(
        rows, "doc_id long, source string, lang string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {r["source"]: r for r in privacy_t_closeness(spark, str(tmp_path)).collect()}
    # global now 420 en / 20 de of 440 (p_de = 1/22). balanced class:
    # TV = 0.5*(|0.5 - 21/22| + |0.5 - 1/22|) = 5/11 - 1/22... = 0.4545 > 0.4
    assert "balanced" in got and got["balanced"]["tv_distance"] > 0.4
    assert "homog" not in got and "endom" not in got


def test_repetition_gate_drops_planted_repetitive_doc(spark, tmp_path):
    """corpus_training_ready's Gopher-style repetition gate: a planted
    doc whose dup-3-gram fraction crosses REP_DUP3_GATE is dropped from
    the training-ready corpus while an otherwise-identical clean doc
    survives; the dup_ngram_frac column itself is exact."""
    from direct_spark_sql_spark.operators.text import (
        REP_DUP3_GATE,
        dup_ngram_frac,
    )
    from direct_spark_sql_spark.plans.pipeline import corpus_training_ready

    # high-quality English base text (passes lang + quality gates)
    base = ("the quick brown fox jumps over the lazy dog and then walks "
            "to a small house with an old friend for some fresh water")
    # repetitive variant: one 3-gram span repeated many times
    rep = base + " " + " ".join(["again and again"] * 12)
    # doc_id 1 hashes into the bench slice (h64(1)%10000 = 9848);
    # use ids 3/2 which land in the corpus side
    rows = [(3, "clean", base), (2, "loopy", rep)]
    spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    # the column is exact: 12 copies of a 3-token span -> the repeated
    # windows dominate; clean text has no repeated 3-gram
    fr = {
        r["doc_id"]: r["f"]
        for r in spark.createDataFrame(rows, "doc_id long, source string, text string")
        .select("doc_id", dup_ngram_frac("text").alias("f"))
        .collect()
    }
    assert fr[3] == 0.0
    assert fr[2] >= REP_DUP3_GATE

    got = {r["source"]: r["n_docs"]
           for r in corpus_training_ready(spark, str(tmp_path)).collect()}
    assert got.get("clean") == 1
    assert "loopy" not in got


def test_dp_release_pins_exact_noise(spark, tmp_path):
    """The DP release is seeded-deterministic: the noise each QI class
    draws is a pure function of (source, len_bucket, DP_SEED), and these
    EXACT values are pinned (computed once from the md5 -> u -> CDF-
    breakpoint formula; a mechanism or seed change must fail loudly).
    Also pins zero-clamping and the truncation bound."""
    from direct_spark_sql_spark.plans.pipeline_ext import (
        DP_NOISE_BOUND,
        privacy_dp_release,
    )

    rows = []
    # four classes with known true counts; n_chars 10 -> len_bucket 0,
    # n_chars 300 -> len_bucket 256
    for i in range(50):
        rows.append((i, "web", "en", 10))          # ("web", 0): 50 docs
    for i in range(100, 130):
        rows.append((i, "wiki", "en", 300))        # ("wiki", 256): 30 docs
    for i in range(200, 220):
        rows.append((i, "code", "en", 10))         # ("code", 0): 20 docs
    rows.append((300, "news", "en", 10))           # ("news", 0): 1 doc
    spark.createDataFrame(
        rows, "doc_id long, source string, lang string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    dom_sources = ("web", "wiki", "code", "news")
    dom_buckets = (0, 256)
    got = {
        (r["source"], r["len_bucket"]): r["noisy_count"]
        for r in privacy_dp_release(
            spark, str(tmp_path), dom_sources, dom_buckets
        ).collect()
    }
    # the released row set is EXACTLY the declared grid — fixed-domain
    # DP: empty cells are released too (noise-only, zero-clamped), so
    # row presence no longer signals class non-emptiness (ADVICE r9)
    assert set(got) == {(s, b) for s in dom_sources for b in dom_buckets}
    # pinned noise draws at DP_SEED=90210 for the observed cells:
    # web:0 -> +0, wiki:256 -> +1, code:0 -> -1, news:0 -> +1
    assert got[("web", 0)] == 50
    assert got[("wiki", 256)] == 31
    assert got[("code", 0)] == 19
    assert got[("news", 0)] == 2
    # empty declared cells release max(0, 0 + noise) with the SAME
    # per-cell draw formula — replay it with the pure-python twin
    import hashlib

    from direct_spark_sql_spark.plans.pipeline_ext import (
        DP_SEED,
        _dp_cdf_breakpoints,
        _DP_U_DEN,
    )

    cs = _dp_cdf_breakpoints()

    def draw(key: str) -> int:
        h = int(hashlib.md5(key.encode()).hexdigest()[:15], 16)
        u = (h % _DP_U_DEN) / _DP_U_DEN
        return -DP_NOISE_BOUND + sum(1 for c in cs if u >= c)

    for cell, true_cnt in [(("web", 256), 0), (("wiki", 0), 0),
                           (("code", 256), 0), (("news", 256), 0)]:
        want = max(0, true_cnt + draw(f"{cell[0]}:{cell[1]}:{DP_SEED}"))
        assert got[cell] == want, (cell, got[cell], want)
    # determinism: a second run draws the identical noise
    again = {
        (r["source"], r["len_bucket"]): r["noisy_count"]
        for r in privacy_dp_release(
            spark, str(tmp_path), dom_sources, dom_buckets
        ).collect()
    }
    assert again == got
    # zero-clamp: tiny true counts can never release negative
    assert all(v >= 0 for v in got.values())
    # truncation bound holds for every released class
    assert all(abs(v - t) <= DP_NOISE_BOUND for v, t in
               zip([got[("web", 0)], got[("wiki", 256)],
                    got[("code", 0)], got[("news", 0)]], [50, 30, 20, 1]))


def test_dp_release_out_of_domain_rows_are_privacy_free(spark, tmp_path):
    """Fixed-domain semantics: rows whose QI falls OUTSIDE the declared
    domain (an undeclared source, incl. NULL) contribute to no released
    cell and removing them leaves the release bit-identical — the
    declared-domain rule that makes their presence privacy-free.  Full
    differential against the parameterized oracle on the same fixture
    (the noise key still uses concat_ws in both engines for parity)."""
    import duckdb
    import pandas as pd

    from direct_spark_sql_spark.plans.pipeline_ext import (
        _dp_release_oracle,
        privacy_dp_release,
    )
    from tests.conftest import normalize

    dom_sources = ("web", "blog")
    dom_buckets = (0,)
    rows = [(i, "web", "en", 10) for i in range(30)]
    rows += [(100 + i, None, "en", 10) for i in range(12)]   # NULL source
    rows += [(200 + i, "forum", "en", 10) for i in range(7)]  # undeclared
    spark.createDataFrame(
        rows, "doc_id long, source string, lang string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = normalize(
        privacy_dp_release(
            spark, str(tmp_path), dom_sources, dom_buckets
        ).toPandas()
    )
    # exactly the declared cells: web (observed) + blog (empty)
    assert sorted(got["source"]) == ["blog", "web"]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    want = normalize(
        con.execute(_dp_release_oracle(dom_sources, dom_buckets)).df()
    )
    pd.testing.assert_frame_equal(got, want, check_exact=True, check_like=True)

    # neighbor dataset WITHOUT the out-of-domain rows -> identical release
    spark.createDataFrame(
        [(i, "web", "en", 10) for i in range(30)],
        "doc_id long, source string, lang string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got2 = normalize(
        privacy_dp_release(
            spark, str(tmp_path), dom_sources, dom_buckets
        ).toPandas()
    )
    pd.testing.assert_frame_equal(got, got2, check_exact=True, check_like=True)


def test_dp_release_noise_distribution_centered():
    """Mechanism sanity over many keys: the two-sided-geometric draw is
    centered (|mean| small), bounded by DP_NOISE_BOUND, and has the
    expected spread (var = 2a/(1-a)^2 ~ 1.84 at epsilon=1) — checked on
    the pure-python twin of the threshold formula so it needs no Spark."""
    import hashlib

    from direct_spark_sql_spark.plans.pipeline_ext import (
        DP_NOISE_BOUND,
        DP_SEED,
        _dp_cdf_breakpoints,
        _DP_U_DEN,
    )

    cs = _dp_cdf_breakpoints()
    assert len(cs) == 2 * DP_NOISE_BOUND
    assert all(b > a for a, b in zip(cs, cs[1:]))  # strictly increasing

    def draw(key: str) -> int:
        h = int(hashlib.md5(key.encode()).hexdigest()[:15], 16)
        u = (h % _DP_U_DEN) / _DP_U_DEN
        return -DP_NOISE_BOUND + sum(1 for c in cs if u >= c)

    vals = [draw(f"s{i}:0:{DP_SEED}") for i in range(20000)]
    assert all(abs(v) <= DP_NOISE_BOUND for v in vals)
    mean = sum(vals) / len(vals)
    var = sum((v - mean) ** 2 for v in vals) / len(vals)
    assert abs(mean) < 0.05
    assert 1.5 < var < 2.2  # theoretical 1.84


def test_packing_efficiency_invariants(spark):
    """packed_pad < naive_pad whenever docs don't align to L; padding
    arithmetic is exact: naive_pad + total = sum of per-doc ceil."""
    from direct_spark_sql_spark.plans.analytics import (
        PACK_EFF_LENGTHS,
        corpus_packing_efficiency,
    )
    from tests.conftest import SF_DIR

    rows = corpus_packing_efficiency(spark, SF_DIR).collect()
    assert len(rows) > 0 and {r["seq_len"] for r in rows} == set(PACK_EFF_LENGTHS)
    for r in rows:
        assert 0 <= r["packed_pad"] < r["seq_len"]  # only the tail pads
        assert r["packed_pad"] <= r["naive_pad"]
        assert 0.0 <= r["naive_pad_frac"] < 1.0
        # sums of per-doc ceil(n/L)*L and the packed total are exact
        # multiples of L (review r8 #10 - the old form was vacuous)
        assert (r["naive_pad"] + r["total_tokens"]) % r["seq_len"] == 0
        assert (r["packed_pad"] + r["total_tokens"]) % r["seq_len"] == 0


def test_keep_min_id_null_keys_form_one_group(spark):
    """NULL fingerprints (e.g. md5(NULL) for null text) must form ONE
    canonical group — SQL GROUP BY / window semantics, and what the
    DuckDB oracles compute.  A null-unsafe join would drop every
    null-key row from the survivors (review r8 #1)."""
    from direct_spark_sql_spark.operators.dedup import keep_min_id

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (4, None), (5, "b")],
        "doc_id long, fp string",
    )
    kept = sorted(r["doc_id"] for r in keep_min_id(df, "fp").collect())
    assert kept == [1, 3, 5]  # min id per group, null group included
    dups = sorted(r["doc_id"] for r in keep_min_id(df, "fp", keep=False).collect())
    assert dups == [2, 4]


def test_incremental_dedup_null_text_keep_first(spark):
    """End-to-end: two null-text batch docs -> the min-id one is 'kept',
    the other 'exact_batch' (pre-r8 window semantics preserved)."""
    from direct_spark_sql_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame([(1, "existing corpus doc")], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, None), (11, None), (12, "fresh new content")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["status"] for r in incremental_dedup(batch, corpus).collect()}
    assert got[10] == "kept"
    assert got[11] == "exact_batch"
    assert got[12] == "kept"


def test_chunk_frequency_removes_planted_boilerplate(spark):
    """A full-width 10-token chunk planted in 3 docs is boilerplate
    (df >= CHUNK_DUP_DOCS) and costed as removed from all three; a chunk
    shared by only 2 docs is kept; trailing partial chunks are never
    dedup candidates even when duplicated corpus-wide."""
    from direct_spark_sql_spark.operators.dedup import (
        CHUNK_W,
        chunk_frequency_report,
    )

    banner = " ".join(f"banner{i}" for i in range(CHUNK_W))  # 10 tokens
    pair = " ".join(f"pair{i}" for i in range(CHUNK_W))
    tail = "sharedtail"  # 1-token trailing partial in every doc
    rows = [
        (1, "s1", f"{banner} {tail}"),
        (2, "s1", f"{banner} {tail}"),
        (3, "s2", f"{banner} {tail}"),
        (4, "s2", f"{pair} {tail}"),
        (5, "s3", f"{pair} {tail}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["source"]: r for r in chunk_frequency_report(df).collect()}
    # banner (df=3) removed wherever it occurs; pair (df=2) kept;
    # sharedtail (df=5 but partial-width) kept
    assert got["s1"]["n_dup_chunks"] == 2 and got["s1"]["tokens_removed"] == 2 * CHUNK_W
    assert got["s2"]["n_dup_chunks"] == 1 and got["s2"]["tokens_removed"] == CHUNK_W
    assert got["s3"]["n_dup_chunks"] == 0 and got["s3"]["tokens_removed"] == 0
    # totals count every chunk including the partials
    assert got["s1"]["tokens_total"] == 2 * (CHUNK_W + 1)
    assert got["s3"]["n_chunks"] == 2  # pair + partial tail


def test_ngram_novelty_planted_extremes(spark):
    """Two verbatim-duplicate docs score novelty 0 (every gram has
    df=2); a doc sharing no 5-gram with anything scores 1; the source
    micro-average is exact integer arithmetic."""
    from direct_spark_sql_spark.operators.dedup import ngram_novelty_by_source

    dup = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, "dupsrc", dup),
        (2, "dupsrc", dup),
        (3, "freshsrc", "one two three four five six seven eight nine"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["source"]: r for r in ngram_novelty_by_source(df).collect()}
    assert got["dupsrc"]["n_novel"] == 0
    assert got["dupsrc"]["novelty_micro"] == 0.0
    assert got["dupsrc"]["min_doc_novelty"] == 0.0 == got["dupsrc"]["max_doc_novelty"]
    assert got["freshsrc"]["novelty_micro"] == 1.0
    assert got["freshsrc"]["n_grams"] == got["freshsrc"]["n_novel"] == 5


def test_chunk_excise_reconstructs_in_order(spark):
    """The planted banner chunk (df=3) is excised from every doc while
    the surrounding text survives in original token order; a doc that
    is pure boilerplate disappears."""
    from direct_spark_sql_spark.operators.dedup import CHUNK_W, chunk_excise

    banner = " ".join(f"banner{i}" for i in range(CHUNK_W))
    rows = [
        # banner occupies chunk 0; unique tail is chunk 1
        (1, f"{banner} unique tail one"),
        (2, f"{banner} other tail two"),
        (3, banner),  # pure boilerplate -> dropped entirely
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in chunk_excise(df).collect()}
    assert got[1]["clean_text"] == "unique tail one"
    assert got[2]["clean_text"] == "other tail two"
    assert got[1]["n_tokens_clean"] == 3 and got[1]["n_chunks_kept"] == 1
    assert 3 not in got


def test_chunk_excise_keep_first_retains_one_copy(spark):
    """C4-proper policy: the banner (df=3) survives ONLY in doc 1 (min
    doc id) at its first offset; docs 2 and 3 lose it; non-boilerplate
    text is untouched.  A doc whose banner copy is the kept one AND has
    a second in-doc occurrence keeps only the first."""
    from direct_spark_sql_spark.operators.dedup import CHUNK_W, chunk_excise

    banner = " ".join(f"banner{i}" for i in range(CHUNK_W))
    rows = [
        # two banner occurrences in the keeper doc: offsets 0 and 1
        (1, f"{banner} {banner} tail one"),
        (2, f"{banner} tail two"),
        (3, f"{banner} tail three"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in chunk_excise(df, keep_first=True).collect()}
    assert got[1]["clean_text"] == f"{banner} tail one"
    assert got[2]["clean_text"] == "tail two"
    assert got[3]["clean_text"] == "tail three"
    assert got[1]["n_tokens_clean"] == CHUNK_W + 2
    # remove-all policy strips it everywhere including doc 1
    all_gone = {r["doc_id"]: r for r in chunk_excise(df).collect()}
    assert all_gone[1]["clean_text"] == "tail one"


def test_normalized_spans_map_to_raw_offsets(spark):
    """decontam_span_report_norm's core contract: a cased/re-punctuated
    copy of a bench item (zero RAW 8-gram collisions) is caught at the
    normalized operating point, and the span comes back in RAW token
    offsets — including when one raw token ('six.seven') splits into two
    normalized tokens."""
    from direct_spark_sql_spark.operators.dedup import (
        contamination_spans,
        contamination_spans_normalized,
    )

    bench = spark.createDataFrame(
        [(1000, "one two three four five six seven eight")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # cased + punctuated: raw tokens 3..10 hold the copy
            (1, "intro words here One two THREE four five. six seven EIGHT! closing remark"),
            # raw token 7 = 'six.seven' splits into two normalized tokens;
            # the copy covers raw tokens 2..8
            (2, "alpha beta one two three four five six.seven eight tail"),
            (3, "completely unrelated clean text about joins and shuffles"),
        ],
        "doc_id long, text string",
    )
    # raw 8-gram spans: nothing matches (case/punctuation divergence)
    raw = contamination_spans(corpus, bench, n=8).collect()
    assert raw == []
    got = {
        r["doc_id"]: r
        for r in contamination_spans_normalized(corpus, bench, n=8).collect()
    }
    assert got[1]["span_start"] == 3 and got[1]["span_end"] == 10
    assert got[2]["span_start"] == 2 and got[2]["span_end"] == 8
    assert 3 not in got


def test_norm_excision_economics_planted(spark, tmp_path):
    """Normalized excision economics through the REGISTERED query: a
    cased/punctuated contaminated paragraph that the raw economics does
    NOT see (zero raw collisions) is costed at the normalized point —
    whole-doc drop loses the full document, the span policy excises only
    the paragraph's raw token range, and tokens_recovered is the
    difference.  doc_id 1 is in the bench slice; doc 2 in the corpus."""
    from direct_spark_sql_spark.plans.pipeline import (
        decontam_excision_economics,
        decontam_excision_economics_norm,
    )

    item = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    variant = "Alpha Bravo, Charlie Delta: Echo Foxtrot Golf Hotel India Juliett!"
    # 5 clean + 10 contaminated (cased/punct) + 5 clean = 20 raw tokens
    doc = "clean one two three four " + variant + " five six seven eight nine"
    rows = [
        (1, "bench", "en", item, len(item)),
        (2, "web", "en", doc, len(doc)),
    ]
    spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    assert decontam_excision_economics(spark, str(tmp_path)).collect() == []
    got = {r["source"]: r
           for r in decontam_excision_economics_norm(spark, str(tmp_path)).collect()}
    assert got["web"]["tokens_whole_doc_drop"] == 20
    assert got["web"]["tokens_span_excised"] == 10
    assert got["web"]["tokens_recovered"] == 10


def test_exact_substring_spans_planted(spark):
    """ExactSubstr span semantics: an 8-token span shared by two docs is
    reported in BOTH at its own raw offsets; a span repeated twice
    WITHIN one doc is also flagged (corpus-wide occurrence count, not
    distinct-doc count); a unique doc yields nothing."""
    from direct_spark_sql_spark.operators.dedup import duplicated_span_report

    shared = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 tokens
    rows = [
        (1, f"one two {shared} tail"),              # span at raw 2..9
        (2, f"{shared} closing words here"),        # span at raw 0..7
        (3, f"{shared} middle filler words {shared}"),  # twice in one doc
        (4, "completely unique text about nothing shared with others x y z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in duplicated_span_report(df, w=8).collect():
        got.setdefault(r["doc_id"], []).append((r["span_start"], r["span_end"]))
    assert got[1] == [(2, 9)]
    assert got[2] == [(0, 7)]
    # doc 3: 'middle filler words' = 3 clean tokens, so the second copy
    # starts at raw 11; island starts 0 and 11 differ by > w=8 -> two spans
    assert got[3] == [(0, 7), (11, 18)]
    assert 4 not in got


def test_datasheet_keeps_degenerate_source_and_novelty_excludes_short_docs(
    spark, tmp_path
):
    """Review r10 pins: (1) a source whose every document tokenizes to
    empty still appears on the datasheet (zeroed counts, NULL rates)
    instead of vanishing through an inner join; (2) sub-width documents
    are excluded from the 5-gram novelty statistic, so two identical
    2-token docs can no longer drag a source's 'phrasal novelty' to 0."""
    from direct_spark_sql_spark.operators.dedup import ngram_novelty_by_source
    from direct_spark_sql_spark.plans.pipeline import corpus_datasheet

    rows = [
        (1, "empty", "en", "   ", 3),        # whitespace-only source
        (2, "short", "en", "tiny doc", 8),   # 2 tokens: below NOVELTY_N
        (3, "short", "en", "tiny doc", 8),   # identical 2-token duplicate
        (4, "real", "en",
         "genuine alpha bravo charlie delta echo foxtrot golf hotel", 57),
    ]
    spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    sheet = {r["source"]: r for r in corpus_datasheet(spark, str(tmp_path)).collect()}
    assert "empty" in sheet                      # the inner join would drop it
    assert sheet["empty"]["n_docs"] == 1
    assert sheet["empty"]["vocab"] == 0
    assert sheet["empty"]["boiler_removal_rate"] is None  # 0-token denominator
    assert sheet["empty"]["novelty_micro"] is None
    # short source: its 2-token duplicates contribute NO novelty grams
    assert sheet["short"]["novelty_micro"] is None
    assert sheet["real"]["novelty_micro"] == 1.0

    nov = {r["source"]: r for r in ngram_novelty_by_source(
        spark.createDataFrame(
            [(r[0], r[1], r[3]) for r in rows],
            "doc_id long, source string, text string",
        )
    ).collect()}
    assert "short" not in nov and "empty" not in nov
    assert nov["real"]["n_docs"] == 1


def test_exact_substring_economics_planted(spark, tmp_path):
    """Economics arithmetic through the REGISTERED query: doc 1 (10
    tokens, 8 inside the shared span) and doc 2 (11 tokens, 8 in-span)
    in one source -> 2 docs, 21 total tokens, 16 duplicated, 16/21
    fraction; the clean doc's source reports ZEROS — the paper's
    fraction is over ALL corpus tokens, so a zero-duplication source
    must appear in its own report, not vanish (ADVICE r10)."""
    from direct_spark_sql_spark.plans.analytics import (
        dedup_exact_substring_economics,
    )

    shared = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 tokens
    rows = [
        (1, "dup", "en", f"one two {shared}", 10),
        (2, "dup", "en", f"{shared} closing words here", 11),
        (3, "clean", "en",
         "nothing here repeats anywhere in this corpus at all today", 58),
    ]
    spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    got = {r["source"]: r
           for r in dedup_exact_substring_economics(spark, str(tmp_path)).collect()}
    assert got["dup"]["n_docs_with_dups"] == 2
    assert got["dup"]["tokens_total"] == 21
    assert got["dup"]["tokens_in_dup_spans"] == 16
    assert got["dup"]["dup_token_frac"] == 16.0 / 21.0
    assert got["clean"]["n_docs_with_dups"] == 0
    assert got["clean"]["tokens_total"] == 10
    assert got["clean"]["tokens_in_dup_spans"] == 0
    assert got["clean"]["dup_token_frac"] == 0.0


def test_exact_substring_spans_stop_gram_cap(spark, tmp_path):
    """VERDICT r10 #4: the stop-gram df cap.  A gram occurring in MORE
    than max_gram_df windows corpus-wide is a stop gram — excluded from
    span construction map-side (broadcast anti-join BEFORE the gram
    shuffle), so no shuffled key can exceed `cap` rows.  Grams inside
    the 2..cap band still span; the uncapped report keeps flagging
    everything."""
    from direct_spark_sql_spark.operators.dedup import duplicated_span_report
    from direct_spark_sql_spark.plans.analytics import (
        EXACT_SUBSTR_STOP_GRAM_DF,
        dedup_exact_substring_spans_capped,
    )

    hot = "alpha bravo charlie delta echo foxtrot golf hotel"     # 3 occurrences
    pair = "india juliet kilo lima mike november oscar papa"      # 2 occurrences
    rows = [
        (1, "web", "en", hot, 1), (2, "web", "en", hot, 1),
        (3, "web", "en", hot, 1),
        (4, "web", "en", pair, 1), (5, "web", "en", pair, 1),
    ]
    spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    assert EXACT_SUBSTR_STOP_GRAM_DF == 2  # the planted df counts assume it
    capped = {r["doc_id"]: (r["span_start"], r["span_end"])
              for r in dedup_exact_substring_spans_capped(spark, str(tmp_path)).collect()}
    assert capped == {4: (0, 7), 5: (0, 7)}  # hot gram (3 > cap) excised
    # uncapped keeps the hot gram's spans
    d = spark.read.parquet(str(tmp_path / "documents.parquet")).select("doc_id", "text")
    uncapped = {r["doc_id"] for r in duplicated_span_report(d, w=8).collect()}
    assert uncapped == {1, 2, 3, 4, 5}
    # plan shape: the stop-gram exclusion is a BROADCAST anti-join (the
    # map-side guard), not a shuffled one
    plan = dedup_exact_substring_spans_capped(spark, str(tmp_path))._jdf \
        .queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_unimax_allocation_waterfill(spark):
    """UniMax closed-form waterfill (Chung et al. 2023) against the
    paper's greedy loop by hand: caps ascending, prefix-shared budget,
    first over-cap rank defines the equal share for everything after."""
    from direct_spark_sql_spark.operators.sampling import unimax_allocation

    c = spark.createDataFrame(
        [("a", 100), ("b", 200), ("c", 700)], "domain string, n_tokens long"
    )
    # B=500, C=1: a,b capped; c gets the remaining 200
    out = {r.domain: (r.alloc_tokens, r.budget_bound, r.epochs)
           for r in unimax_allocation(c, 500, 1).collect()}
    assert out == {"a": (100, False, 1.0), "b": (200, False, 1.0),
                   "c": (200, True, 200.0 / 700.0)}
    # budget >= sum caps: everyone fully capped, nothing budget-bound
    out = {r.domain: r.alloc_tokens for r in unimax_allocation(c, 2000, 1).collect()}
    assert out == {"a": 100, "b": 200, "c": 700}
    # zero budget: all zero via the clamped share
    assert all(r.alloc_tokens == 0 for r in unimax_allocation(c, 0, 1).collect())
    # epoch cap 2, B=900: caps (200,400,1400); i2 share 350 < 400 -> k*=2
    out = {r.domain: (r.alloc_tokens, r.budget_bound)
           for r in unimax_allocation(c, 900, 2).collect()}
    assert out == {"a": (200, False), "b": (350, True), "c": (350, True)}
    # allocation never exceeds budget
    assert sum(a for a, _ in out.values()) <= 900


def test_dsir_weights_rank_target_like_docs(spark):
    """DSIR importance weights: documents sharing the target slice's
    n-gram distribution must outrank off-domain documents; the BIGINT
    unit sum is consistent with the reported double."""
    from direct_spark_sql_spark.operators.sampling import (
        DSIR_LOG_UNITS,
        dsir_log_weights,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog ran very fast today"),
            (3, "stock market prices fell sharply overnight"),
            (4, "the cat ate the fish"),
        ],
        "doc_id long, text string",
    )
    target = docs.filter("doc_id in (1, 4)")  # the cat domain
    w = {r.doc_id: r for r in dsir_log_weights(docs, target).collect()}
    assert w[1].log_weight > w[3].log_weight
    assert w[4].log_weight > w[2].log_weight
    for r in w.values():
        assert abs(r.log_weight - r.logw_units / DSIR_LOG_UNITS) < 1e-12
        assert r.n_feats > 0


def test_dsir_score_unseen_buckets_use_smoothed_default(spark):
    """Online DSIR (ADVICE r11): a shard whose features hash to buckets
    the pilot corpus never produced must still score — add-1 smoothing
    defines λ = ln(((ct+1)/(tt+b)) / ((cr+1)/(tr+b))) for EVERY bucket,
    so the λ table is dense over the bucket space and no feature is
    silently dropped from n_feats/logw_units at the scoring join."""
    import math

    from direct_spark_sql_spark.operators.sampling import (
        DSIR_LOG_UNITS,
        dsir_lambda_table,
        dsir_score,
    )

    pilot = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta delta")],
        "doc_id long, text string",
    )
    target = pilot.filter("doc_id = 1")
    n_buckets = 64
    lam = dsir_lambda_table(pilot, target, n_buckets=n_buckets)
    # Dense: exactly n_buckets rows, every bucket scored.
    assert lam.count() == n_buckets

    # A shard of entirely novel vocabulary: every feature hashes to some
    # bucket; with a sparse λ most/all would miss the pilot's buckets and
    # the doc would lose features (or vanish).  Dense λ keeps them all.
    shard = spark.createDataFrame(
        [(10, "zq xv wk pj")], "doc_id long, text string"
    )
    rows = dsir_score(shard, lam, n_buckets=n_buckets).collect()
    assert len(rows) == 1
    r = rows[0]
    # 4 unigrams + 3 bigrams = 7 features, none dropped.
    assert r.n_feats == 7

    # Any feature in a pilot-unseen bucket scores the smoothed default
    # λ = ln((1/(tt+b)) / (1/(tr+b))) = ln((tr+b)/(tt+b)) in 1e-8 units.
    # Totals from the pilot: target doc 1 has 3 uni + 2 bi = 5 features;
    # corpus has 10.  Verify via the lam table itself: a bucket with no
    # pilot mass must carry exactly that default.
    tt, tr, b = 5.0, 10.0, float(n_buckets)
    default_units = math.floor(
        math.log(((0 + 1) / (tt + b)) / ((0 + 1) / (tr + b))) * DSIR_LOG_UNITS
        + 0.5
    )
    from direct_spark_sql_spark.operators.sampling import _dsir_feat_counts

    seen = {
        row["__b"]
        for row in _dsir_feat_counts(pilot, "text", "doc_id", n_buckets)
        .select("__b")
        .distinct()
        .collect()
    }
    unseen_lams = {
        row["__lam"] for row in lam.collect() if row["__b"] not in seen
    }
    assert unseen_lams == {default_units}


def test_dsir_score_rejects_sparse_lambda_table(spark):
    """The λ table collapses to an array indexed by bucket position, so a
    table missing one bucket row would shift every later λ onto the wrong
    bucket: scoring must fail, not return wrong weights."""
    from direct_spark_sql_spark.operators.sampling import (
        dsir_lambda_table,
        dsir_score,
    )

    pilot = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta delta")],
        "doc_id long, text string",
    )
    n_buckets = 64
    lam = dsir_lambda_table(pilot, pilot.filter("doc_id = 1"), n_buckets=n_buckets)
    sparse = lam.filter("__b <> 5")
    assert sparse.count() == n_buckets - 1
    with pytest.raises(Exception, match="63 bucket rows, expected n_buckets=64"):
        dsir_score(pilot, sparse, n_buckets=n_buckets).collect()


def test_span_report_min_span_len_is_excision_policy(spark):
    """VERDICT r11 #3 planted case: a 20-token repeat is flagged by the
    len-8 report but NOT excised at Lee et al.'s len-50 operating point;
    a 60-token repeat is flagged by both, with identical offsets."""
    from direct_spark_sql_spark.operators.dedup import duplicated_span_report

    short_rep = " ".join(f"s{i}" for i in range(20))   # 20-token repeat
    long_rep = " ".join(f"L{i}" for i in range(60))    # 60-token repeat
    docs = spark.createDataFrame(
        [
            (1, short_rep + " filler one two three"),
            (2, "prefix words here " + short_rep),
            (3, long_rep + " tail"),
            (4, "head " + long_rep),
            (5, "entirely unique text with no repeats at all whatsoever"),
        ],
        "doc_id long, text string",
    )
    base = duplicated_span_report(docs, w=8).collect()
    len50 = duplicated_span_report(docs, w=8, min_span_len=50).collect()

    base_docs = {r.doc_id for r in base}
    # len-8 flags both repeats
    assert {1, 2, 3, 4} <= base_docs and 5 not in base_docs
    # len-50 excises ONLY the 60-token repeat
    assert {r.doc_id for r in len50} == {3, 4}
    # every surviving span is >= 50 tokens and appears verbatim in base
    base_set = {(r.doc_id, r.span_start, r.span_end) for r in base}
    for r in len50:
        assert r.span_end - r.span_start + 1 >= 50
        assert (r.doc_id, r.span_start, r.span_end) in base_set
    # the 20-token repeat was genuinely present at len-8 (not vacuous)
    d1 = [r for r in base if r.doc_id == 1]
    assert any(r.span_end - r.span_start + 1 == 20 for r in d1)
