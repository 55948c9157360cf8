"""Operator-level tests for funnels, retention, span dedup, TF-IDF pairs,
and domain-weighted mixing (the registry-wide oracle sweep covers the
end-to-end differential; these pin semantics on hand-built corners)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from direct_spark_sql_spark.operators.analytics import cohort_retention, funnel_counts
from direct_spark_sql_spark.operators.dedup import duplicated_spans
from direct_spark_sql_spark.operators.retrieval import tfidf_cosine_pairs
from direct_spark_sql_spark.operators.sampling import domain_weighted_sample

_TS = "ts TIMESTAMP, user_id BIGINT, event_type STRING"


def _ev(spark, rows):
    return spark.createDataFrame(
        [(dt.datetime(2024, 1, d, h), u, t) for d, h, u, t in rows], _TS
    )


def test_funnel_requires_stage_order(spark):
    # user 1 completes in order; user 2 has all events but purchase precedes
    # click, so it stalls at stage 2 (view); user 3 only signs up.
    rows = [
        (1, 1, 1, "signup"), (1, 2, 1, "view"), (1, 3, 1, "click"), (1, 4, 1, "purchase"),
        (2, 1, 2, "signup"), (2, 2, 2, "view"), (2, 3, 2, "purchase"), (2, 4, 2, "click"),
        (3, 1, 3, "signup"),
    ]
    out = funnel_counts(_ev(spark, rows), ("signup", "view", "click", "purchase"))
    got = {r.stage_name: r.n_users for r in out.collect()}
    assert got == {"signup": 3, "view": 2, "click": 2, "purchase": 1}


def test_funnel_zero_user_stage_present(spark):
    rows = [(1, 1, 1, "signup")]
    out = funnel_counts(_ev(spark, rows), ("signup", "view"))
    assert [(r.stage_idx, r.n_users) for r in out.collect()] == [(1, 1), (2, 0)]


def test_retention_offsets_and_pct(spark):
    # two users first seen Mon Jan 1 week; one returns 1 week later
    rows = [(1, 1, 1, "view"), (2, 1, 2, "view"), (8, 1, 1, "view")]
    out = cohort_retention(_ev(spark, rows)).collect()
    assert [(r.week_offset, r.n_users, r.retention_pct) for r in out] == [
        (0, 2, 100.0),
        (1, 1, 50.0),
    ]


def test_duplicated_spans_counts(spark):
    boiler = "all rights reserved to the original author of this work"
    df = spark.createDataFrame(
        [(1, "alpha " + boiler), (2, "beta " + boiler), (3, "gamma text only here")],
        "doc_id BIGINT, text STRING",
    )
    out = duplicated_spans(df, window=8, min_docs=2, top_k=10).collect()
    # the 10-token boilerplate yields 3 rolling 8-grams, each in 2 docs
    assert len(out) == 3
    assert all(r.n_docs == 2 and r.n_occurrences == 2 for r in out)
    assert any(r.gram.startswith("all rights reserved") for r in out)


def test_tfidf_pairs_finds_near_identical_docs(spark):
    df = spark.createDataFrame(
        [
            (1, "quantum flux capacitor resonance chamber"),
            (2, "quantum flux capacitor resonance chamber indeed"),
            (3, "completely unrelated gardening manual chapter"),
        ],
        "doc_id BIGINT, text STRING",
    )
    out = tfidf_cosine_pairs(df, threshold=0.5, top_k=10).collect()
    assert [(r.doc_a, r.doc_b) for r in out] == [(1, 2)]
    assert out[0].cosine > 0.8


def test_domain_weighted_sample_deterministic_and_weighted(spark):
    df = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "keepall").otherwise("rare").alias("source"),
    )
    kept = domain_weighted_sample(
        df, key="doc_id", domain="source", weights={"keepall": 1.0}, default_weight=0.1
    )
    counts = {r.source: r.n for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts["keepall"] == 1000  # weight 1.0 keeps everything
    assert 50 <= counts.get("rare", 0) <= 200  # ~10% of 1000
    # deterministic: re-running selects the identical rows
    ids1 = sorted(r.doc_id for r in kept.collect())
    ids2 = sorted(r.doc_id for r in kept.collect())
    assert ids1 == ids2


def test_bpe_pairs_counts(spark):
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "x")], "doc_id BIGINT, text STRING"
    )
    from direct_spark_sql_spark.operators.text import bpe_merge_candidates

    out = {r.pair: r.n_occurrences for r in bpe_merge_candidates(df).collect()}
    # "a b" appears twice in doc 1 (rolling windows) and once in doc 2;
    # single-token doc 3 contributes nothing
    assert out == {"a b": 3, "b a": 1, "b c": 1}


def test_standardize_zero_mean_unit_std(spark):
    from direct_spark_sql_spark.operators.similarity import standardize_embeddings

    df = spark.createDataFrame(
        [(1, [1.0, 10.0]), (2, [3.0, 30.0]), (3, [5.0, 50.0])],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    z = standardize_embeddings(df)
    stats = (
        z.groupBy("dim")
        .agg(F.avg("z").alias("m"), F.stddev_pop("z").alias("s"))
        .collect()
    )
    for r in stats:
        assert abs(r.m) < 1e-9 and abs(r.s - 1.0) < 1e-9


def test_merge_rollups_equals_full_recompute(spark):
    from direct_spark_sql_spark.operators.merge import merge_rollups

    df = spark.range(0, 300).select(
        (F.col("id") % 7).alias("k"), (F.col("id") * 3 % 100).cast("decimal(10,2)").alias("v")
    )
    def roll(d):
        return d.groupBy("k").agg(
            F.count("*").cast("long").alias("n"), F.sum("v").cast("decimal(20,2)").alias("s")
        )
    parts = [roll(df.filter(F.col("id") % 3 == i)) for i in range(3)]
    merged = merge_rollups(parts, ["k"], {"n": "long", "s": "decimal(20,2)"})
    full = roll(df)
    got = {r.k: (r.n, r.s) for r in merged.collect()}
    want = {r.k: (r.n, r.s) for r in full.collect()}
    assert got == want


def test_morton_code_known_values(spark):
    from direct_spark_sql_spark.operators.layout import morton_code

    df = spark.createDataFrame([(3, 5), (0, 0), (65535, 65535)], "a LONG, b LONG")
    got = [r.z for r in df.select(morton_code(F.col("a"), F.col("b")).alias("z")).collect()]
    # morton(3, 5): a fills even bits (1,1), b odd bits (1,0,1) -> 0b100111
    assert got == [39, 0, (1 << 32) - 1]


def test_zorder_layout_sorted_by_code(spark):
    from direct_spark_sql_spark.operators.layout import zorder_layout

    df = spark.range(0, 500).select(
        (F.col("id") % 23).alias("a"), (F.col("id") % 17).alias("b")
    )
    out = zorder_layout(df, "a", "b", partitions=4)
    # within every partition the code is non-decreasing
    import pandas as pd

    def check(pdf_iter):
        for pdf in pdf_iter:
            ok = bool((pdf["zcode"].diff().dropna() >= 0).all())
            yield pd.DataFrame({"ok": [ok]})

    flags = out.mapInPandas(check, "ok BOOLEAN").collect()
    assert all(r.ok for r in flags)


def test_quantized_rerank_matches_exact_topk(spark):
    """Two-stage recall sanity on real data: with a 50-candidate shortlist
    over 499 vectors the exact-rerank top-10 should essentially match the
    full exact top-10 (the int8 coarse stage is a tight approximation)."""
    from direct_spark_sql_spark.operators.similarity import (
        cosine_topk,
        quantized_rerank_topk,
    )
    from direct_spark_sql_spark.sources.registry import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    base = e.filter(F.col("vec_id") != 0)
    exact = [r.vec_id for r in cosine_topk(base, q, k=10).collect()]
    two_stage = [r.vec_id for r in quantized_rerank_topk(base, q, 50, 10).collect()]
    assert len(set(exact) & set(two_stage)) >= 8


def test_ivf_pq_ragged_vector_stays_out_of_topk(spark):
    """A ragged (wrong-dims) vector gets a NULL ADC estimate from the
    zip_with padding; it must sort after every real candidate, so with a
    shortlist of exactly k it cannot take a top-k slot."""
    from direct_spark_sql_spark.operators.similarity import ivf_pq_topk

    vecs = {
        0: [1.0, 2.0, 3.0, 4.0],  # query
        1: [1.0, 1.0, 1.0, 1.0],  # centroid / codebook entries
        2: [4.0, 3.0, 2.0, 1.0],
    }
    vecs.update({i: [float(i), 2.0, float(i % 3), 1.0] for i in range(3, 9)})
    ragged = 9
    rows = [(i, v) for i, v in vecs.items()] + [(ragged, [1.0, 2.0, 3.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # every corpus vector in one probed cell, the ragged one included
    assigned = df.filter("vec_id <> 0").withColumn("cell_id", F.lit(1).cast("long"))
    got = ivf_pq_topk(
        df, n_cells=2, nprobe=2, n_codes=2, m=2, dims=4,
        shortlist=3, k=3, assigned=assigned,
    ).collect()
    assert len(got) == 3
    assert ragged not in [r.vec_id for r in got]
    assert all(r.adc_dist is not None for r in got)


@pytest.mark.parametrize("drop", ["vec_id", "cell_id", "embedding"])
def test_ivf_pq_assigned_missing_column_fails_before_any_job(spark, drop):
    """``assigned`` must carry (id_col, cell_id, emb_col); a slim one fails
    with a ValueError naming the column, and launches no Spark job."""
    from direct_spark_sql_spark.operators.similarity import ivf_pq_topk
    from direct_spark_sql_spark.session import _job_tag, _stage_rollup

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)], "vec_id long, embedding array<double>"
    )
    assigned = df.withColumn("cell_id", F.lit(1).cast("long")).drop(drop)
    with _job_tag(spark.sparkContext) as tag:
        with pytest.raises(ValueError, match=drop):
            ivf_pq_topk(df, n_cells=1, nprobe=1, n_codes=2, m=1, dims=2,
                        assigned=assigned)
    assert _stage_rollup(spark.sparkContext, tag)["jobs"] == 0


def test_distributed_prefix_sum_equals_serial(spark):
    from direct_spark_sql_spark.operators.packing import token_prefix_sums

    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 37 + 1).alias("w")
    )
    got = token_prefix_sums(df, "k", "w", partitions=7).orderBy("k").collect()
    running = 0
    for r in got:
        assert r.start_tok == running
        running += r.w
        assert r.end_tok == running


def test_funnel_user_without_first_stage_counts_nowhere(spark):
    # regression: sequence(1, 0) is DESCENDING in Spark, which counted
    # stage-0 users (qualifying events but no signup) as reaching stage 1
    rows = [(1, 1, 1, "signup"), (2, 1, 2, "view"), (2, 2, 2, "click")]
    out = funnel_counts(_ev(spark, rows), ("signup", "view", "click", "purchase"))
    got = {r.stage_name: r.n_users for r in out.collect()}
    assert got == {"signup": 1, "view": 0, "click": 0, "purchase": 0}


def test_duplicated_spans_ignores_empty_documents(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "x y"), (4, "x y")], "doc_id BIGINT, text STRING"
    )
    out = duplicated_spans(df, window=8, min_docs=2, top_k=10).collect()
    assert [r.gram for r in out] == ["x y"]  # no "" span from empty docs


def test_zorder_files_have_tight_rectangles(spark, tmp_path):
    """Write-side proof of the Z-order claim: after zorder_layout each
    output file's (a, b) bounding rectangle must cover a small fraction
    of the full domain on average — that tightness is exactly what
    parquet row-group min/max stats exploit to prune either-dimension
    predicates.  A linear sort on `a` alone would leave `b` ranges at
    ~full width in every file."""
    from direct_spark_sql_spark.operators.layout import zorder_layout

    n, side = 4096, 64  # uniform 64x64 grid
    df = spark.range(0, n).select(
        (F.col("id") % side).alias("a"), (F.col("id") / side).cast("long").alias("b")
    )
    out = str(tmp_path / "z")
    zorder_layout(df, "a", "b", partitions=16).write.parquet(out)

    import glob as g

    areas = []
    for f in g.glob(out + "/part-*.parquet"):
        pdf = spark.read.parquet(f).toPandas()
        if len(pdf) == 0:
            continue
        areas.append(
            (pdf.a.max() - pdf.a.min() + 1) * (pdf.b.max() - pdf.b.min() + 1)
        )
    avg_fraction = sum(areas) / len(areas) / (side * side)
    # 16 contiguous curve segments over a 64x64 grid: near-square tiles of
    # ~1/16 the domain each; a one-dimensional sort would average ~1.0
    assert avg_fraction < 0.25, f"files cover {avg_fraction:.2f} of the domain"


def test_session_paths_gap_split_and_order(spark):
    from direct_spark_sql_spark.operators.analytics import session_paths

    # minute offset = event_id keeps in-session event order deterministic
    rows = [
        (1, 0, 1, "view"), (2, 0, 1, "click"),          # session 1: view>click
        (3, 2, 1, "purchase"),                           # 2h later: own session
        (4, 0, 2, "view"), (5, 0, 2, "click"),          # user 2: same path
    ]
    df = spark.createDataFrame(
        [(e, dt.datetime(2024, 1, 1, h, e), u, t) for e, h, u, t in rows],
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING",
    )
    out = {r.path: r.n_sessions for r in session_paths(df, gap_minutes=30).collect()}
    assert out == {"view>click": 2, "purchase": 1}


def test_containment_catches_subset_jaccard_misses(spark):
    from direct_spark_sql_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon"
    long = short + " " + " ".join(f"tok{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, short), (2, long), (3, "totally different content here")],
        "doc_id BIGINT, text STRING",
    )
    cont = containment_pairs(df, threshold=0.9).collect()
    assert [(r.id_a, r.id_b) for r in cont] == [(1, 2)]
    assert cont[0].containment_a > 0.9  # the short doc is inside the long one
    # symmetric Jaccard misses the same pair at the same bar
    jac = ngram_jaccard_pairs(df, threshold=0.9).collect()
    assert jac == []


def test_observed_metrics_single_pass(spark):
    """observe() metrics must arrive with the consuming action — no extra
    job — and match the explicitly-computed aggregates."""
    from direct_spark_sql_spark.operators.profile import observed
    from direct_spark_sql_spark.sources.registry import load_table
    from tests.conftest import SF_DIR

    d = load_table(spark, SF_DIR, "documents")
    obs_df, obs = observed(
        d,
        "ingest_quality",
        {
            "n_rows": F.count(F.lit(1)),
            "n_null_text": F.count(F.when(F.col("text").isNull(), 1)),
            "n_short": F.count(F.when(F.col("n_chars") < 50, 1)),
            "max_chars": F.max("n_chars"),
        },
    )
    kept = obs_df.filter(F.col("lang") == "en").count()
    m = obs.get
    assert m["n_rows"] == d.count()          # metrics saw ALL rows pre-filter
    assert m["n_null_text"] == 0
    assert m["max_chars"] == d.agg(F.max("n_chars")).collect()[0][0]
    assert kept < m["n_rows"]


def test_basket_affinity_hand_computed_lift(spark):
    # 4 baskets: A+B co-occur twice, A+C once; N=4, n(A)=3, n(B)=2, n(C)=2.
    # lift(A,B) = 2*4/(3*2) = 4/3; lift(A,C) = 1*4/(3*2) = 2/3.
    from direct_spark_sql_spark.operators.analytics import basket_affinity

    rows = [
        (1, "A"), (1, "B"),
        (2, "A"), (2, "B"),
        (3, "A"), (3, "C"),
        (4, "C"),
        (4, "C"),  # duplicate (basket, item) row must not double-count
    ]
    df = spark.createDataFrame(rows, "bk BIGINT, item STRING")
    out = basket_affinity(df, "bk", "item", min_pair_baskets=1)
    got = {(r.item_a, r.item_b): (r.pair_baskets, r.support, r.lift) for r in out.collect()}
    assert got == {
        ("A", "B"): (2, 0.5, 4.0 / 3.0),
        ("A", "C"): (1, 0.25, 2.0 / 3.0),
    }


def test_basket_affinity_min_pair_threshold(spark):
    from direct_spark_sql_spark.operators.analytics import basket_affinity

    rows = [(1, "A"), (1, "B"), (2, "A"), (2, "B"), (3, "A"), (3, "C")]
    df = spark.createDataFrame(rows, "bk BIGINT, item STRING")
    out = basket_affinity(df, "bk", "item", min_pair_baskets=2)
    assert [(r.item_a, r.item_b) for r in out.collect()] == [("A", "B")]


def test_psi_drift_identical_distributions_zero(spark):
    from direct_spark_sql_spark.operators.analytics import psi_drift

    c = spark.createDataFrame([(0, 10), (1, 20), (2, 5)], "bin BIGINT, n BIGINT")
    out = psi_drift(c, c).collect()
    assert all(r.psi_contrib == 0.0 for r in out)
    assert out[0].psi_total == 0.0


def test_psi_drift_disjoint_bins_full_outer_and_positive(spark):
    # ref has bin 0 only, cur has bin 1 only: the full-outer merge must
    # surface both bins with zero-filled counts, and every smoothed
    # contribution must be strictly positive with total = sum of parts.
    from direct_spark_sql_spark.operators.analytics import psi_drift

    r = spark.createDataFrame([(0, 10)], "bin BIGINT, n BIGINT")
    c = spark.createDataFrame([(1, 10)], "bin BIGINT, n BIGINT")
    out = {row.bin: row for row in psi_drift(r, c).collect()}
    assert set(out) == {0, 1}
    assert out[0].n_ref == 10 and out[0].n_cur == 0
    assert out[1].n_ref == 0 and out[1].n_cur == 10
    assert all(row.psi_contrib > 0 for row in out.values())
    total = round(sum(row.psi_contrib for row in out.values()), 8)
    assert round(out[0].psi_total, 8) == total


def test_bellman_ford_hand_graph(spark):
    # diamond with a shortcut: 1→2 (w1), 2→4 (w1) total 2 beats 1→3 (w5),
    # 3→4 (w5) total 10 AND the direct 1→4 edge (w7); node 5 unreachable
    # from the seed within the graph's direction set.
    from direct_spark_sql_spark.operators.graph import bellman_ford

    edges = spark.createDataFrame(
        [
            (1, 2, 1), (2, 4, 1),
            (1, 3, 5), (3, 4, 5),
            (1, 4, 7),
            (5, 1, 1),  # into the seed, never out of it
        ],
        "src BIGINT, dst BIGINT, w BIGINT",
    )
    seed = spark.createDataFrame([(1, 0)], "node BIGINT, dist BIGINT")
    got = {r.node: r.dist for r in bellman_ford(edges, seed, rounds=4).collect()}
    assert got == {1: 0, 2: 1, 3: 5, 4: 2}


def test_bellman_ford_round_bound_semantics(spark):
    # chain 1→2→3→4, all weight 1: with rounds=2 node 4 (3 edges away)
    # must be absent — the bounded contract the oracle replays
    from direct_spark_sql_spark.operators.graph import bellman_ford

    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (3, 4, 1)], "src BIGINT, dst BIGINT, w BIGINT"
    )
    seed = spark.createDataFrame([(1, 0)], "node BIGINT, dist BIGINT")
    got = {r.node: r.dist for r in bellman_ford(edges, seed, rounds=2).collect()}
    assert got == {1: 0, 2: 1, 3: 2}


def test_weighted_reservoir_huge_weight_dominates(spark):
    # ln(u)/w -> 0- as w -> inf, so a row with overwhelming weight must be
    # in any top-k (deterministic for every u in (0,1)); uniform-weight
    # rows fill the rest, and the draw is replayable call to call.
    from direct_spark_sql_spark.operators.sampling import (
        weighted_sample_without_replacement,
    )

    rows = [(i, 1) for i in range(50)] + [(999, 10**12)]
    df = spark.createDataFrame(rows, "doc_id BIGINT, w BIGINT")
    out1 = weighted_sample_without_replacement(df, "doc_id", "w", k=5).collect()
    ids1 = [r.doc_id for r in out1]
    assert 999 in ids1 and len(ids1) == 5 and len(set(ids1)) == 5
    out2 = weighted_sample_without_replacement(df, "doc_id", "w", k=5).collect()
    assert [tuple(r) for r in out1] == [tuple(r) for r in out2]


def test_global_shuffle_shards_is_exact_permutation(spark):
    """Every rank 1..n appears exactly once, shards are consecutive
    fixed-size cuts of the hash order, and the permutation is stable
    call-to-call (training-shard reproducibility contract)."""
    from direct_spark_sql_spark.operators.packing import global_shuffle_shards

    df = spark.createDataFrame([(i,) for i in range(257)], "doc_id BIGINT")
    out = global_shuffle_shards(df, "doc_id", shard_size=50).collect()
    assert sorted(r.rank for r in out) == list(range(1, 258))
    assert sorted(r.doc_id for r in out) == list(range(257))
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard_id, []).append(r)
        assert r.shard_id == (r.rank - 1) // 50
    sizes = [len(by_shard[s]) for s in sorted(by_shard)]
    assert sizes == [50, 50, 50, 50, 50, 7]
    # ranks follow hash order: sorting by shuffle_key must sort by rank
    srt = sorted(out, key=lambda r: (r.shuffle_key, r.doc_id))
    assert [r.rank for r in srt] == list(range(1, 258))
    again = global_shuffle_shards(df, "doc_id", shard_size=50).collect()
    assert sorted((r.doc_id, r.rank) for r in again) == sorted(
        (r.doc_id, r.rank) for r in out
    )


def test_global_shuffle_shards_negative_and_string_keys(spark):
    """The tie-break (round-5 advice) must stay a deterministic total
    order for negative numeric AND non-numeric keys — the old %019d
    rendering inverted negatives and collapsed strings to 'null'."""
    from direct_spark_sql_spark.operators.packing import global_shuffle_shards

    neg = spark.createDataFrame([(i - 150,) for i in range(300)], "doc_id BIGINT")
    out = global_shuffle_shards(neg, "doc_id", shard_size=64).collect()
    assert sorted(r.rank for r in out) == list(range(1, 301))
    assert sorted(r.doc_id for r in out) == [i - 150 for i in range(300)]
    again = global_shuffle_shards(neg, "doc_id", shard_size=64).collect()
    assert sorted((r.doc_id, r.rank) for r in again) == sorted(
        (r.doc_id, r.rank) for r in out
    )

    txt = spark.createDataFrame(
        [(f"url-{i:04d}",) for i in range(211)], "doc_id STRING"
    )
    tout = global_shuffle_shards(txt, "doc_id", shard_size=50).collect()
    assert sorted(r.rank for r in tout) == list(range(1, 212))
    assert len({r.doc_id for r in tout}) == 211
    tagain = global_shuffle_shards(txt, "doc_id", shard_size=50).collect()
    assert sorted((r.doc_id, r.rank) for r in tagain) == sorted(
        (r.doc_id, r.rank) for r in tout
    )


def test_recursive_cte_conf_scoped_to_query(spark):
    """ADVICE r11: recursive_cte_tree_depth widens cteRecursionRowLimit
    only for its own execution — the session-wide runaway-recursion
    guard must be back at its prior value after the call, and the
    returned (eagerly materialized) frame must still be readable."""
    from direct_spark_sql_spark.plans.conformance_ext import (
        recursive_cte_tree_depth,
    )

    key = "spark.sql.cteRecursionRowLimit"
    before = spark.conf.get(key, None)
    df = recursive_cte_tree_depth(spark, "/root/testdata/sf0.001")
    assert spark.conf.get(key, None) == before
    assert spark.conf.get(key, None) != "2000000000"
    assert df.count() > 0


def test_pack_bins_harmonic_planted_and_invariants(spark):
    """Harmonic packing: planted classes/bins plus the rule's guarantees
    — class k holds items of size <= C/k, k items per bin, so no bin of
    class >= 1 overflows the capacity; oversize items get their own
    flagged bin."""
    from direct_spark_sql_spark.operators.packing import pack_bins_harmonic

    # capacity 100, k_max 4: sizes pick classes 1,2,4 and one oversize
    rows = [
        (1, 80),   # class 1 (51..100): own bin
        (2, 90),   # class 1
        (3, 40),   # class 2 (34..50): pairs
        (4, 45),   # class 2
        (5, 50),   # class 2
        (6, 10),   # class 4 (<=25 pools at k_max): quads
        (7, 20),
        (8, 25),
        (9, 5),
        (10, 24),
        (11, 150),  # oversize
    ]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = {r.doc_id: r for r in pack_bins_harmonic(
        df, capacity=100, k_max=4).collect()}
    assert len(out) == 11
    assert out[1].class_k == 1 and out[2].class_k == 1
    assert out[1].bin_index != out[2].bin_index  # class 1: one per bin
    assert {out[d].class_k for d in (3, 4, 5)} == {2}
    # class 2 in id order: (3,4) share bin 0, (5) starts bin 1
    assert out[3].bin_index == 0 and out[4].bin_index == 0
    assert out[5].bin_index == 1
    # class 4 quads: ids 6,7,8,9 -> bin 0; id 10 -> bin 1
    assert [out[d].bin_index for d in (6, 7, 8, 9, 10)] == [0, 0, 0, 0, 1]
    assert out[11].class_k == 0 and out[11].oversize
    # capacity invariant: every class>=1 bin's token sum <= capacity
    from collections import defaultdict
    fills = defaultdict(int)
    for r in out.values():
        if r.class_k >= 1:
            fills[(r.class_k, r.bin_index)] += r.n_tokens
    assert all(v <= 100 for v in fills.values())
    # items-per-bin invariant
    counts = defaultdict(int)
    for r in out.values():
        counts[(r.class_k, r.bin_index)] += 1
    for (ck, _), cnt in counts.items():
        assert cnt <= (1 if ck == 0 else ck)


def test_cluster_safe_split_never_leaks_pairs(spark):
    """cluster_safe_split: both endpoints of every near-dup pair land in
    the same split (the leakage a per-document hash draw allows);
    singletons get their own component; percent cuts respected."""
    from direct_spark_sql_spark.operators.graph import cluster_safe_split

    docs = spark.createDataFrame(
        [(i,) for i in range(1, 41)], "doc_id long"
    )
    # 3 clusters: {1,2,3} (chained), {10,11}, {20,21}; rest singletons
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], "id_a long, id_b long"
    )
    out = {r.doc_id: r for r in cluster_safe_split(docs, pairs).collect()}
    assert len(out) == 40
    # chained cluster shares one component (min id) and one split
    assert {out[d].component for d in (1, 2, 3)} == {1}
    assert len({out[d].split for d in (1, 2, 3)}) == 1
    assert out[10].split == out[11].split and out[10].component == 10
    assert out[20].split == out[21].split and out[20].component == 20
    # singletons are their own component
    assert out[7].component == 7 and out[33].component == 33
    assert {r.split for r in out.values()} <= {"train", "validation", "test"}
    # the draw is the component hash: duplicate of a doc's own assignment
    again = {r.doc_id: r.split for r in cluster_safe_split(docs, pairs).collect()}
    assert again == {k: v.split for k, v in out.items()}
