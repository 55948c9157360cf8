"""Semantics unit tests for the round-7 skew guards: the MinHash band-
bucket cap (operators/dedup.py:MAX_BAND_BUCKET) and the two-phase
sessionizer (plans/conformance.py:events_user_sessions).  The oracle
differential suite checks cross-engine agreement; these pin the intended
MEANING on crafted inputs the sf corpora don't contain — a hot duplicate
clique bigger than the cap, and sessions that straddle chunk boundaries.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F, types as T


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_band_bucket_cap_drops_hot_clique_keeps_normal_pairs(spark):
    """A duplicate clique larger than MAX_BAND_BUCKET saturates its band
    buckets and must be routed OUT of the pair join (it belongs to the
    exact-fingerprint path), while an ordinary near-dup pair in the same
    corpus still surfaces."""
    from direct_spark_sql_spark.operators.dedup import (
        MAX_BAND_BUCKET,
        minhash_near_duplicates,
    )

    hot_n = MAX_BAND_BUCKET + 30
    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, boiler) for i in range(hot_n)]
    # one genuine near-dup pair, textually disjoint from the clique
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows += [(10_000, a), (10_001, a + " lambda")]
    pairs = minhash_near_duplicates(_docs(spark, rows), min_est_jaccard=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (10_000, 10_001) in got, "normal near-dup pair must survive the cap"
    assert not any(i < hot_n and j < hot_n for i, j in got), (
        "pairs inside the over-cap clique must be excluded from the band join"
    )


def test_band_bucket_at_cap_still_pairs(spark):
    """Exactly-at-cap buckets are NOT dropped (the guard is > cap, not
    >=): a clique of MAX_BAND_BUCKET identical docs emits all its pairs."""
    from direct_spark_sql_spark.operators.dedup import (
        MAX_BAND_BUCKET,
        minhash_near_duplicates,
    )

    n = MAX_BAND_BUCKET
    rows = [(i, "same exact text for every single document here") for i in range(n)]
    n_pairs = minhash_near_duplicates(_docs(spark, rows), min_est_jaccard=0.5).count()
    assert n_pairs == n * (n - 1) // 2


def _write_events(spark, tmp_path, rows):
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    full = [(eid, ts, uid, "click", 1.0, "{}") for eid, ts, uid in rows]
    path = str(tmp_path / "sessfix")
    spark.createDataFrame(full, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path + "/events.parquet")
    return path


def _naive_sessions(spark, sf_dir):
    """The single-window lag+cumsum formulation the two-phase plan must
    be row-identical to (also the oracle's formulation)."""
    from pyspark.sql import Window as W

    from direct_spark_sql_spark.sources.registry import load_table

    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts", 1).over(w))
    sess = e.select(
        "user_id",
        "event_id",
        "ts",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0).alias("f"),
    )
    w2 = w.rowsBetween(W.unboundedPreceding, 0)
    return (
        sess.select(
            "user_id",
            F.sum("f").over(w2).cast("long").alias("session_seq"),
        )
        .groupBy("user_id", "session_seq")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id", "session_seq")
    )


def test_two_phase_sessionizer_matches_naive_on_boundary_cases(spark, tmp_path):
    """Crafted chunk-boundary traps: a session straddling the hour edge,
    a gap of exactly 1800 s (same session), 1801 s (new session), a
    session spanning four chunks, ts ties ordered by event_id, and a
    single-event user."""
    from direct_spark_sql_spark.plans.conformance import events_user_sessions

    t0 = dt.datetime(2024, 3, 1, 9, 59, 0)

    def at(sec):
        return t0 + dt.timedelta(seconds=sec)

    rows = [
        # user 1: straddles 10:00 (gap 120 s, chunks differ) then a
        # 1801 s gap -> new session
        (1, at(0), 1), (2, at(120), 1), (3, at(120 + 1801), 1),
        # user 2: gap of exactly 1800 s across an hour edge -> SAME session
        (4, at(30), 2), (5, at(30 + 1800), 2),
        # user 3: single event
        (6, at(500), 3),
        # user 4: ts tie inside one chunk (ordering falls to event_id)
        (7, at(10), 4), (8, at(10), 4),
        # user 5: events every 20 min for 4 h -> ONE session over 5 chunks
        *[(100 + i, at(i * 1200), 5) for i in range(13)],
    ]
    sf_dir = _write_events(spark, tmp_path, rows)
    got = events_user_sessions(spark, sf_dir).collect()
    want = _naive_sessions(spark, sf_dir).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    by_user = {}
    for r in got:
        by_user.setdefault(r["user_id"], []).append(r["n_events"])
    assert by_user == {1: [2, 1], 2: [2], 3: [1], 4: [2], 5: [13]}


def test_band_cap_audit_counts_hot_clique(spark):
    """The audit must report the clique's saturated buckets: an
    identical-text clique of size s > cap fills LSH_BANDS buckets of
    size s, drops s band rows per band, and affects exactly s docs."""
    from direct_spark_sql_spark.operators.dedup import (
        LSH_BANDS,
        MAX_BAND_BUCKET,
        band_cap_audit,
    )

    hot_n = MAX_BAND_BUCKET + 30
    rows = [(i, "identical boilerplate text shared by the hot clique") for i in range(hot_n)]
    rows += [(10_000, "one unrelated clean document with its own words")]
    r = band_cap_audit(_docs(spark, rows)).collect()[0]
    assert r["n_buckets_capped"] == LSH_BANDS
    assert r["n_band_rows_dropped"] == LSH_BANDS * hot_n
    assert r["max_bucket_size"] == hot_n
    assert r["n_docs_affected"] == hot_n


def test_band_cap_audit_zero_on_clean_corpus(spark):
    from direct_spark_sql_spark.operators.dedup import band_cap_audit

    rows = [(i, f"every document number {i} has distinct words {i * 7}") for i in range(50)]
    r = band_cap_audit(_docs(spark, rows)).collect()[0]
    assert r["n_buckets_capped"] == 0
    assert r["n_band_rows_dropped"] == 0
    assert r["n_docs_affected"] == 0


def test_sessionizer_windows_are_chunk_partitioned(spark):
    """Plan pin for the skew guard itself: the big-table window must
    partition by (user_id, chunk) — a refactor that silently reverts to
    the lifetime-per-user single window reintroduces the 4.5x hot-key
    straggler the two-phase shape exists to prevent."""
    from direct_spark_sql_spark.plans.conformance import events_user_sessions

    from tests.conftest import SF_DIR

    plan = (
        events_user_sessions(spark, SF_DIR)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    specs = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
    assert specs, "expected window operators in the sessionizer plan"
    big_table = [s for s in specs if "chunk" in s]
    assert big_table, (
        "no (user_id, chunk)-partitioned window found - the two-phase "
        "skew guard has been reverted to a per-user lifetime window"
    )


def test_dup_aware_sample_keeps_all_singletons(spark, tmp_path):
    """group_size = 1 means threshold = SAMPLE_BUCKETS, so a UNIQUE
    document can never be dropped — the invariant that makes
    dup-aware downsampling safe to run on a clean corpus; duplicated
    content survives with per-copy probability ~1/group_size."""
    from direct_spark_sql_spark.plans.pipeline import corpus_dup_aware_sample

    uniq = [(i, f"totally unique document body number {i} with words {i * 13}")
            for i in range(20)]
    dup = [(100 + i, "the same reshuffled boilerplate text content") for i in range(40)]
    schema = "doc_id long, text string"
    path = str(tmp_path / "dupfix")
    spark.createDataFrame(uniq + dup, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path + "/documents.parquet")
    got = corpus_dup_aware_sample(spark, path).collect()
    kept = {r["doc_id"]: r["group_size"] for r in got}
    for i, _ in uniq:
        assert kept.get(i) == 1, f"unique doc {i} must always survive"
    dup_kept = [d for d in kept if d >= 100]
    assert all(kept[d] == 40 for d in dup_kept)
    # expected survivors ~1; deterministic-hash draw over 40 buckets can
    # wobble but must stay far below the group size
    assert len(dup_kept) <= 8


def test_two_phase_sessionizer_matches_naive_on_corpus(spark):
    """Full-table equivalence on the sf0.001 events corpus."""
    from direct_spark_sql_spark.plans.conformance import events_user_sessions

    from tests.conftest import SF_DIR

    got = events_user_sessions(spark, SF_DIR).collect()
    want = _naive_sessions(spark, SF_DIR).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_skew_fragile_folds_into_regression_count():
    """The bench gate: a skew_fragile or skew_regressions hit must bump
    regression_count so a driver round can't read green while a probed
    plan serializes on a hot key (VERDICT r7 #8)."""
    from bench import fold_skew_into_regression_count

    # clean run, baseline present: stays 0
    out = {"regression_count": 0, "skew_probe": {"skew_fragile": []}}
    assert fold_skew_into_regression_count(out) == 0
    # fragile hit counts even at regression_count 0
    out = {"regression_count": 0, "skew_probe": {"skew_fragile": ["dedup_minhash_lsh"]}}
    assert fold_skew_into_regression_count(out) == 1
    # PURE (ADVICE r8): the top-level field keeps meaning time-only
    # regressions; the folded value lives only in summary.regression_count
    assert out["regression_count"] == 0
    assert "_skew_folded" not in out
    # idempotent by purity: the SIGTERM double-_summarize path can't
    # double-count
    assert fold_skew_into_regression_count(out) == 1
    # pin-doubling hit counts too; overlapping names not double-counted
    out = {
        "regression_count": 2,
        "skew_probe": {
            "skew_fragile": ["a", "b"],
            "skew_regressions": ["b", "c"],
        },
    }
    assert fold_skew_into_regression_count(out) == 5
    # no baseline AND clean probe: None is preserved (None != 0 contract)
    out = {"regression_count": None, "skew_probe": {"skew_fragile": []}}
    assert fold_skew_into_regression_count(out) is None
    # no baseline but a fragile hit: still fails the gate
    out = {"skew_probe": {"skew_fragile": ["x"]}}
    assert fold_skew_into_regression_count(out) == 1


def test_scale_cohort_rotation_priority():
    """The 10× scale tier's per-round cohort: last-run-dropped queries
    first, then never-probed, then least-recently probed; everything
    rotated out is reported by name (no silent caps), also when the
    previous run's cohort is reused."""
    from types import SimpleNamespace

    from bench import pick_scale_cohort

    qs = [SimpleNamespace(name=n) for n in ["a", "b", "c", "d", "e"]]
    hist = {"a": 100.0, "b": 50.0, "d": 10.0}  # c, e never probed
    cohort, rotated = pick_scale_cohort(qs, {"b"}, hist, cap=3)
    # b was dropped last run -> first; c and e never probed -> next
    # (stable module order within the bucket)
    assert [q.name for q in cohort] == ["b", "c", "e"]
    assert rotated == ["a", "d"]
    # no drops, no history: plain prefix, remainder reported
    cohort, rotated = pick_scale_cohort(qs, set(), {}, cap=2)
    assert [q.name for q in cohort] == ["a", "b"]
    assert rotated == ["c", "d", "e"]
    # cap >= len: everything probed, nothing rotated out
    cohort, rotated = pick_scale_cohort(qs, set(), hist, cap=10)
    assert len(cohort) == 5 and rotated == []
    # a reused cohort (previous run at another core count) is still cut
    # to cap, in priority order, and the cut names are reported
    cohort, rotated = pick_scale_cohort(
        qs, {"d"}, hist, cap=2, reuse={"a", "b", "d"}
    )
    assert [q.name for q in cohort] == ["d", "b"]
    assert rotated == ["a", "c", "e"]


def test_video_fingerprint_long_video_int64_safe(spark):
    """>5 sampled frames must fold via XOR instead of overflowing the
    12-bits-per-frame positional packing (ADVICE r7): a 14-frame video
    at every_k=2 has 7 samples; the fingerprint must stay a valid
    non-negative int64 AND still depend on the late (folded) frames."""
    from direct_spark_sql_spark.operators import multimodal as mm
    from direct_spark_sql_spark.operators.videocodec import encode_y4m

    def frames(n, salt):
        w, h, c = 4, 4, 4
        return [
            (
                bytes((x * 7 + f * 11 + salt * (f // 10)) % 256 for x in range(w * h)),
                bytes([128]) * c,
                bytes([128]) * c,
            )
            for f in range(n)
        ]

    rows = [(1, encode_y4m(4, 4, frames(14, 0))), (2, encode_y4m(4, 4, frames(14, 97)))]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    got = {r["doc_id"]: r for r in mm.video_fingerprint(df).collect()}
    assert got[1]["n_frames"] == 14
    for r in got.values():
        assert 0 <= r["vfp"] < (1 << 63)
    # the two videos differ only in frames >= 5 (the folded region):
    # equal fingerprints would mean the fold dropped late frames
    assert got[1]["vfp"] != got[2]["vfp"]


def test_band_array_rejects_oversubscribed_scheme():
    """bands*rows > NUM_PERM must fail fast with a clear message, not an
    unresolved-column AnalysisException mid-plan (ADVICE r7)."""
    import pytest

    from direct_spark_sql_spark.operators import dedup as dd

    with pytest.raises(ValueError, match="banding scheme"):
        dd._band_array(bands=8, rows=4)
    # the boundary case is legal
    dd._band_array(bands=8, rows=2)


def test_pick_deep_cohort_unsafe_gate():
    """VERDICT r10 #6: the deep tier's top-3-worst auto-promotion must
    not send a query whose 10× ratio already blew past 2× the scale
    factor to 30× — that entrant is recorded as skipped_unsafe instead
    (the round-10 bench crashed exactly this way).  Static watch-list
    names are never gated: they carry rounds of history."""
    from bench import pick_deep_cohort

    static = {"pca", "asof"}
    # normal case: top-3 worst promoted, none unsafe
    names, skipped = pick_deep_cohort(
        static, {"a": 9.0, "b": 7.0, "c": 5.0, "d": 2.0}, 10
    )
    assert names == {"pca", "asof", "a", "b", "c"} and skipped == []
    # a pathological 10× ratio (>= 2×factor) is gated out and reported
    names, skipped = pick_deep_cohort(
        static, {"a": 31.0, "b": 7.0, "c": 5.0}, 10
    )
    assert "a" not in names and skipped == ["a"]
    assert names == {"pca", "asof", "b", "c"}
    # a static name is promoted even when its ratio is pathological
    names, skipped = pick_deep_cohort(static, {"pca": 40.0, "b": 3.0}, 10)
    assert "pca" in names and skipped == []
    # empty ratios (scale tier skipped): static set passes through
    names, skipped = pick_deep_cohort(static, {}, 10)
    assert names == static and skipped == []


def test_bench_emits_json_when_a_query_raises(
    spark, tmp_path, monkeypatch, capsys
):
    """VERDICT r10 #1 regression test: round 10's perf evidence was
    destroyed because one raising query exited bench.py with rc=1 and
    zero output.  Inject a raising query into the headline set and
    assert the JSON summary line STILL emits, with the good query's
    number recorded and the failure named in errors/summary.query_errors."""
    import json
    from types import SimpleNamespace

    import bench
    from direct_spark_sql_spark.plans import registry

    def ok_fn(spark, sf_dir):
        return spark.range(10).toDF("x")

    def boom_fn(spark, sf_dir):
        raise RuntimeError("injected failure")

    fakes = [
        SimpleNamespace(name="ok_q", bench=True, spark_fn=ok_fn),
        SimpleNamespace(name="boom_q", bench=True, spark_fn=boom_fn),
    ]
    monkeypatch.setattr(registry, "all_queries", lambda: fakes)
    # probe tiers off: this test pins the base tier's isolation contract
    for var in ("FACADE", "SCALE", "DEEP_SCALE", "SKEW"):
        monkeypatch.setenv(f"SPARK_GRAFT_SKIP_{var}", "1")
    (tmp_path / "baselines").mkdir()
    monkeypatch.setenv("SPARK_GRAFT_BENCH_STATE_DIR", str(tmp_path))
    from tests.conftest import SF_DIR

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_DIR)
    # main() ends with spark.stop(); the session is shared by the whole
    # test run, so neuter stop() for the duration of this test
    from pyspark.sql import SparkSession

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    bench.main()
    line = capsys.readouterr().out.strip().splitlines()[-1]
    out = json.loads(line)
    assert "ok_q" in out["queries"] and out["queries"]["ok_q"] > 0
    assert "boom_q" not in out["queries"]
    assert "injected failure" in out["errors"]["base:boom_q"]
    assert out["summary"]["query_errors"] == ["base:boom_q"]
    assert out["summary"]["truncated"] is False
    # the record also persisted for the next run's tier scheduler
    persisted = json.loads(
        (tmp_path / "baselines" / "bench_last_run.json").read_text()
    )
    assert persisted["summary"]["query_errors"] == ["base:boom_q"]


def test_bench_scale_tier_isolates_scale_only_failure(
    spark, tmp_path, monkeypatch, capsys
):
    """The EXACT round-10 failure class: a query green at base scale
    that raises only on the scaled dataset (recursive_cte_tree_depth hit
    Spark's recursion row limit only at 30×).  The scale tier must
    record the error under scale:<name>, keep the query's base number,
    finish the tier, and emit the JSON line."""
    import json
    from types import SimpleNamespace

    import bench
    from direct_spark_sql_spark.plans import registry

    def ok_fn(spark, sf_dir):
        return spark.range(10).toDF("x")

    def scale_boom_fn(spark, sf_dir):
        if "scaledata" in sf_dir:
            raise RuntimeError("blows up only at scale")
        return spark.range(10).toDF("x")

    fakes = [
        SimpleNamespace(name="ok_q", bench=True, spark_fn=ok_fn),
        SimpleNamespace(name="scale_boom_q", bench=True, spark_fn=scale_boom_fn),
    ]
    monkeypatch.setattr(registry, "all_queries", lambda: fakes)
    for var in ("FACADE", "DEEP_SCALE", "SKEW"):
        monkeypatch.setenv(f"SPARK_GRAFT_SKIP_{var}", "1")
    monkeypatch.setenv("SPARK_GRAFT_SCALE_FACTOR", "2")
    (tmp_path / "baselines").mkdir()
    monkeypatch.setenv("SPARK_GRAFT_BENCH_STATE_DIR", str(tmp_path))
    from tests.conftest import SF_DIR

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_DIR)
    from pyspark.sql import SparkSession

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    bench.main()
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # base tier: BOTH queries green (the failure is scale-only)
    assert out["queries"]["scale_boom_q"] > 0 and out["queries"]["ok_q"] > 0
    # scale tier: the good query measured, the bad one isolated by name
    assert out["scale_probe"]["queries"]["ok_q"] > 0
    assert "scale_boom_q" not in out["scale_probe"]["queries"]
    assert "blows up only at scale" in out["errors"]["scale:scale_boom_q"]
    assert out["summary"]["query_errors"] == ["scale:scale_boom_q"]
    assert out["summary"]["truncated"] is False


def test_scale_full_pass_green_requires_headline_coverage():
    """ADVICE r11: the pre-seal scale gate's green is (no errors) AND
    (every headline name present in x10) — a query that vanished
    upstream of the per-query try (registry shrink, swallowed
    exception) fails the gate instead of passing by absence."""
    from direct_spark_sql_spark.tools.scale_full_pass import gate_green

    heads = {"a", "b", "c"}
    assert gate_green({}, {"a", "b", "c"}, heads) == (True, [])
    # an error alone kills it
    assert gate_green({"x10:a": "boom"}, {"a", "b", "c"}, heads)[0] is False
    # full absence of a headline name kills it even with zero errors
    green, missing = gate_green({}, {"a", "c"}, heads)
    assert green is False and missing == ["b"]


def test_skew_rotation_cursor_cycles_and_bounds_staleness():
    """VERDICT r11 #4: least-recently-probed ordering cycles the whole
    skew set within ceil(N/k) runs, a budget-dropped query re-enters the
    very next run, and skew_stale flags exactly the names >3 epochs old."""
    from bench import skew_rotation_order, skew_stale_names

    names = [f"s{i:02d}" for i in range(19)]
    cursor = {n: 0 for n in names}  # first-run seeding
    probed: set = set()
    # 10 probed per run (budget), 2 runs must cover all 19
    for seq in (1, 2):
        order = skew_rotation_order(names, cursor)
        for n in order[:10]:
            cursor[n] = seq
        probed.update(order[:10])
    assert probed == set(names)
    # a query missed for 4 epochs becomes stale; everyone else is fine
    cursor2 = {n: 5 for n in names}
    cursor2["s07"] = 1
    assert skew_stale_names(set(names), cursor2, 5) == ["s07"]
    assert skew_stale_names(set(names), cursor2, 4) == []
    # never-probed seeds (0) age into staleness like everything else
    cursor3 = dict(cursor2)
    del cursor3["s03"]
    assert "s03" in skew_stale_names(set(names), cursor3, 5)
    # dropped query (stale stamp) sorts first next run
    assert skew_rotation_order(names, cursor2)[0] == "s07"


def test_noise_retime_rule_planted_timings():
    """Host-noise re-run rule (VERDICT r12 #7): a >1.3x single-run ratio
    picks the query for a solo re-time, and the regression gate reads
    the BEST of the two samples — a planted noise spike (10 s first
    sample, 0.9 s re-time vs a 1.0 s pin) must not report as a
    regression, while a genuinely slow query (re-time still 3x pin)
    must."""
    from bench import apply_retimes, pick_noise_retimes

    pins = {"noisy": 1.0, "slow": 1.0, "fine": 1.0, "unpinned": None}
    timings = {"noisy": 10.0, "slow": 3.1, "fine": 1.2, "unpinned": 9.9}
    picks = pick_noise_retimes(timings, {k: v for k, v in pins.items() if v})
    # >1.3x pins only; no pin -> never picked; sorted for determinism
    assert picks == ["noisy", "slow"]
    effective = apply_retimes(timings, {"noisy": 0.9, "slow": 3.0})
    assert effective["noisy"] == 0.9   # noise spike cleared by re-time
    assert effective["slow"] == 3.0    # genuine slowness survives
    assert effective["fine"] == 1.2    # untouched
    # the regression gate's 2x bar over the effective numbers
    regressions = {
        n for n, t in effective.items() if pins.get(n) and t > 2.0 * pins[n]
    }
    assert regressions == {"slow"}
    # re-time WORSE than the first sample never replaces it (min wins)
    assert apply_retimes({"q": 2.0}, {"q": 5.0})["q"] == 2.0
