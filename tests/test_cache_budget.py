"""Round-12 session additions: result-cache byte budget (VERDICT r11 #7)
and EngineBuilder.config typed/dict overloads (VERDICT r11 #8)."""

from direct_spark_sql_spark.session import EngineBuilder, _LRU


def test_lru_evicts_on_byte_budget_under_row_cap():
    """Entries individually small (well under any row cap) must still
    evict once their tracked bytes exceed the budget — LRU first."""
    lru = _LRU(capacity=1000, max_bytes=1000)
    lru.put("a", "va", nbytes=400)
    lru.put("b", "vb", nbytes=400)
    assert lru.bytes == 800 and len(lru._data) == 2
    # +400 busts the 1000-byte budget -> "a" (LRU) evicted
    lru.put("c", "vc", nbytes=400)
    assert lru.get("a") is None
    assert lru.get("b") == "vb" and lru.get("c") == "vc"
    assert lru.bytes == 800
    # touching "b" makes "c" the LRU victim for the next eviction
    lru.get("b")
    lru.put("d", "vd", nbytes=400)
    assert lru.get("c") is None and lru.get("b") == "vb"


def test_lru_refuses_single_entry_over_budget():
    """One entry larger than the whole budget is refused outright
    (caching it would evict everything else and still bust the cap)."""
    lru = _LRU(capacity=1000, max_bytes=1000)
    lru.put("small", "v", nbytes=100)
    lru.put("huge", "v", nbytes=5000)
    assert lru.get("huge") is None
    assert lru.get("small") == "v"
    assert lru.bytes == 100


def test_lru_byte_accounting_through_replace_drop_clear():
    lru = _LRU(capacity=10, max_bytes=10_000)
    lru.put("k", "v1", nbytes=100)
    lru.put("k", "v2", nbytes=300)  # replace: old weight released
    assert lru.bytes == 300
    lru.put("x", "v", nbytes=50)
    lru.drop_where(lambda key, _: key == "k")
    assert lru.bytes == 50
    lru.clear()
    assert lru.bytes == 0 and len(lru._data) == 0


def test_result_bytes_are_the_cached_tables_nbytes(spark):
    """Each result-cache entry weighs its Arrow table's exact nbytes."""
    from direct_spark_sql_spark.session import Engine

    e = Engine(spark.newSession())
    e.register_table(
        "tn",
        [{"s": "y" * (i + 1), "i": i, "xs": list(range(i))} for i in range(20)],
        "s string, i long, xs array<int>",
    )
    tables = [
        e.sql_directly(f"SELECT * FROM tn WHERE i <= {k} ORDER BY i")
        for k in (0, 5, 19)
    ]
    st = e.cache_stats()
    assert st["result_entries"] == 3
    assert st["result_bytes"] == sum(t.arrow.nbytes for t in tables) > 0


def test_engine_result_cache_respects_byte_budget(spark):
    """End-to-end: a narrow-budget engine evicts older results on bytes
    while every entry is far under the row cap, and cache_stats exposes
    the budget + live bytes."""
    from direct_spark_sql_spark.session import Engine

    e = Engine(spark.newSession(), result_cache_max_bytes=6_000)
    e.register_table(
        "tb", [{"s": "y" * 500, "i": i} for i in range(8)], "s string, i long"
    )
    # each result is ~>2 KiB (500-char strings x rows); 3+ results bust 6 KB
    for k in range(6):
        e.sql_directly(f"SELECT s, i FROM tb WHERE i <= {k} ORDER BY i")
    st = e.cache_stats()
    assert st["result_max_bytes"] == 6_000
    assert 0 < st["result_bytes"] <= 6_000
    assert st["result_entries"] < 6  # evicted on bytes, not entry cap


def test_builder_config_typed_and_dict_overloads():
    b = EngineBuilder()
    b.config("k.str", "v").config("k.int", 5).config("k.float", 1.5)
    b.config("k.true", True).config("k.false", False)
    b.config({"k.d1": 7, "k.d2": True, "k.d3": "s"})
    assert b._conf["k.str"] == "v"
    assert b._conf["k.int"] == "5"
    assert b._conf["k.float"] == "1.5"
    assert b._conf["k.true"] == "true"  # JVM-style lowercase
    assert b._conf["k.false"] == "false"
    assert b._conf["k.d1"] == "7" and b._conf["k.d2"] == "true"
    import pytest

    with pytest.raises(TypeError):
        b.config({"a": 1}, "second-arg")
    with pytest.raises(TypeError):
        b.config("key", object())
    with pytest.raises(TypeError):
        b.config()


def test_ivf_coordinator_caches_are_bounded():
    """VERDICT r12 #4: _IVF_CENTROIDS/_IVF_INDEX_DF must evict across many
    DISTINCT index paths instead of growing forever in a long-lived
    service.  Pure-LRU exercise (no Spark): feed > capacity entries and
    require the footprint to stay at the caps with LRU victims chosen."""
    from decimal import Decimal

    from direct_spark_sql_spark.operators import similarity as sim

    sim._IVF_CENTROIDS.clear()
    sim._IVF_INDEX_DF.clear()
    cents = [(i, [Decimal("1.5")] * 8, 2.0) for i in range(32)]
    nbytes = sim._centroids_nbytes(cents)
    assert nbytes > 32 * 8  # weight tracks K x dim, not a constant
    cap = sim._IVF_CENTROIDS.capacity
    for i in range(cap + 10):
        sim._IVF_CENTROIDS.put(f"/idx/{i}", cents, nbytes)
        sim._IVF_INDEX_DF.put(("app", f"/idx/{i}"), object())
    assert len(sim._IVF_CENTROIDS) == cap
    assert len(sim._IVF_INDEX_DF) == sim._IVF_INDEX_DF.capacity
    assert "/idx/0" not in sim._IVF_CENTROIDS  # LRU victim
    assert f"/idx/{cap + 9}" in sim._IVF_CENTROIDS
    assert sim._IVF_CENTROIDS.bytes == cap * nbytes
    # byte budget also binds: oversized centroid sets evict down to budget
    big = sim._IVF_CENTROIDS.max_bytes // 4 + 1
    for i in range(8):
        sim._IVF_CENTROIDS.put(f"/big/{i}", cents, big)
    assert sim._IVF_CENTROIDS.bytes <= sim._IVF_CENTROIDS.max_bytes
    assert len(sim._IVF_CENTROIDS) <= 4
    sim._IVF_CENTROIDS.clear()
    sim._IVF_INDEX_DF.clear()
