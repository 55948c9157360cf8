"""Similarity search over embedding columns (``array<float>``).

Two tiers, mirroring what a 100 TB pipeline needs:

- :func:`cosine_topk` — brute-force scored scan for one query vector: a
  single pass, no shuffle except the final top-k (TakeOrderedAndProject).
  The per-row dot product runs in exact DECIMAL arithmetic via JVM
  higher-order functions (zip_with + aggregate) — no Python, no UDF, and
  bit-identical to the DuckDB oracle.
- :func:`srp_near_duplicates` — signed-random-projection LSH (Charikar):
  deterministic Rademacher (±1) hyperplanes turn each vector into band
  fingerprints; candidate pairs come from equal-band equi-joins and are
  then verified with the exact decimal cosine.  Candidates scale with
  collision density, not n².

Exactness note: every float is cast to DECIMAL(12,9) before arithmetic;
sums of products stay ≤ DECIMAL(38,18); the final egress goes through
DECIMAL(24,6) → DOUBLE (see plans/base.py for why that keeps both engines
bit-identical).  Rademacher planes (±1 entries) keep the projections inside
decimal arithmetic — a float-coefficient hyperplane would reintroduce
nondeterministic float summation.
"""

from __future__ import annotations

import hashlib
import sys

from pyspark.sql import Column, DataFrame, functions as F

from direct_spark_sql_spark.operators.text import let_once
from direct_spark_sql_spark.session import _LRU

DEC_ELEM = "decimal(12,9)"
#: Accumulator is (28,18), NOT (38,18): Spark's decimal addition at the
#: 38-digit cap reduces scale (→ (38,17), lossy and a type mismatch for
#: F.aggregate's merge lambda).  At (28,18), (28,18)+(25,18) → (29,18)
#: exactly, and the cast back to (28,18) only drops unused integer
#: headroom — no rounding, values here are < 1e10.
DEC_ACC = "decimal(28,18)"
DEC_OUT = "decimal(24,6)"


def _acc_add(acc: "Column", x: "Column") -> "Column":
    return (acc + x).cast(DEC_ACC)

# SRP banding s-curve, stated honestly: for a pair at angle theta the
# per-bit agreement probability is 1 - theta/pi, a band collides with
# p_bit^SRP_BITS_PER_BAND, and a pair becomes a candidate with
# 1 - (1 - p_band)^SRP_BANDS.  With 2 bands x 8 bits this is tuned for
# bounded candidate volume (random pairs collide ~0.8%, keeping the
# banded join far from n^2) at the cost of recall on anything but very
# tight near-duplicates: cosine 0.95 pairs are caught ~67%, and pairs
# near srp_near_duplicates' default 0.35 verify threshold almost never
# band together (~4%) — the verify threshold bounds what is EMITTED,
# not what is FOUND.  More bands of fewer bits raise recall but multiply
# random-pair candidates (4x4: 23% of ALL pairs collide — unusable at
# scale).  Both engines replay the same banding (the oracle interpolates
# these constants), so the trade is measured, not hidden:
# embedding_near_duplicates' oracle-checked output reflects exactly this
# recall surface.
SRP_BANDS = 2
SRP_BITS_PER_BAND = 8


def rademacher_planes(num_planes: int, dims: int, seed: str = "srp") -> list[list[int]]:
    """Deterministic ±1 hyperplanes from the MD5 bitstream — reproducible in
    any engine / language without shared state."""
    planes = []
    for p in range(num_planes):
        bits: list[int] = []
        counter = 0
        while len(bits) < dims:
            digest = hashlib.md5(f"{seed}-{p}-{counter}".encode()).digest()
            for byte in digest:
                for k in range(8):
                    bits.append(1 if (byte >> k) & 1 else -1)
            counter += 1
        planes.append(bits[:dims])
    return planes


def _dec_vec(col: Column | str) -> Column:
    """float32 → DOUBLE → DECIMAL(12,9).  The double hop is load-bearing:
    casting REAL straight to DECIMAL rounds differently in DuckDB (off by
    1 in the 9th decimal for ~80% of values); via DOUBLE (exact widening)
    both engines round the identical binary value."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double").cast(DEC_ELEM))


def _dec_elem(col: Column | str) -> Column:
    """Per-element float→DOUBLE→DECIMAL(12,9) funnel for one scalar column
    — the post-explode twin of :func:`_dec_vec`.  ``posexplode(raw)`` +
    this cast runs in whole-stage codegen, while
    ``posexplode(_dec_vec(raw))`` evaluates the interpreted HOF transform
    per row first (round-13 A/B on the (label, dim) centroid agg: −15%
    wall at bit-identical output — same cast chain, applied after the
    Generate instead of inside a CodegenFallback transform)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("double").cast(DEC_ELEM)


def dot_dec(a: Column, b: Column) -> Column:
    """Exact decimal dot product of two equal-length arrays (JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast(DEC_ACC),
        _acc_add,
    )


def norm_sq_dec(a: Column) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: x * x),
        F.lit(0).cast(DEC_ACC),
        _acc_add,
    )


def _to_double(dec_col: Column) -> Column:
    return dec_col.cast(DEC_OUT).cast("double")


def cosine_topk(
    df: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Top-k rows of ``df`` by cosine similarity to the single-row ``query``
    DataFrame (column ``{emb_col}``).  The query side is broadcast; the scan
    side never shuffles until the bounded top-k."""
    # Round-13 (guide §1.2 per-task work): decimal HOF arithmetic runs
    # interpreted, so the query side's decimal cast and norm are computed
    # ONCE in the broadcast subplan (not per scanned row), and the data
    # row's decimal vector + norm² are hoisted into their own projections
    # so the cosine evaluates each exactly once (the ivf_assign pattern).
    # Same operands, same order — sqrt(na)·sqrt(nb) over identical
    # doubles — so every cosine is bit-identical; the (na>0)&(nb>0)
    # zero-norm guard tests the same norm² values as before.
    q = F.broadcast(
        query.select(
            _dec_vec(emb_col).alias("__qdec"),
            _to_double(norm_sq_dec(_dec_vec(emb_col))).alias("__qn2"),
        )
    )
    prepped = (
        df.crossJoin(q)
        .withColumn("__vdec", _dec_vec(emb_col))
        .withColumn("__vn2", _to_double(norm_sq_dec(F.col("__vdec"))))
    )
    cos = F.when(
        (F.col("__vn2") > F.lit(0.0)) & (F.col("__qn2") > F.lit(0.0)),
        _to_double(dot_dec(F.col("__vdec"), F.col("__qdec")))
        / (F.sqrt(F.col("__vn2")) * F.sqrt(F.col("__qn2"))),
    ).otherwise(F.lit(-2.0))
    return (
        prepped.select(F.col(id_col), cos.alias("cosine"))
        .orderBy(F.desc("cosine"), id_col)
        .limit(k)
    )


def cosine_topk_batch(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "q_id",
) -> DataFrame:
    """Top-k per query vector for a BATCH of queries — the ANN-service
    request shape (one shuffle total, not one job per query).

    The query set is broadcast (requests are small; the base table is the
    100 TB side), every partition scores its rows against all queries
    map-side, and a single window ranks per query id.  Returns
    (q_id, id, cosine, rk) with rk ≤ k."""
    from pyspark.sql import Window as W

    # Round-13: same hoist as cosine_topk — per-query decimal cast + norm²
    # precomputed in the broadcast subplan, per-data-row decimal vector +
    # norm² in their own projections, so the per-(row × query) work is one
    # decimal dot instead of two casts and three norms.  Bit-identical
    # (same operands, same order, same zero-norm guard).
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("__qid"),
            _dec_vec(emb_col).alias("__qdec"),
            _to_double(norm_sq_dec(_dec_vec(emb_col))).alias("__qn2"),
        )
    )
    cos = F.when(
        (F.col("__vn2") > F.lit(0.0)) & (F.col("__qn2") > F.lit(0.0)),
        _to_double(dot_dec(F.col("__vdec"), F.col("__qdec")))
        / (F.sqrt(F.col("__vn2")) * F.sqrt(F.col("__qn2"))),
    ).otherwise(F.lit(-2.0))
    scored = (
        df.withColumn("__vdec", _dec_vec(emb_col))
        .withColumn("__vn2", _to_double(norm_sq_dec(F.col("__vdec"))))
        .crossJoin(q)
        .select(
            F.col("__qid").alias(query_id_col),
            F.col(id_col),
            cos.alias("cosine"),
        )
    )
    w = W.partitionBy(query_id_col).orderBy(F.desc("cosine"), id_col)
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(query_id_col, id_col, "cosine", F.col("rk").cast("long").alias("rk"))
    )


def cosine_dec(a: Column, b: Column) -> Column:
    """Exact-deterministic cosine of two decimal vectors: decimal dot and
    norms → DECIMAL(24,6) → DOUBLE, then sqrt/divide (single correctly-
    rounded IEEE ops, identical in every engine).

    Zero-norm guard: a zero vector has no direction, so its cosine is
    pinned to the sentinel -2.0 (below any real cosine) instead of the
    0/0 = NaN the raw formula produces.  This matters because the
    engines DISAGREE about NaN: Spark orders NaN above every number and
    passes ``NaN >= threshold`` filters, while DuckDB's 0/0 yields a
    NULL that sorts/filters the opposite way — so without the guard a
    zero-norm vector would silently top Spark's top-k and pass its
    near-dup thresholds yet vanish from the oracle replay.  With the
    sentinel, degenerate vectors deterministically sink to the bottom
    of rankings and fail every threshold, identically in both engines
    (every oracle cosine site carries the matching CASE WHEN).

    r13: inputs and norms are let-bound (operators/text.py:let_once).
    The textual formula references ``a``/``b`` three times each (guard
    norm, denominator norm, dot) and ``na``/``nb`` twice — with callers
    passing cast-transform expressions, one cosine re-ran the per-element
    decimal cast up to 3× per side and each norm walk twice.  Bound as
    lambda variables everything evaluates once; identical IEEE/decimal
    arithmetic on the same values."""
    return let_once(a, lambda aa: let_once(b, lambda bb: let_once(
        _to_double(norm_sq_dec(aa)), lambda na: let_once(
            _to_double(norm_sq_dec(bb)), lambda nb: F.when(
                (na > F.lit(0.0)) & (nb > F.lit(0.0)),
                _to_double(dot_dec(aa, bb)) / (F.sqrt(na) * F.sqrt(nb)),
            ).otherwise(F.lit(-2.0))))))


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    cell_col: str = "cell_id",
    drop_unassigned: bool = False,
) -> DataFrame:
    """IVF cell assignment: each vector gets the centroid with the highest
    cosine (ties → lowest cell id).

    Scale shape: the centroid set (K rows) is collapsed to a single-row
    array and broadcast, and the argmax runs *inside the row scan* via
    F.aggregate — a map-only pass with no shuffle at any input size.  At
    100 TB the output would be written partitioned by ``cell_col`` so
    probes prune partitions; here it feeds the probe join directly."""
    # Decimal higher-order-function arithmetic runs interpreted, so every
    # redundant evaluation costs real time: centroid vectors are cast to
    # decimal and norm'ed ONCE at collection (K rows), and the data row's
    # decimal vector + norm are hoisted into their own projection so the
    # per-centroid transform only computes the K dot products.
    # Zero-norm centroids are dropped BEFORE the argmax: their cosine to
    # every vector is 0/0 = NaN, which Spark orders above every number, so
    # a single degenerate centroid (e.g. an empty k-means cluster's mean)
    # would otherwise win every comparison and swallow the whole corpus
    # into one cell.  Mirrors _collect_centroids on the Python probe path.
    #
    # Zero-norm DATA vectors (the other degenerate side): every cosine is
    # NaN, NaN never beats the accumulator, so the vector lands in cell
    # -1 — "unassigned", dropped by the downstream cell equi-joins.  That
    # is the documented assignment-family contract (ivf/kmeans/semantic/
    # centroid-classify oracles replay REAL corpora, which never store
    # all-zero embeddings; the ranking-family cosine — cosine_dec — pins
    # the -2.0 sentinel on BOTH engines instead, because top-k/threshold
    # ops must order degenerate rows deterministically).
    cents = F.broadcast(
        centroids.select(
            F.struct(
                F.col(id_col).alias("cell"),
                _dec_vec(emb_col).alias("cdec"),
                F.sqrt(_to_double(norm_sq_dec(_dec_vec(emb_col)))).alias("cnorm"),
            ).alias("c")
        )
        .filter(F.col("c")["cnorm"] > 0)
        .agg(F.sort_array(F.collect_list("c")).alias("__cents"))
    )
    prepped = (
        df.crossJoin(cents)
        .withColumn("__vdec", _dec_vec(emb_col))
        .withColumn("__vnorm", F.sqrt(_to_double(norm_sq_dec(F.col("__vdec")))))
    )
    if drop_unassigned:
        # ``best.cell >= 0``  <=>  ``__vnorm > 0 AND size(__cents) > 0``:
        # every kept centroid has cnorm > 0 (filter above), so a
        # nonzero-norm vector gets a finite cosine (|cos| ≤ 1 ≪ 2) from
        # the FIRST centroid and the -1 sentinel cannot survive.
        # FIXED-DIMS PRECONDITION (ADVICE r13): the equivalence assumes
        # every vector matches the centroids' dimensionality — on a
        # ragged corpus a positive-norm vector of a DIFFERENT length
        # gets all-NULL cosines from zip_with padding (argmax leaves -1)
        # yet passes this norm filter.  The embedding corpora this
        # engine replays are fixed-width by construction (same contract
        # as ivf_pq_topk's literal-codebook subspace slices); a ragged
        # deployment must pre-filter on size(emb) at the call site.  A
        # zero-norm vector's cosines are all NULL (never beat the
        # accumulator) and an empty centroid list returns the init — both
        # leave -1.  Filtering on the CHEAP norm (one self-dot) here
        # keeps the K-dot argmax evaluated ONCE: a caller-side filter on
        # the sentinel re-inlined the whole argmax into the pushed-down
        # predicate, doubling the assignment stage (r13 plan audit of
        # embedding_centroid_classify: the argmax appeared in both the
        # join condition and the project).
        prepped = prepped.filter((F.col("__vnorm") > 0) & (F.size("__cents") > 0))
    scored = F.transform(
        F.col("__cents"),
        lambda c: F.struct(
            c["cell"].cast("long").alias("cell"),
            (
                _to_double(dot_dec(F.col("__vdec"), c["cdec"]))
                / (F.col("__vnorm") * c["cnorm"])
            ).alias("cos"),
        ),
    )
    best = F.aggregate(
        scored,
        F.struct(
            F.lit(-1).cast("long").alias("cell"), F.lit(-2.0).alias("cos")
        ),
        lambda acc, s: F.when(s["cos"] > acc["cos"], s).otherwise(acc),
    )
    return prepped.select("*", best["cell"].alias(cell_col)).drop(
        "__cents", "__vdec", "__vnorm"
    )


#: index paths already written by this process (avoids re-listing the FS on
#: every probe; the existence check still makes cold processes reuse a
#: previously-built index on disk).
_IVF_BUILT: set[str] = set()


def ivf_build(
    df: DataFrame,
    centroids: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> None:
    """Build the IVF index: assign every vector to its nearest centroid and
    materialize the table **partitioned by cell_id**.

    This is the offline half of the build/probe split: the N×K assignment
    scan happens once, not per query.  At 100 TB the partitioned layout is
    the whole point — a probe reads only the ``nprobe`` cell directories
    (static partition pruning), never the full corpus.

    The vector's decimal norm² (as the exact DOUBLE the cosine needs) is
    precomputed into the index: it is query-independent, and the decimal
    HOF arithmetic runs interpreted, so storing it halves+ the per-probe
    row work (dot only, no norms)."""
    assigned = ivf_assign(df, centroids, id_col, emb_col).withColumn(
        "__norm_sq_d", _to_double(norm_sq_dec(_dec_vec(emb_col)))
    )
    # repartition by cell → one file per cell per shuffle partition, so a
    # probe opens O(nprobe) files instead of O(nprobe × writer-tasks).
    assigned.repartition("cell_id").write.mode("overwrite").partitionBy(
        "cell_id"
    ).parquet(index_path)
    _IVF_BUILT.add(index_path)
    # Rebuild-at-same-path: evict coordinator caches keyed on this path, or a
    # later probe would serve the *old* centroid metadata and a DataFrame
    # whose file listing references overwritten files.
    _IVF_CENTROIDS.drop_where(lambda k, _: k == index_path)
    _IVF_INDEX_DF.drop_where(lambda k, _: k[1] == index_path)


def _ivf_probe(
    query: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    id_col: str,
    emb_col: str,
) -> tuple[list[int], float]:
    """One K-row job: (probed cell ids, query norm² as exact double).

    The query norm is query-constant, so fetching it here (a free extra
    column on nprobe rows) means the per-row probe scan never evaluates a
    norm — only the dot product."""
    q = F.broadcast(query.select(F.col(emb_col).alias("__q")))
    rows = (
        centroids.crossJoin(q)
        .select(
            F.col(id_col).cast("long").alias("cell_id"),
            cosine_dec(_dec_vec(emb_col), _dec_vec("__q")).alias("__pcos"),
            _to_double(norm_sq_dec(_dec_vec("__q"))).alias("__qn"),
        )
        .orderBy(F.desc("__pcos"), "cell_id")
        .limit(nprobe)
        .collect()
    )
    return [r["cell_id"] for r in rows], (rows[0]["__qn"] if rows else 0.0)


def _pydec9(x: float) -> "Decimal":
    """Python replica of Spark's DOUBLE → DECIMAL(12,9) cast: shortest
    decimal repr (BigDecimal.valueOf semantics ≙ Python repr) quantized
    HALF_UP to 9 dp.  Verified bit-identical by the differential suite."""
    from decimal import ROUND_HALF_UP, Decimal

    return Decimal(repr(x)).quantize(Decimal("1e-9"), rounding=ROUND_HALF_UP)


def _pydec_to_double(d: "Decimal") -> float:
    """DECIMAL → DECIMAL(24,6) → DOUBLE, Python twin of :func:`_to_double`."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(d.quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


#: coordinator-cached centroid metadata per index: (cell_id, decimal vector,
#: norm² as exact double).  Centroids are index *metadata* (K ≈ √N rows even
#: at 100 TB) — an ANN service loads them once at index-open; re-collecting
#: them per query would pay a full job for a constant.  Byte-budgeted LRU
#: (VERDICT r12 #4): one index's centroids are bounded, but a long-lived
#: service opening many DISTINCT index paths would otherwise accumulate
#: them forever — same failure mode the result cache's byte budget closed.
_IVF_CENTROIDS = _LRU(capacity=64, max_bytes=256 << 20)

#: resolved index DataFrame per (spark app, path) — skips per-query
#: partition-tree re-listing; safe because a built index is immutable.
#: Entry-capped: a DataFrame handle is a small driver-side plan object,
#: but the cap keeps a many-index service from pinning stale sessions.
_IVF_INDEX_DF = _LRU(capacity=64)


def _centroids_nbytes(cents: list[tuple[int, list, float]]) -> int:
    """Approximate byte weight of one index's centroid metadata: the objects
    of the first ``(id, vector, norm)`` entry, times K (one dimensionality)."""
    if not cents:
        return 64
    cid, vec, norm = cents[0]
    return 64 + len(cents) * sum(map(sys.getsizeof, (cents[0], cid, vec, norm, *vec)))


def _collect_centroids(
    centroids: DataFrame, id_col: str, emb_col: str
) -> list[tuple[int, list, float]]:
    rows = centroids.select(
        F.col(id_col).cast("long").alias("__cid"),
        F.col(emb_col).cast("array<double>").alias("__e"),
    ).collect()
    out = []
    for r in rows:
        cdec = [_pydec9(x) for x in r["__e"]]
        cn = _pydec_to_double(sum(x * x for x in cdec))
        # A zero-norm centroid has no direction: its cosine to EVERY
        # vector is 0/0 = NaN, and both Spark and DuckDB order NaN above
        # every number, so one degenerate centroid (e.g. the mean of an
        # empty cluster from a k-means round) would win every argmax and
        # swallow the whole corpus.  Skip it — no vector can meaningfully
        # belong to a direction-less cell.
        if cn > 0:
            out.append((r["__cid"], cdec, cn))
    return out


def _probe_select(
    cents: list[tuple[int, list, float]], qvec: list[float], nprobe: int
) -> tuple[list[int], float]:
    """Exact-decimal probe argmax in Python — the FAISS-coordinator shape.

    The decimal arithmetic replicates the JVM/DuckDB funnel exactly (same
    quantization points: →(12,9) HALF_UP, sum exact, →(24,6) HALF_UP →
    correctly-rounded double, IEEE sqrt/divide), so probe selection is
    bit-identical to the all-Spark path.  Returns (cell ids, query norm²).
    """
    import math

    qdec = [_pydec9(x) for x in qvec]
    qn = _pydec_to_double(sum(x * x for x in qdec))
    if qn == 0:
        # a zero-norm query has no direction to probe toward; a NaN
        # cosine here would sort arbitrarily under Python's Timsort
        # (every NaN comparison is False) and non-deterministically
        # diverge from the Spark path's NaN-is-greatest ordering
        raise ValueError("zero-norm query vector: cosine probe undefined")
    scored = []
    for cid, cdec, cn in cents:
        # cn > 0 guaranteed: _collect_centroids drops zero-norm centroids
        dot = _pydec_to_double(sum(a * b for a, b in zip(cdec, qdec)))
        scored.append((dot / (math.sqrt(cn) * math.sqrt(qn)), cid))
    scored.sort(key=lambda t: (-t[0], t[1]))
    return [cid for _, cid in scored[:nprobe]], qn


def ivf_topk_vec(
    spark,
    qvec: list[float],
    index_path: str,
    centroids=None,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """ANN-service request shape: the query arrives as a *vector* (the way a
    real serving request does), the index was built offline, the centroids
    live in coordinator memory — the per-request work is ONE Spark job: a
    partition-pruned scan of ``nprobe`` cells + per-row decimal dot +
    bounded top-k.  ``centroids`` (a DataFrame, or a zero-arg callable
    returning one so steady-state requests skip even the DataFrame
    construction) is only consulted — and collected, once — if this
    index's metadata isn't cached yet."""
    cents = _IVF_CENTROIDS.get(index_path)
    if cents is None:
        if centroids is None:
            raise ValueError("centroids required on first use of this index")
        if callable(centroids):
            centroids = centroids()
        cents = _collect_centroids(centroids, id_col, emb_col)
        _IVF_CENTROIDS.put(index_path, cents, _centroids_nbytes(cents))
    cells, q_norm_sq = _probe_select(cents, list(qvec), nprobe)
    df_key = (spark.sparkContext.applicationId, index_path)
    assigned = _IVF_INDEX_DF.get(df_key)
    if assigned is None:
        assigned = spark.read.parquet(index_path)
        _IVF_INDEX_DF.put(df_key, assigned)
    # The whole projection is built as ONE SQL text: per-element F.lit and
    # per-lambda Column construction cost a Py4J round trip each (~0.4 s of
    # driver latency for 64 dims — measured; it dominated the request before
    # the Spark job even started).  String→DOUBLE casts parse correctly-
    # rounded, so the literal funnel (float→double→DECIMAL(12,9)) is
    # identical to the Column version the oracle replays.
    q_arr = "array(" + ",".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in qvec) + ")"
    dot = (
        f"aggregate(zip_with("
        f"transform({emb_col}, x -> CAST(CAST(x AS DOUBLE) AS {DEC_ELEM})), "
        f"transform({q_arr}, x -> CAST(x AS {DEC_ELEM})), "
        f"(x, y) -> x * y), "
        f"CAST(0 AS {DEC_ACC}), (acc, x) -> CAST(acc + x AS {DEC_ACC}))"
    )
    cosine = (
        f"CAST(CAST({dot} AS {DEC_OUT}) AS DOUBLE)"
        f" / (sqrt(__norm_sq_d) * sqrt(CAST('{float(q_norm_sq)!r}' AS DOUBLE)))"
    )
    cell_list = ",".join(str(int(c)) for c in cells) or "-1"
    return (
        assigned.where(f"cell_id IN ({cell_list})")
        .selectExpr(id_col, f"{cosine} AS cosine")
        .orderBy(F.desc("cosine"), id_col)
        .limit(k)
    )


def ivf_topk(
    df: DataFrame,
    query: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    index_path: str | None = None,
) -> DataFrame:
    """IVF approximate top-k: score only vectors whose cell is among the
    ``nprobe`` cells nearest the query.

    Build/probe split: the assignment table is materialized once at
    ``index_path`` (partitioned by cell_id) and reused by every subsequent
    query; the per-query work is the K-row probe + a partition-pruned scan
    of ``nprobe`` cells + the bounded top-k.  Without ``index_path`` the
    assignment is computed inline (one-shot mode — correct, but it rescans
    the corpus per query; always pass a path in service shape).  Recall is
    approximate by construction (vectors in unprobed cells are unseen) —
    the trade the IVF structure exists to make."""
    spark = df.sparkSession
    if index_path is not None:
        import os

        if index_path not in _IVF_BUILT and not os.path.exists(
            os.path.join(index_path, "_SUCCESS")
        ):
            ivf_build(df, centroids, index_path, id_col, emb_col)
        _IVF_BUILT.add(index_path)
        # The index is immutable once built: reuse the resolved DataFrame so
        # repeat queries skip re-listing the partition tree (a real cost in
        # a service loop, and exactly what a long-running reader would do).
        df_key = (spark.sparkContext.applicationId, index_path)
        assigned = _IVF_INDEX_DF.get(df_key)
        if assigned is None:
            assigned = spark.read.parquet(index_path)
            _IVF_INDEX_DF.put(df_key, assigned)
    else:
        assigned = ivf_assign(df, centroids, id_col, emb_col).withColumn(
            "__norm_sq_d", _to_double(norm_sq_dec(_dec_vec(emb_col)))
        )

    cents = _IVF_CENTROIDS.get(index_path) if index_path is not None else None
    if cents is None:
        cents = _collect_centroids(centroids, id_col, emb_col)
        if index_path is not None:
            _IVF_CENTROIDS.put(index_path, cents, _centroids_nbytes(cents))
    qrows = query.select(F.col(emb_col).cast("array<double>").alias("__e")).collect()
    qvec = qrows[0]["__e"] if qrows else []
    cells, q_norm_sq = _probe_select(cents, qvec, nprobe) if qvec else ([], 0.0)
    # The query vector is inlined as a typed decimal literal array: the scan
    # job then has NO broadcast exchange and no join at all — one pruned
    # file scan + per-row dot + bounded top-k.
    q_lit = _dec_vec(F.lit([float(x) for x in qvec]).cast("array<double>"))
    return (
        # literal IN-list on the partition column → static partition
        # pruning: the scan touches only the nprobe cell directories.
        # Per-row work is ONE decimal dot product; both norms come
        # precomputed (index column / probe-time literal), and the division
        # is the same exact-double expression the oracle evaluates.
        assigned.filter(F.col("cell_id").isin(cells))
        .select(
            F.col(id_col),
            # zero-norm sentinel, same contract as cosine_dec (norms are
            # precomputed here: index column / probe-time literal)
            F.when(
                (F.col("__norm_sq_d") > F.lit(0.0)) & (F.lit(q_norm_sq) > F.lit(0.0)),
                _to_double(dot_dec(_dec_vec(emb_col), q_lit))
                / (F.sqrt(F.col("__norm_sq_d")) * F.sqrt(F.lit(q_norm_sq))),
            )
            .otherwise(F.lit(-2.0))
            .alias("cosine"),
        )
        .orderBy(F.desc("cosine"), id_col)
        .limit(k)
    )


def srp_band_table(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dims: int = 64,
    bands: int = SRP_BANDS,
    bits_per_band: int = SRP_BITS_PER_BAND,
) -> DataFrame:
    """(id, band_idx, band_val) — Charikar sign bits grouped into bands.

    bit(p) = [ Σ_i plane_p[i] * emb[i] > 0 ], computed in exact decimal so
    the sign is engine-independent even at the boundary.

    Rows whose vector length differs from ``dims`` are EXCLUDED: zip_with
    would null-pad the shorter side, the null would poison every
    projection to NULL, every bit to 0, and all such vectors would
    collide in every band — silently turning the banded join into the
    all-pairs blowup this operator exists to avoid.  A mismatched row
    cannot be meaningfully hashed by these planes, so it is dropped here
    (callers see the row count difference) rather than mis-bucketed."""
    planes = rademacher_planes(bands * bits_per_band, dims)
    df = df.filter(F.size(F.col(emb_col)) == dims)

    # projection for plane p: aggregate of ±emb[i] — signs as a literal
    # array.  The decimal vector is let-bound (r13): all bands·bits
    # projections live in ONE explode-input expression, and each used to
    # re-run the per-element float→decimal cast transform — 48 casts of
    # the whole vector per row, now one.
    def _bands(v: Column) -> Column:
        band_structs = []
        for b in range(bands):
            val: Column | None = None
            for r in range(bits_per_band):
                p = b * bits_per_band + r
                signs = F.array(*[F.lit(s) for s in planes[p]])
                proj = F.aggregate(
                    F.zip_with(v, signs, lambda x, s: x * s.cast(DEC_ELEM)),
                    F.lit(0).cast(DEC_ACC),
                    _acc_add,
                )
                bit = F.when(proj > 0, F.lit(1 << r).cast("long")).otherwise(
                    F.lit(0).cast("long")
                )
                val = bit if val is None else val + bit
            band_structs.append(
                F.struct(F.lit(b).alias("band_idx"), val.alias("band_val"))
            )
        return F.array(*band_structs)

    return df.select(
        F.col(id_col),
        F.explode(let_once(_dec_vec(emb_col), _bands)).alias("bd"),
    ).select(id_col, "bd.band_idx", "bd.band_val")


def srp_near_duplicates(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dims: int = 64,
    threshold: float = 0.35,
) -> DataFrame:
    """LSH-bucketed near-duplicate pairs: candidates from equal SRP bands,
    verified with the exact decimal cosine ≥ threshold."""
    bt = srp_band_table(df, id_col, emb_col, dims)
    a, b = bt.alias("a"), bt.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(emb_col).alias("__ea"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(emb_col).alias("__eb"))
    cosine = cosine_dec(_dec_vec("__ea"), _dec_vec("__eb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", cosine.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def quantize_int8(
    emb: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-vector int8 scalar quantization: codes in [-127, 127] with the
    vector's own (min, max) as the dequantization scale.

    The memory lever for ANN at 100 TB: a float32 embedding column shrinks
    4× (plus 16 bytes of scale per vector), which is what lets an IVF /
    LSH index for a billion-vector corpus fit in cluster RAM.  Map-only —
    no shuffle, no Python; the transform runs per row.

    Cross-engine exactness: float32 widens to DOUBLE exactly, then
    ``floor((v - mn) * 254 / rng + 0.5)`` is pure IEEE arithmetic + an
    exact floor, so codes are bit-identical in any engine. Constant
    vectors (rng = 0) quantize to all-zero codes.
    """
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    return emb.select(
        F.col(id_col),
        _int8_codes(F.col(vec_col)).alias("codes"),
        F.array_min(x).alias("scale_min"),
        F.array_max(x).alias("scale_max"),
    )


def kmeans_refine_step(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """One k-means (Lloyd) refinement step — how IVF coarse quantizers
    are trained at scale (Jégou et al., "Product Quantization for Nearest
    Neighbor Search", TPAMI'11).

    Semantics note: the E-step assigns by COSINE (ivf_assign) while the
    M-step is the plain arithmetic mean of raw member vectors — the
    standard Lloyd update, not the spherical-k-means update (mean of
    direction-normalized members).  With (near-)unit-norm embeddings the
    two coincide; with wildly mixed magnitudes a high-norm outlier can
    dominate its cluster's mean direction.  The raw mean is kept because
    it is exactly engine-replayable in decimal (a normalized mean would
    interpose a per-element IEEE division before the order-independent
    decimal sum, breaking the bit-exact oracle contract).

    E-step: :func:`ivf_assign` (broadcast centroids, map-only argmax —
    no shuffle).  M-step: per-cluster per-dimension mean via ONE hash
    aggregate on (cluster, dim) after posexplode — the only shuffle, keyed
    by K×dims values, so reducers stay balanced no matter how skewed the
    cluster sizes are (a groupBy(cluster) of whole vectors would put a
    mega-cluster on one reducer; exploding by dimension spreads it).

    Element sums run in exact decimal (order-independent), so the refined
    centroids are engine-replayable; the final mean is one IEEE division.
    Returns (cluster_id, dim_i, centroid, n_members) — dim_i is 1-based.
    """
    assigned = ivf_assign(df, centroids, id_col, emb_col, cell_col="cluster_id")
    elems = assigned.select(
        "cluster_id", F.posexplode(F.col(emb_col)).alias("dim_i0", "__raw")
    ).select("cluster_id", "dim_i0", _dec_elem("__raw").alias("a"))
    return (
        elems.groupBy("cluster_id", (F.col("dim_i0") + 1).cast("long").alias("dim_i"))
        .agg(
            (_to_double(F.sum("a")) / F.count(F.lit(1)).cast("double")).alias("centroid"),
            F.count(F.lit(1)).cast("long").alias("n_members"),
        )
        .orderBy("cluster_id", "dim_i")
    )


def label_centroid_classify(
    df: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid label evaluation (Rocchio-style) over a labeled
    embedding corpus: per-label mean centroids, every vector re-assigned
    to the centroid with the highest cosine, reported as a
    (label, pred_label) confusion matrix with per-label fractions — the
    embedding-space label-quality audit for a training corpus (mislabeled
    or entangled classes surface as heavy off-diagonal cells).

    Scale shape: the centroid step is ONE (label, dim) hash agg after
    posexplode (bounded L×d keys, balanced under label skew — the same
    shape as :func:`kmeans_refine_step`'s M-step); assignment is
    :func:`ivf_assign`'s broadcast map-only argmax (no shuffle on the
    data side at any corpus size); the confusion matrix is a bounded L²
    hash agg with an L-row broadcast join for the fractions.

    Exactness: element sums in exact decimal, centroid = one IEEE
    division, cosine on DECIMAL(24,6)-snapped dots — the engine-
    replayable contract shared by the IVF / k-means family.
    """
    elems = df.select(
        F.col(label_col).cast("long").alias("__lbl"),
        F.posexplode(F.col(emb_col)).alias("__dim", "__raw"),
    ).select("__lbl", "__dim", _dec_elem("__raw").alias("__a"))
    cent_elems = elems.groupBy("__lbl", "__dim").agg(
        (_to_double(F.sum("__a")) / F.count(F.lit(1)).cast("double")).alias("__c")
    )
    centroids = (
        cent_elems.groupBy("__lbl")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__dim", "__c"))),
                lambda s: s["__c"],
            ).alias(emb_col)
        )
        .select(F.col("__lbl").alias(id_col), emb_col)
    )
    # ivf_assign marks zero-norm data vectors with its unassigned -1
    # sentinel; unlike the IVF probe path, nothing downstream here drops
    # them via a cell equi-join, and the DuckDB oracle's NaN-first
    # ROW_NUMBER would assign such a vector a real label — an engine
    # mismatch on degenerate corpora.  drop_unassigned excludes them
    # INSIDE the assignment via the equivalent cheap pre-filter (r13):
    # a post-hoc ``pred_label >= 0`` filter was pushed down with the
    # full argmax expression re-inlined, running the K-dot assignment
    # twice per row.
    assigned = ivf_assign(
        df, centroids, id_col=id_col, emb_col=emb_col, cell_col="pred_label",
        drop_unassigned=True,
    )
    conf = assigned.groupBy(
        F.col(label_col).cast("long").alias("label"),
        F.col("pred_label").cast("long").alias("pred_label"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    # Per-label fractions via a window over the BOUNDED (≤ L²-row)
    # confusion relation rather than a groupBy(label)+broadcast join-back:
    # the join-back's broadcast subplan duplicated the entire upstream
    # centroid+assignment pipeline in the physical plan (round-13 plan
    # audit: two full ObjectHashAggregate/Generate chains), re-running the
    # most expensive stage; the window keys on `label`, whose cardinality
    # is the label vocabulary (not data volume), so no skew exposure.
    # Same BIGINT per-label sum, same single IEEE division — bit-identical.
    from pyspark.sql import Window

    w = Window.partitionBy("label")
    return (
        conf.select(
            "label",
            "pred_label",
            "n_vectors",
            (
                F.col("n_vectors").cast("double")
                / F.sum("n_vectors").over(w).cast("double")
            ).alias("frac"),
        )
        .orderBy("label", "pred_label")
    )


def standardize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-dimension z-score standardization — the feature-normalization
    step before clustering/quantization (whitening without rotation).

    Shape: one posexplode + one 64-row hash agg for the (mean, std) table,
    broadcast back for the map-only z-transform.  The stats table is
    O(dims), so the join never shuffles the data side.

    Exactness: per-dim sums run in exact decimal (float → DOUBLE →
    DECIMAL(12,9) elements, see ``_dec_vec``), snap through DECIMAL(24,6)
    at egress, and the remaining mean/std/z arithmetic is IEEE ops on
    identical doubles in every engine.

    Returns (id, dim, z) rows; ``standardize_stats`` aggregates them for
    the registry/oracle surface.
    """
    e = df.select(
        F.col(id_col),
        F.posexplode(F.col(vec_col)).alias("dim", "__raw"),
    ).select(
        id_col, F.col("dim").cast("long").alias("dim"),
        _dec_elem("__raw").alias("v"),
    ).select(
        id_col, "dim", "v",
        F.col("v").cast("double").alias("v_dbl"),
    )
    stats = e.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        _to_double(F.sum("v").cast(DEC_ACC)).alias("s"),
        _to_double(F.sum(F.col("v") * F.col("v")).cast(DEC_ACC)).alias("ss"),
    )
    mean = F.col("s") / F.col("n_vecs").cast("double")
    std = F.sqrt(F.col("ss") / F.col("n_vecs").cast("double") - mean * mean)
    stats = stats.select("dim", "n_vecs", mean.alias("mean"), std.alias("std"))
    return (
        e.join(F.broadcast(stats), "dim")
        .select(
            id_col,
            "dim",
            "n_vecs",
            "mean",
            "std",
            ((F.col("v_dbl") - F.col("mean")) / F.col("std")).alias("z"),
        )
    )


def standardized_outliers(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    top_k: int = 25,
) -> DataFrame:
    """Embedding-space outlier detection by diagonal Mahalanobis distance:
    per-dimension z-scores (:func:`standardize_embeddings`), per-vector
    mean squared z as the outlier score, bounded top-k — the
    remove-the-junk-vectors QA pass run before clustering or ANN index
    training (a full-covariance Mahalanobis needs the 64×64 inverse; the
    diagonal form is the standard first-line screen and needs no
    coordinator linear algebra).

    Scale shape: one posexplode + d-row broadcast stats join (from
    standardize_embeddings), one (id) hash agg, bounded top-k
    (TakeOrderedAndProject) — no self-join, nothing quadratic.

    Exactness: z is IEEE-identical in both engines (decimal-snapped
    element, broadcast stats); z² snaps to INTEGER 1e-9 units
    (``floor(z²·1e9 + 0.5)`` — floor of an identically computed double
    is exact everywhere) BEFORE the per-vector sum, so the score is an
    order-independent BIGINT sum followed by fixed-order IEEE divisions.
    (A double z² sum would depend on Spark's partial-aggregation order,
    and a double→DECIMAL snap hits the engines' differing cast-rounding
    paths — the same reason quality_psi_drift snaps its per-bin
    contributions to integer units.)
    """
    # Zero-variance guard: a constant dimension has std = 0, so z is
    # NaN/Inf — Spark's floor(NaN) casts to NULL (silently vanishing from
    # the sum while n_dims still counts it) and DuckDB's CAST(FLOOR(Inf))
    # errors outright.  Dropping std <= 0 dims (mirrored in
    # OUTLIER_SCORES_ORACLE) makes both engines agree by construction:
    # a constant dimension carries no outlier signal anyway.
    z = standardize_embeddings(df, emb_col, id_col).filter(F.col("std") > 0)
    zz = z.select(
        id_col,
        F.floor(F.col("z") * F.col("z") * F.lit(1.0e9) + F.lit(0.5))
        .cast("long")
        .alias("__zz_u"),
    )
    return (
        zz.groupBy(id_col)
        .agg(
            (
                F.sum("__zz_u").cast("double")
                / F.count(F.lit(1)).cast("double")
                / F.lit(1.0e9)
            ).alias("outlier_score"),
            F.count(F.lit(1)).cast("long").alias("n_dims"),
        )
        .orderBy(F.desc("outlier_score"), id_col)
        .limit(top_k)
    )


def _int8_codes(vec: Column) -> Column:
    """The quantize_int8 code formula as a reusable column expression
    (identical arithmetic — see quantize_int8's exactness note).

    r13: the double array, min and range are let-bound (operators/text.py
    :func:`let_once`) — mn/rng used to sit INSIDE the per-element lambda
    as full array_min/array_max expressions, re-walking the vector per
    element (O(d²) per row); bound as lambda variables they are O(1)
    reads and the quantize is one O(d) pass.  Same IEEE arithmetic."""
    return let_once(
        F.transform(vec, lambda v: v.cast("double")),
        lambda x: let_once(
            F.array_min(x),
            lambda mn: let_once(
                F.array_max(x) - mn,
                lambda rng: F.transform(
                    x,
                    lambda v: F.when(rng == F.lit(0.0), F.lit(0)).otherwise(
                        (F.floor((v - mn) * F.lit(254.0) / rng + F.lit(0.5)) - F.lit(127)).cast("int")
                    ),
                ),
            ),
        ),
    )


def quantized_rerank_topk(
    df: DataFrame,
    query: DataFrame,
    shortlist: int = 50,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Two-stage ANN: int8 code-space shortlist, exact decimal-cosine
    rerank — the standard memory/compute split at corpus scale (the
    coarse stage touches 4×-smaller codes; the exact stage touches only
    ``shortlist`` rows).

    Coarse-stage fidelity, stated honestly: the codes are PER-VECTOR
    min-max affine (quantize_int8), so the integer code dot product
    discards each vector's shift and scale — it is a similarity proxy in
    normalized code space, not an approximation of the true dot product
    (two vectors differing by a constant offset quantize to identical
    codes; a constant query quantizes to all zeros, degenerating the
    shortlist cut to lowest-ids).  For embedding-like inputs (zero-ish
    mean per vector, comparable ranges) the code dot tracks cosine
    ranking well and the exact rerank corrects the shortlist's ordering;
    a scale-aware scheme (symmetric max-abs codes dequantized by stored
    per-vector scales, the faiss SQ8 shape) makes the coarse score a
    true dot estimate at the cost of carrying one float per vector —
    implemented as :func:`sq8_rerank_topk` (round 6); this min-max
    variant is kept as the cheaper proxy for zero-ish-mean corpora.

    Both stages are JVM-side: the coarse score is an integer zip_with sum
    (bit-exact), the shortlist cut is a bounded TakeOrderedAndProject on
    (score, id), and the rerank reuses the exact decimal cosine.  In a
    deployed index the float vectors would be fetched by key for the
    shortlist only; here they ride along, which costs nothing after the
    top-k cut.
    """
    q = F.broadcast(query.select(F.col(emb_col).alias("__q")))
    joined = df.crossJoin(q)
    approx = F.aggregate(
        F.zip_with(_int8_codes(F.col(emb_col)), _int8_codes(F.col("__q")),
                   lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    short = (
        joined.select(id_col, emb_col, "__q", approx.alias("approx_score"))
        .orderBy(F.desc("approx_score"), id_col)
        .limit(shortlist)
    )
    cosine = cosine_dec(_dec_vec(emb_col), _dec_vec("__q"))
    return (
        short.select(id_col, "approx_score", cosine.alias("cosine"))
        .orderBy(F.desc("cosine"), id_col)
        .limit(k)
    )


def sq8_rerank_topk(
    df: DataFrame,
    query: DataFrame,
    shortlist: int = 50,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Two-stage ANN with a SCALE-AWARE int8 coarse stage (the faiss SQ8
    shape): symmetric max-abs quantization — ``code = round(v·127/maxabs)``
    with the per-vector ``scale = maxabs/127`` stored alongside — so the
    coarse score ``scale_a·scale_b·Σ(code_a·code_b)`` is a true estimate
    of the float dot product, not a normalized-code proxy (compare
    :func:`quantized_rerank_topk`, whose min-max codes discard shift and
    scale).  The symmetric scheme's scales FACTOR OUT of the dot, so the
    per-pair work stays one integer zip_with sum plus two double
    multiplies — no per-element dequantization.

    Cross-engine exactness: float32 widens to DOUBLE exactly; codes are
    ``floor(v·127/maxabs + 0.5)`` (pure IEEE + exact floor, identical in
    both engines; zero vectors code to all-zero with scale 0); the coarse
    score is an exact BIGINT sum times two doubles in fixed order; the
    rerank reuses the guarded exact decimal cosine.

    Scale shape: identical to quantized_rerank_topk — broadcast query,
    map-side integer scoring over 4×-smaller codes, bounded
    TakeOrderedAndProject shortlist, exact rerank on ``shortlist`` rows.
    """
    q = F.broadcast(query.select(F.col(emb_col).alias("__q")))

    def maxabs(col: Column) -> Column:
        x = F.transform(col, lambda v: v.cast("double"))
        return F.greatest(F.array_max(x), -F.array_min(x))

    def codes(col: Column, ma: Column) -> Column:
        x = F.transform(col, lambda v: v.cast("double"))
        return F.transform(
            x,
            lambda v: F.when(ma == F.lit(0.0), F.lit(0))
            .otherwise(F.floor(v * F.lit(127.0) / ma + F.lit(0.5)))
            .cast("long"),
        )

    # r13: both maxabs walks are let-bound — each used to be embedded in
    # the per-element quantize lambda (and the score factor), re-walking
    # the vector per element: O(d²) per row, now one O(d) pass each.
    # Identical IEEE arithmetic on the same values.
    def _score(ma_a: Column, ma_q: Column) -> Column:
        intdot = F.aggregate(
            F.zip_with(
                codes(F.col(emb_col), ma_a),
                codes(F.col("__q"), ma_q),
                lambda x, y: x * y,
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        return ((ma_a / F.lit(127.0)) * (ma_q / F.lit(127.0))) * intdot.cast("double")

    score = let_once(
        maxabs(F.col(emb_col)),
        lambda ma_a: let_once(maxabs(F.col("__q")), lambda ma_q: _score(ma_a, ma_q)),
    )
    short = (
        df.crossJoin(q)
        .select(id_col, emb_col, "__q", score.alias("approx_dot"))
        .orderBy(F.desc("approx_dot"), id_col)
        .limit(shortlist)
    )
    cosine = cosine_dec(_dec_vec(emb_col), _dec_vec("__q"))
    return (
        short.select(id_col, "approx_dot", cosine.alias("cosine"))
        .orderBy(F.desc("cosine"), id_col)
        .limit(k)
    )


def semantic_dedup(
    df: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540): cluster the embedding
    space, then prune within-cluster semantic duplicates — each vector
    whose cosine to a LOWER-id member of its own cluster reaches the
    threshold is marked pruned (the lowest id acts as the kept canonical,
    matching the exact-dedup keep-first convention in operators/dedup.py).

    Scale shape: the cluster assignment is :func:`ivf_assign` (broadcast
    centroids, map-only argmax — no shuffle), and candidate generation is
    an equi-join on ``cluster_id`` — the pairwise O(c²) work is confined
    to each cluster, which is the entire point of SemDeDup: K is sized so
    clusters stay small (|c| ≈ N/K), never an all-pairs join.  A
    runaway cluster at 100 TB is handled the same way the paper does —
    raise K (or recurse the assignment inside the big cluster); the plan
    itself never degrades to a cartesian product.  Pair cosines run in
    exact decimal (dot snapped through DECIMAL(24,6)), so the prune
    decisions are engine-replayable bit-for-bit.

    Returns one row per input vector:
    (id, cluster_id, n_lower_members, max_cos_lower, pruned 0/1).
    """
    assigned = ivf_assign(df, centroids, id_col, emb_col, cell_col="cluster_id")
    m = assigned.select(
        F.col(id_col), "cluster_id", _dec_vec(emb_col).alias("__v")
    ).withColumn("__n", F.sqrt(_to_double(norm_sq_dec(F.col("__v")))))
    a = m.select(
        F.col(id_col).alias("id_a"), "cluster_id",
        F.col("__v").alias("__va"), F.col("__n").alias("__na"),
    )
    b = m.select(
        F.col(id_col).alias("id_b"), F.col("cluster_id").alias("__cb"),
        F.col("__v").alias("__vb"), F.col("__n").alias("__nb"),
    )
    # same zero-norm sentinel contract as cosine_dec (norms are hoisted
    # here so each side's sqrt computes once per vector, not per pair)
    cos = F.when(
        (F.col("__na") > F.lit(0.0)) & (F.col("__nb") > F.lit(0.0)),
        _to_double(dot_dec(F.col("__va"), F.col("__vb")))
        / (F.col("__na") * F.col("__nb")),
    ).otherwise(F.lit(-2.0))
    agg = (
        a.join(b, (a.cluster_id == b.__cb) & (F.col("id_b") < F.col("id_a")))
        .select("id_a", cos.alias("__cos"))
        .groupBy("id_a")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lower_members"),
            F.max("__cos").alias("max_cos_lower"),
        )
    )
    return (
        assigned.select(id_col, "cluster_id")
        .join(agg, F.col(id_col) == F.col("id_a"), "left")
        .select(
            id_col,
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.coalesce("n_lower_members", F.lit(0).cast("long")).alias(
                "n_lower_members"
            ),
            "max_cos_lower",
            F.coalesce(
                (F.col("max_cos_lower") >= F.lit(threshold)).cast("int"), F.lit(0)
            ).alias("pruned"),
        )
    )


# ---------------------------------------------------------------------------
# Distributed PCA: covariance accumulation + coordinator eigendecomposition
# ---------------------------------------------------------------------------

def _scan_splits_below_parallelism(df: DataFrame) -> bool:
    """True when the frame's parquet scan would open on fewer input splits
    than the cluster's default parallelism — the tiny-local-file /
    few-row-group case where a pre-expansion round-robin repartition pays.

    Estimated with Spark's own split arithmetic (Σ ceil(bytes /
    maxPartitionBytes) over the scan's files, driver-side Hadoop listing)
    instead of ``df.rdd.getNumPartitions()``: the RDD probe builds the
    full physical plan plus a Python-RDD conversion per call, which
    round-13 profiling measured as the dominant plan-construction cost.
    Conservative on any error (returns False — no extra exchange)."""
    try:
        spark = df.sparkSession
        par = spark.sparkContext.defaultParallelism
        files = df.inputFiles()
        if not files:
            return True  # in-memory relation: spreading is free
        if len(files) >= par:
            return False
        max_pb = int(
            spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        )
        jvm = spark.sparkContext._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        splits = 0
        for f in files:
            p = jvm.org.apache.hadoop.fs.Path(f)
            fs = p.getFileSystem(hconf)
            size = fs.getFileStatus(p).getLen()
            splits += max(1, -(-size // max_pb))
            if splits >= par:
                return False
        return splits < par
    except Exception:  # noqa: BLE001 — sizing probe only, never correctness
        return False


def covariance_entries(
    df: DataFrame, emb_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Upper-triangle covariance entries ``(i, j, cov)`` of a d-dim
    embedding column — the distributed half of PCA.

    Shape chosen for 100 TB: each row expands to its d(d+1)/2 upper-triangle
    products *inside the JVM* (nested ``transform`` + ``flatten``, no join,
    no per-row Python), then ONE hash aggregate of d²-bounded width — the
    classic map-side outer-product accumulation (cf. MLlib RowMatrix
    computeCovariance).  Nothing shuffles except the d(d+1)/2-key agg.

    Exactness: elements go through the float→double→DECIMAL(12,9) funnel
    (`_dec_vec`), products/sums are exact decimal; means and the covariance
    combination are IEEE doubles evaluated in identical textual order in
    the DuckDB oracle (plans/mlops.py).  cov = E[xy] − E[x]·E[y] over the
    *population* (divide by n).
    """
    # The d(d+1)/2-per-row expansion is the compute-heavy stage; when the
    # source has fewer input splits than cores (tiny file locally, or a
    # handful of row-group splits on a cluster) it would otherwise run on
    # that few tasks.  A round-robin repartition of the *pre-expansion*
    # rows (cheap: one narrow vector per row) spreads the expansion across
    # the full parallelism.  The split estimate is driver-side file-size
    # arithmetic (Spark's own bytes/maxPartitionBytes split math) — the
    # previous ``df.rdd.getNumPartitions()`` probe forced a full physical
    # plan + Python-RDD conversion on every call (round-13 measurement:
    # the probe alone dominated plan-construction time).  Either way the
    # result is unaffected: the repartition only spreads rows, and every
    # downstream sum is exact decimal (order-independent).
    if _scan_splits_below_parallelism(df):
        df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    v = df.select(_dec_vec(emb_col).alias("v"))
    n_dim = F.size("v")
    idx = F.sequence(F.lit(0), n_dim - F.lit(1))
    pair_structs = F.flatten(
        F.transform(
            idx,
            lambda i: F.transform(
                F.sequence(i, n_dim - F.lit(1)),
                lambda j: F.struct(
                    i.cast("int").alias("i"),
                    j.cast("int").alias("j"),
                    (F.get("v", i.cast("int")) * F.get("v", j.cast("int"))).alias("xy"),
                ),
            ),
        )
    )
    prods = (
        v.select(F.explode(pair_structs).alias("p"))
        .select("p.i", "p.j", "p.xy")
        .groupBy("i", "j")
        .agg(F.sum("xy").alias("sxy_dec"), F.count(F.lit(1)).cast("long").alias("n"))
    )
    sums = (
        df.select(F.posexplode(F.col(emb_col)).alias("i", "__raw"))
        .select("i", _dec_elem("__raw").alias("a"))
        .groupBy("i")
        .agg(F.sum("a").alias("sx_dec"))
        .select(F.col("i").cast("int").alias("i"), _to_double(F.col("sx_dec")).alias("sx"))
    )
    n_d = F.col("n").cast("double")
    sxy = _to_double(F.col("sxy_dec"))
    cov = sxy / n_d - (F.col("sx") / n_d) * (F.col("sy") / n_d)
    return (
        prods.join(F.broadcast(sums), "i")
        .join(
            F.broadcast(sums.select(F.col("i").alias("j"), F.col("sx").alias("sy"))),
            "j",
        )
        .select(
            F.col("i").cast("long").alias("i"),
            F.col("j").cast("long").alias("j"),
            cov.alias("cov"),
        )
    )


def pca_project(
    df: DataFrame,
    n_components: int = 4,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Project embeddings onto their top-``n_components`` principal axes.

    Distributed work = one covariance accumulation (`covariance_entries`);
    the d×d eigendecomposition is bounded coordinator math (numpy ``eigh``
    on a 64×64 matrix here — same justified-collect class as the IVF
    probe), after which the component matrix is broadcast back into a pure
    JVM projection (one fused dot product per component, no shuffle).

    Sign convention: each eigenvector is flipped so its
    largest-magnitude coordinate is positive (the standard deterministic
    choice — eigenvectors are sign-ambiguous).
    """
    import numpy as np

    ent = covariance_entries(df, emb_col, id_col).collect()  # d(d+1)/2 rows, bounded
    d = max(int(r["j"]) for r in ent) + 1
    cov = np.zeros((d, d))
    for r in ent:
        cov[r["i"], r["j"]] = r["cov"]
        cov[r["j"], r["i"]] = r["cov"]
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:n_components]
    comps = []
    for c in range(len(order)):
        vec = vecs[:, order[c]]
        if abs(vec[np.argmax(np.abs(vec))]) != vec[np.argmax(np.abs(vec))]:
            vec = -vec
        comps.append([float(x) for x in vec])

    out_cols = [F.col(id_col)]
    for c, comp in enumerate(comps):
        comp_arr = F.array(*[F.lit(x) for x in comp])
        dot = F.aggregate(
            F.zip_with(
                F.transform(F.col(emb_col), lambda x: x.cast("double")),
                comp_arr,
                lambda a, b: a * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        out_cols.append(dot.alias(f"pc{c}"))
    return df.select(*out_cols)


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric distance computation (ADC)
# ---------------------------------------------------------------------------

def pq_adc_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id: int = 0,
    n_codes: int = 16,
    m: int = 4,
    dims: int = 64,
    k: int = 10,
) -> DataFrame:
    """Product-quantization encode + ADC top-k (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI'11) — the
    memory-compression half of IVF-PQ: each vector is split into ``m``
    subvectors and each subvector replaced by the index of its nearest
    codebook entry, so a d-float vector becomes ``m`` small codes
    (here 4 × 4 bits).  Query time never decodes: the query's exact
    distance to every codebook entry is precomputed (an m × n_codes
    lookup table) and a vector's distance estimate is the sum of ``m``
    table lookups — the asymmetric distance.

    Codebooks are seed-based for engine-replayability: entry ``c`` of
    subspace ``j`` is the j-th subvector of the vector with
    ``id = c + 1`` (ids 1..n_codes) — PQ with sampled (untrained)
    codebooks, the deterministic analogue of random-init k-means.
    All distances run in exact decimal with the repo's standard
    ROUND-6 / DECIMAL(24,6) egress funnel, so codes AND estimates are
    bit-identical in any engine (argmin ties break on the code index).

    100 TB shape: encoding is the standard N × d × n_codes multiply-add
    scan expressed as one equi-join + hash aggregate keyed
    (vector, subspace, code) — fully shuffle-parallel, no Python, no
    driver materialization; the ADC phase joins the m-code table against
    an m × n_codes lookup side that would broadcast on a cluster.

    Returns the ``k`` nearest (vec_id, adc_dist) to the query vector by
    estimated L2², ascending, ties on id.
    """
    sub = dims // m
    elems = df.select(
        F.col(id_col),
        F.posexplode(F.col(emb_col)).alias("i0", "__raw"),
    ).select(
        id_col,
        _dec_elem("__raw").alias("a"),
        F.floor(F.col("i0") / sub).cast("int").alias("j"),
        F.pmod(F.col("i0"), F.lit(sub)).cast("int").alias("pos"),
    )
    cb = (
        elems.filter(
            (F.col(id_col) >= 1) & (F.col(id_col) <= n_codes)
        ).select(
            (F.col(id_col) - 1).cast("int").alias("c"),
            "j",
            "pos",
            F.col("a").alias("b"),
        )
    )
    # encode: exact L2^2 of every (vector, subspace) against every code
    diff = F.col("a") - F.col("b")
    d2 = (
        elems.filter(F.col(id_col) != query_id)
        .join(cb, ["j", "pos"])
        .groupBy(id_col, "j", "c")
        .agg(F.sum(diff * diff).cast("decimal(24,6)").alias("d2"))
    )
    codes = d2.groupBy(id_col, "j").agg(
        F.min(F.struct("d2", "c")).alias("mc")
    ).select(id_col, "j", F.col("mc.c").alias("code"))
    # query-side lookup table: exact distance of the query subvector to
    # every codebook entry (m x n_codes rows - broadcast-sized)
    qd = (
        elems.filter(F.col(id_col) == query_id)
        .join(cb, ["j", "pos"])
        .groupBy("j", "c")
        .agg(F.sum(diff * diff).cast("decimal(24,6)").alias("qd2"))
    )
    adc = (
        codes.join(F.broadcast(qd), (codes.j == qd.j) & (codes.code == qd.c))
        .groupBy(id_col)
        .agg(
            F.sum("qd2").cast("decimal(24,6)").cast("double").alias("adc_dist")
        )
    )
    return adc.orderBy("adc_dist", id_col).limit(k)


def ivf_pq_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id: int = 0,
    n_cells: int = 8,
    nprobe: int = 2,
    n_codes: int = 16,
    m: int = 4,
    dims: int = 64,
    shortlist: int = 40,
    k: int = 10,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ with exact rerank — the three-stage production ANN shape
    (FAISS ``IVFx,PQy`` + refine; Jégou et al. TPAMI'11 §V): a coarse
    quantizer prunes the corpus to ``nprobe`` cells, asymmetric PQ
    distance ranks the probed vectors without decoding, and the
    ``shortlist`` best estimates are re-scored with the exact decimal
    cosine.  Composes :func:`ivf_assign` (cell argmax), the coordinator
    probe (:func:`_ivf_probe` — K-row job, the FAISS-coordinator
    pattern), and :func:`pq_adc_topk`'s encode/ADC arithmetic verbatim.

    ``assigned`` (e.g. the partitioned index :func:`ivf_build`
    materializes) skips the inline assignment — the build/probe split
    every repeated query wants: the cell filter then prunes index
    partitions instead of re-scoring the corpus against every centroid.
    It must carry three columns: ``id_col``, ``cell_id`` and ``emb_col``
    (the ADC pass reads the vectors from it, not from ``df``).  A missing
    one raises ``ValueError`` naming it, before any job runs.

    100 TB shape: everything downstream of the probe touches only the
    probed cells (at scale the assignment is the partitioned index
    :func:`ivf_build` materializes and the PQ codes are precomputed per
    cell; here both derive inline from the same pruned set — identical
    plan shape from the scan on).  ADC is an equi-join against an
    m × n_codes broadcast lookup; the rerank is bounded at ``shortlist``
    rows.  No stage is quadratic in the corpus.

    Seed conventions match the siblings: centroids are vectors
    1..n_cells (embedding_ivf_topk), codebook entry c of subspace j is
    the j-th subvector of vector c+1 (pq_adc_topk) — deterministic and
    engine-replayable; all distances run in the repo's exact-decimal
    funnel, so cell choice, codes, ADC estimates AND the reranked
    cosines are bit-identical in any engine.

    Round-14 (guide §2.4 remove shuffles outright; the ivf_topk /
    ivf_topk_vec coordinator precedent): the probe, the codebook and the
    query's m × n_codes ADC lookup table are all *index metadata* — a
    bounded handful of rows a FAISS coordinator holds in memory.  One
    17-row coordinator job collects them; the lookup table is computed
    in exact Python decimal (the :func:`_pydec9` funnel, bit-identical
    to the Spark/DuckDB arithmetic by construction and verified by the
    differential suite); and the per-query Spark work collapses to ONE
    map-only pass over the probed cells — per row: m in-row argmins
    over the literal codebook (the identical (a−b)² decimal sums,
    accumulated exactly as the old hash aggregate did) and a sum of m
    literal-table lookups, which is the textbook ADC read path — then a
    bounded TakeOrdered(shortlist) and the unchanged decimal-cosine
    rerank on ``shortlist`` rows.  The old shape shuffled the
    (id, j, c) encode aggregate (N·m·n_codes rows) plus two more agg
    exchanges per query; this shape shuffles nothing but the two
    bounded top-k heaps at any corpus size.

    Fixed-dims precondition (also documented on ivf_assign's ragged
    guard): every vector is assumed ``dims`` long — the subvector
    zip_with pads ragged rows with NULLs, whereas the old per-element
    join silently dropped missing positions.  The embedding corpora
    this engine replays are fixed-width by construction.

    Returns the ``k`` best (vec_id, adc_dist, cosine) by exact cosine
    descending, ties on id.
    """
    if assigned is not None:
        missing = [c for c in (id_col, "cell_id", emb_col) if c not in assigned.columns]
        if missing:
            raise ValueError(f"ivf_pq_topk: assigned lacks column(s) {missing}")
    sub = dims // m
    mx = max(n_cells, n_codes)
    meta = {
        int(r["__id"]): list(r["__e"])
        for r in df.filter(
            (F.col(id_col) == query_id)
            | ((F.col(id_col) >= 1) & (F.col(id_col) <= mx))
        )
        .select(
            F.col(id_col).cast("long").alias("__id"),
            F.col(emb_col).cast("array<double>").alias("__e"),
        )
        .collect()
    }

    def _empty() -> DataFrame:
        return df.select(
            F.col(id_col),
            F.lit(0.0).alias("adc_dist"),
            F.lit(0.0).alias("cosine"),
        ).limit(0)

    qvec = meta.get(int(query_id))
    if qvec is None:
        return _empty()
    qdec = [_pydec9(x) for x in qvec]
    qn = _pydec_to_double(sum(x * x for x in qdec))

    # Python replica of _ivf_probe: cosine_dec's exact funnel per
    # centroid (−2.0 sentinel when either norm is zero — zero-norm
    # centroids are SCORED here, not dropped, exactly like the old
    # Spark probe), ordered by (cos desc, cell_id), top nprobe.
    import math

    scored = []
    for cid in range(1, n_cells + 1):
        cvec = meta.get(cid)
        if cvec is None:
            continue
        cdec = [_pydec9(x) for x in cvec]
        cn = _pydec_to_double(sum(x * x for x in cdec))
        cos = (
            _pydec_to_double(sum(a * b for a, b in zip(cdec, qdec)))
            / (math.sqrt(cn) * math.sqrt(qn))
            if cn > 0 and qn > 0
            else -2.0
        )
        scored.append((cos, cid))
    scored.sort(key=lambda t: (-t[0], t[1]))
    cells = [cid for _, cid in scored[:nprobe]]

    # codebook (entry c = subvectors of vector c+1) + the query's ADC
    # lookup table, in exact decimal: products of DECIMAL(12,9) are
    # exact, Python's unbounded Decimal sums them exactly (the Spark
    # aggregate kept ≤ DECIMAL(37,18), also exact at these magnitudes),
    # and the table entry quantizes HALF_UP to 6 dp — the identical
    # CAST(… AS DECIMAL(24,6)) the old qd aggregate applied.
    from decimal import ROUND_HALF_UP, Decimal

    bdec = {
        cid - 1: [_pydec9(x) for x in meta[cid]]
        for cid in range(1, n_codes + 1)
        if cid in meta
    }
    cs = sorted(bdec)
    if not cells or not cs:
        return _empty()
    q6 = Decimal("1e-6")
    qd2 = {
        (j, c): sum(
            (qdec[j * sub + p] - bdec[c][j * sub + p]) ** 2
            for p in range(sub)
        ).quantize(q6, rounding=ROUND_HALF_UP)
        for j in range(m)
        for c in cs
    }

    base = (
        assigned
        if assigned is not None
        else ivf_assign(
            df.filter(F.col(id_col) != query_id),
            df.filter((F.col(id_col) >= 1) & (F.col(id_col) <= n_cells)),
            id_col,
            emb_col,
            "cell_id",
        )
    )
    src = base.filter(F.col("cell_id").isin([int(c) for c in cells])).select(
        F.col(id_col), F.col(emb_col), _dec_vec(emb_col).alias("__vdec")
    )

    # per-subspace in-row argmin: d2s[c] = round6(Σ_pos (a − b_c)²) over
    # the literal codebook — the same (13,9) diff, exact (27,18)
    # product and exact decimal sum as the old join+aggregate, rounded
    # at the same point; array_position(·, array_min(·)) is argmin with
    # ties to the smallest c (first occurrence), the old
    # min(struct(d2, c)) / ROW_NUMBER tie-break.
    def _adc_j(j: int) -> Column:
        blit = "array(" + ",".join(
            "array("
            + ",".join(
                f"CAST('{bdec[c][j * sub + p]}' AS {DEC_ELEM})"
                for p in range(sub)
            )
            + ")"
            for c in cs
        ) + ")"
        d2s = F.expr(
            f"transform({blit}, b -> CAST(aggregate("
            f"zip_with(slice(__vdec, {j * sub + 1}, {sub}), b,"
            f" (x, y) -> (x - y) * (x - y)),"
            f" CAST(0 AS {DEC_ACC}), (acc, x) -> CAST(acc + x AS {DEC_ACC})"
            f") AS {DEC_OUT}))"
        )
        qlit = F.expr(
            "array("
            + ",".join(f"CAST('{qd2[(j, c)]}' AS {DEC_OUT})" for c in cs)
            + ")"
        )
        return let_once(
            d2s,
            lambda dd: F.element_at(
                qlit, F.array_position(dd, F.array_min(dd)).cast("int")
            ),
        )

    adc_sum = _adc_j(0)
    for j in range(1, m):
        adc_sum = adc_sum + _adc_j(j)
    short = (
        src.select(
            F.col(id_col),
            F.col(emb_col),
            adc_sum.cast(DEC_OUT).cast("double").alias("adc_dist"),
        )
        # a ragged vector's ADC estimate is NULL (zip_with pads the short
        # side); nulls last keeps such rows out of the shortlist while
        # real candidates remain
        .orderBy(F.asc_nulls_last("adc_dist"), id_col)
        .limit(shortlist)
    )
    q_lit = _dec_vec(F.lit([float(x) for x in qvec]).cast("array<double>"))
    return (
        short.select(
            id_col,
            "adc_dist",
            cosine_dec(_dec_vec(emb_col), q_lit).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), id_col)
        .limit(k)
    )
