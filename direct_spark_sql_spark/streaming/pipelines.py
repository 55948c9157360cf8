"""Structured Streaming pipelines over the events stream.

The reference has no streaming at all (SURVEY.md §2.11) — this module is
the north-star extension: the same event-analytics the batch conformance
queries compute (plans/conformance.py events_*), re-expressed as
Structured Streaming with watermarks, so one codebase serves both the
backfill (batch over parquet) and the live path (the same plan over a
Kafka/file stream).

Design rules:

- Every transformation takes and returns a DataFrame, so it composes with
  either ``spark.read`` (batch) or ``spark.readStream`` (streaming) input —
  the Spark unification this engine exists to exploit.
- Watermarks bound state: tumbling/session aggregations keep only windows
  newer than the watermark, so state size is O(active windows), not
  O(stream history) — the property that lets these run forever at
  100 TB/day.
- The stateful per-user operator uses ``applyInPandasWithState`` (Arrow-
  batched, grouped state with timeouts) — the PySpark-native analogue of a
  custom stateful operator.
"""

from __future__ import annotations

import tempfile
from typing import Iterable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from direct_spark_sql_spark.plans.base import DEC_OUT, DEC_PRICE

#: events.parquet physical schema: ``ts`` is read as a raw long (the
#: legacy conf covers TIMESTAMP(NANOS) files; micros files also read as
#: int64 under an explicit LongType schema) and converted to µs right
#: after the scan.  The file's actual unit is sniffed from the parquet
#: footer (driver-side, once) so both generations of the testdata work.
_EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """``readStream`` over the events parquet.

    File-source streaming is the test harness stand-in for Kafka: same
    downstream plan, different source.  ``max_files_per_trigger`` splits
    multi-file inputs into multiple micro-batches (used by tests to prove
    state carries across batches)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(_EVENTS_RAW_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    table_path = f"{sf_dir.rstrip('/')}/events.parquet"
    if _hadoop_isdir(spark, table_path):
        # multi-file layout (e.g. the scale-probe dataset): stream the
        # table directory itself
        df = reader.parquet(table_path)
    else:
        # single-file layout: the file source wants a directory, so stream
        # the parent filtered down to the one table file
        df = reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    to_us = 1000 if _events_ts_unit(spark, sf_dir) == "ns" else 1
    return df.withColumn("ts", F.timestamp_micros(F.expr(f"ts DIV {to_us}")))


def _hadoop_isdir(spark: SparkSession, path: str) -> bool:
    """Directory check through the Hadoop filesystem layer, so HDFS/S3
    paths resolve the same way the reader will (a driver-local
    os.path.isdir would silently say False for any remote path)."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs.exists(jpath) and fs.getFileStatus(jpath).isDirectory()


def _events_ts_unit(spark: SparkSession, sf_dir: str) -> str:
    """Time unit ('us' | 'ns') of events.ts, sniffed through Spark's own
    reader (schema-only, no job) so any Hadoop-reachable filesystem and
    multi-file layouts work — a driver-local pyarrow footer read would
    only handle bare local paths.  Under the nanosAsLong conf a NANOS
    column surfaces as bigint; micros surfaces as a timestamp type."""
    batch_dtypes = dict(
        spark.read.parquet(f"{sf_dir.rstrip('/')}/events.parquet").dtypes
    )
    return "ns" if batch_dtypes.get("ts") == "bigint" else "us"


def stream_tumbling_totals(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window totals — the streaming twin of the batch
    ``events_tumbling_window`` conformance query (identical output schema,
    identical values when run over the same closed input)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC_PRICE)).cast(DEC_OUT).cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stream_session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-user session windows (built-in ``session_window``: an event
    extends its session to ts+gap; overlapping extents merge).  Watermark
    closes sessions once no extension can arrive."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def stream_sliding_totals(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked sliding-window totals — streaming twin of the batch
    ``events_sliding_window`` query (each event lands in window/slide
    overlapping windows; identical output schema and values on a closed
    input).  State is O(active windows × event types), watermark-bounded."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast(DEC_OUT).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type", "n_events", "sum_value",
        )
    )


def stream_click_purchase_join(
    events: DataFrame, horizon: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked stream-stream inner join: attribute each purchase to the
    clicks by the same user in the preceding ``horizon``.

    Both sides carry a watermark and the join condition bounds purchase
    time to ``[click_ts, click_ts + horizon]``, so Spark can evict join
    state once the watermark passes a row's last possible match — the
    state-cleanup contract that lets a stream-stream join run indefinitely.
    Self-joining one source stream (filtered twice) is the standard funnel
    / attribution shape."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("amount"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND purchase_ts >= click_ts "
            f"AND purchase_ts <= click_ts + INTERVAL {horizon}"
        ),
        "inner",
    ).select("click_id", "purchase_id", "user_id", "click_ts",
             "purchase_ts", "amount")


def stream_dedup_hourly(
    events: DataFrame, watermark: str = "35 days"
) -> DataFrame:
    """Streaming dedup via ``dropDuplicatesWithinWatermark``: first sighting
    of each (user, event_type, hour) wins; later duplicates arriving within
    the watermark horizon are dropped and the per-key state is evicted once
    the watermark passes — bounded state, unlike a global ``distinct`` over
    an unbounded stream.  The wide test watermark spans the whole closed
    input so the result equals batch DISTINCT; production would use e.g.
    ``1 hour``."""
    return (
        events.withColumn("hour_ts", F.date_trunc("hour", F.col("ts")))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "hour_ts"])
        .select("user_id", "event_type", "hour_ts")
    )


# -- custom stateful operator ------------------------------------------------

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

_USER_COUNTS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def _update_user_counts(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
):
    """Running per-user totals with explicit grouped state: reads the prior
    (count, sum) tuple, folds in this batch's rows, writes it back, and
    emits the updated snapshot.  value is summed in integer cents so the
    running total is order- and batch-split-independent."""
    (user_id,) = key
    if state.exists:
        n, total_cents = state.get
    else:
        n, total_cents = 0, 0.0
    for pdf in pdfs:
        n += len(pdf)
        # cents as float is exact for our magnitudes (< 2^53)
        total_cents += float(round(pdf["value"].mul(100).round().sum()))
    state.update((n, total_cents))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "total_value": [total_cents / 100.0]}
    )


def stream_user_counts_stateful(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (event count, value total), emitted as an updated snapshot per
    micro-batch.  The grouped state is the explicit analogue of what the
    windowed aggregations keep internally — this is the extension point for
    operators Spark lacks (complex sessionization, CEP, decaying counters).
    """
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_counts,
            outputStructType=_USER_COUNTS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# -- harness -----------------------------------------------------------------

def stream_static_enrich(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream with the static customer
    dimension (user_id = c_custkey) and aggregate value per market segment.

    The static side is re-resolved per micro-batch (standard Structured
    Streaming semantics — a dimension table updated between batches is
    picked up) and explicitly broadcast: at any scale the dimension is the
    small side, so each micro-batch joins map-side with no stream-side
    shuffle before the aggregation."""
    dim = F.broadcast(
        customer.select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    return (
        events.join(dim, "user_id")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC_PRICE)).cast(DEC_OUT).cast("double")
            .alias("total_value"),
        )
    )


def run_available_now(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Run a streaming DataFrame to completion over the currently-available
    input (Trigger.AvailableNow) into an in-memory sink; return the result
    table.  ``complete`` mode re-emits full aggregation state, so for a
    closed input the memory table equals the batch answer; for the stateful
    operator use ``update`` and reduce to the latest row per key.

    ``state_partitions`` (round-13, guide §2.2/§5): a stateful streaming
    operator instantiates one state store per shuffle partition and pays a
    per-store create/commit on EVERY micro-batch, so for an aggregation
    whose key domain is small and bounded (a dimension rollup) the store
    count should track the key domain, not the cluster width — 32 stores
    each holding ≤1 key is pure fixed overhead, on a 1000-executor cluster
    as much as on local[32].  When set, the streaming query starts with
    that many shuffle partitions (state partitioning is captured at query
    start) and the session conf is restored afterwards; queries with
    unbounded key domains (per-user, per-window state) keep the session
    default.  Interleaved A/B on the sf0.1 enrich rollup, identical
    results: 32 parts 1.92 s / 8 parts 1.21 s / 4 parts 0.80 s."""
    spark = stream_df.sparkSession
    old_parts: str | None = None
    if state_partitions is not None:
        old_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        query = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    finally:
        if old_parts is not None:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    return stream_df.sparkSession.table(name)


def _run_foreach_batch(
    stream: DataFrame, callback, state: dict, result: str
) -> DataFrame:
    """Run ``stream`` to completion over the currently-available input
    (Trigger.AvailableNow) with ``callback`` as its foreachBatch sink,
    checkpointing into a temporary directory, and return
    ``state[result]``, which the callback fills."""
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            stream.writeStream.foreachBatch(callback)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    if state[result] is None:  # explicit: survives python -O (asserts stripped)
        raise RuntimeError("stream produced no batches")
    return state[result]


def run_foreach_batch_upsert(
    events: DataFrame,
    key_cols: list[str],
    seq_col_expr,
    payload_cols: list[str],
    name: str = "stream_upsert",
) -> DataFrame:
    """Streaming MERGE: foreachBatch applies each micro-batch as a
    latest-wins upsert into an accumulated state table — the lakehouse
    streaming-ingest pattern (stream → MERGE INTO target) expressed
    without a mutable table format.

    The state table PERSISTS each row's winning ``change_seq`` so the
    latest-wins comparison holds across batch boundaries: an out-of-order
    event arriving in a later micro-batch must not clobber newer state
    (resetting the base's sequence per batch — what a naive apply_cdc
    reuse would do — breaks exactly that contract).  State is eagerly
    localCheckpoint-ed: batch DataFrames are only valid inside the
    callback, and unbounded lineage across batches would grow the plan.
    At cluster scale the state table would instead be a parquet/format
    table rewritten per batch (same merge plan, durable storage).
    """
    from pyspark.sql import Window

    state: dict[str, DataFrame | None] = {"df": None}

    def merge_batch(batch_df: DataFrame, _batch_id: int) -> None:
        changes = batch_df.select(
            *key_cols, *payload_cols, seq_col_expr.alias("change_seq")
        )
        combined = changes if state["df"] is None else state["df"].unionByName(changes)
        w = Window.partitionBy(*key_cols).orderBy(F.col("change_seq").desc())
        merged = (
            combined.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        state["df"] = merged.localCheckpoint(eager=True)

    return _run_foreach_batch(events, merge_batch, state, "df")


def run_foreach_batch_dedup(
    docs: DataFrame,
    fp_expr,
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming dedup ingest: foreachBatch folds each micro-batch into an
    accumulated per-fingerprint state table — the streaming twin of
    ``operators/dedup.py:exact_duplicate_groups`` and the ingest half of
    ``incremental_dedup``: every arriving batch is deduplicated against
    everything already ingested, not against the full history re-scan.

    The state merge is commutative and associative (per fingerprint:
    ``min`` keep-id, ``sum`` of counts), so the final state is independent
    of micro-batch arrival order and equals the batch answer over the same
    closed input — the strongest property a finite-input streaming test
    can pin.  Each batch contributes ONE pre-aggregated (fp, min_id,
    count) projection; state is eagerly localCheckpoint-ed to cut lineage
    (at cluster scale it would be a compacted parquet/format table, same
    plan).

    Returns the final state: (dup_key, keep_id, group_size).
    """
    state: dict[str, DataFrame | None] = {"df": None}

    def merge_batch(batch_df: DataFrame, _batch_id: int) -> None:
        batch_agg = (
            batch_df.select(fp_expr.alias("dup_key"), F.col(id_col))
            .groupBy("dup_key")
            .agg(
                F.min(id_col).alias("keep_id"),
                F.count(F.lit(1)).alias("group_size"),
            )
        )
        combined = (
            batch_agg
            if state["df"] is None
            else state["df"].unionByName(batch_agg)
        )
        merged = combined.groupBy("dup_key").agg(
            F.min("keep_id").alias("keep_id"),
            F.sum("group_size").alias("group_size"),
        )
        state["df"] = merged.localCheckpoint(eager=True)

    return _run_foreach_batch(docs, merge_batch, state, "df")


def run_foreach_batch_lsh_ingest(
    docs: DataFrame,
    id_col: str = "doc_id",
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """Streaming MinHash-LSH index maintenance: foreachBatch folds each
    micro-batch into an accumulated BAND-TABLE state — the materialized
    (band_idx, band_hash)-keyed index that ``incremental_dedup``'s
    docstring says a production ingest maintains, actually maintained.

    Per batch: signatures + band rows for the arriving documents; the
    batch's near-duplicate candidates against EVERYTHING ALREADY INGESTED
    come from one equi-join of the new band rows against the state index
    (never a history re-scan), plus the batch's internal pairs from the
    standard self-join; then the new band rows append to the index.
    Every discovered pair carries the signature-agreement est_jaccard.

    Determinism: when batches partition the corpus by an id order, every
    id_a < id_b pair is discovered exactly once (cross pairs at id_b's
    arrival, internal pairs in their own batch) with arrival-independent
    est values, so the accumulated pair set equals the batch operator's
    UNCAPPED pair set over the closed input — the replayable contract
    the oracle checks.  The batch path's MAX_BAND_BUCKET cap is an
    offline corpus-scope guard and deliberately does NOT apply here:
    an online ingest bounds hot buckets by probe limits at lookup time,
    and a batch-scope cap would make results depend on chunk boundaries.

    Returns the accumulated pairs: (id_a, id_b, est_jaccard).
    """
    from direct_spark_sql_spark.operators.dedup import (
        NUM_PERM,
        _band_table_with_sig,
        minhash_signatures,
    )

    state: dict[str, DataFrame | None] = {"index": None, "pairs": None}
    agree = F.aggregate(
        F.zip_with(
            F.col("a.sig"), F.col("b.sig"),
            lambda x, y: F.when(x == y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )

    def _pairs(a: DataFrame, b: DataFrame, ordered: bool) -> DataFrame:
        cond = (F.col("a.band_idx") == F.col("b.band_idx")) & (
            F.col("a.band_hash") == F.col("b.band_hash")
        )
        if ordered:  # self-join inside one batch
            cond = cond & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        return (
            a.alias("a")
            .join(b.alias("b"), cond)
            .select(
                F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
                F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_b"),
                (agree.cast("double") / F.lit(float(NUM_PERM))).alias("est_jaccard"),
            )
            .distinct()
            .filter(F.col("est_jaccard") >= min_est_jaccard)
        )

    def merge_batch(batch_df: DataFrame, _batch_id: int) -> None:
        sig = minhash_signatures(batch_df, id_col).withColumn(
            "sig", F.array(*[F.col(f"m{i}") for i in range(NUM_PERM)])
        )
        bt = _band_table_with_sig(sig, id_col).localCheckpoint(eager=True)
        found = _pairs(bt, bt, ordered=True)
        if state["index"] is not None:
            found = found.unionByName(_pairs(bt, state["index"], ordered=False))
        found = found.distinct().localCheckpoint(eager=True)
        state["pairs"] = (
            found
            if state["pairs"] is None
            else state["pairs"].unionByName(found).localCheckpoint(eager=True)
        )
        state["index"] = (
            bt
            if state["index"] is None
            else state["index"].unionByName(bt).localCheckpoint(eager=True)
        )

    return _run_foreach_batch(docs, merge_batch, state, "pairs")


def run_foreach_batch_zonemap_ingest(
    stream: DataFrame,
    table_root: str,
    index_path: str,
    cluster_col: str,
) -> None:
    """Streaming ingest with *incremental index maintenance*: every
    micro-batch lands as its own within-batch-clustered file under
    ``table_root`` and appends exactly its own zone-map rows (min/max of
    ``cluster_col`` per new file) to ``index_path``.

    This is how a data-skipping index stays usable under continuous
    ingest at 100 TB: the index write per batch is one row per new file
    (metadata-scale), never a rebuild over the table; query planning
    (sources/zonemap.py:pruned_scan) is oblivious to how the index was
    produced.  Runs the stream to completion (Trigger.AvailableNow).
    """
    import os

    from direct_spark_sql_spark.sources import zonemap as zm

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        sub = os.path.join(table_root, f"ingest_batch={batch_id}")
        (
            batch_df.sortWithinPartitions(cluster_col)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(sub)
        )
        zm.build_zonemap(batch_df.sparkSession, sub, [cluster_col]).write.mode(
            "append"
        ).parquet(index_path)

    query = (
        stream.writeStream.foreachBatch(ingest)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


def run_stream_decontam_gate(
    docs: DataFrame,
    bench_df: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.2,
    n: int | None = None,
) -> DataFrame:
    """Streaming admission gate: every arriving micro-batch of corpus
    documents is contamination-scored against a STATIC benchmark table
    (operators/dedup.py:benchmark_contamination) before admission — the
    online form of pre-training decontamination, where crawl shards are
    screened as they land instead of in a corpus-wide offline pass.

    The benchmark gram set is computed once and cached (eval sets are
    tiny and fixed for a training run); each batch then pays only a
    map-side broadcast semi-join + its own per-doc count — no
    cross-batch state is needed because contamination is a per-document
    property, so the accumulated flagged set equals the batch operator
    over the closed input regardless of chunking (the replayable
    contract the oracle checks).

    Returns the accumulated flagged documents
    (id, n_shingles, n_hit, contamination).
    """
    from direct_spark_sql_spark.operators.dedup import (
        SHINGLE_N,
        benchmark_contamination,
        benchmark_gram_set,
    )

    if n is None:
        n = SHINGLE_N

    # The static state is the GRAM SET, not the raw benchmark docs: cache
    # it once so the explode+distinct shuffle runs a single time instead
    # of once per micro-batch (review r8 #5); unpersisted on exit so
    # repeated bench invocations don't accumulate cached tables.
    grams = benchmark_gram_set(bench_df, n=n).cache()
    state: dict[str, DataFrame | None] = {"flagged": None}

    def score_batch(batch_df: DataFrame, _batch_id: int) -> None:
        found = benchmark_contamination(
            batch_df, bench_df, id_col=id_col, n=n, threshold=threshold,
            bench_grams=grams,
        ).localCheckpoint(eager=True)
        state["flagged"] = (
            found
            if state["flagged"] is None
            else state["flagged"].unionByName(found).localCheckpoint(eager=True)
        )

    try:
        return _run_foreach_batch(docs, score_batch, state, "flagged")
    finally:
        grams.unpersist()


def run_stream_dsir_gate(
    docs: DataFrame,
    lam: DataFrame,
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """Streaming DSIR scoring gate: every arriving micro-batch of corpus
    documents is importance-scored against a FIXED λ table (fit offline
    by operators/sampling.py:dsir_lambda_table from a pilot corpus +
    target slice — exactly the paper's deployment, where the importance
    model is trained once and applied to shards as they land).

    The λ table is ≤ n_buckets rows: cached once, broadcast into every
    batch's scoring join (the decontam gate's gram-set discipline).  A
    document's weight depends only on its own features and the fixed λ,
    so the accumulated output equals the batch operator over the closed
    input regardless of chunking — the replayable contract the oracle
    checks.

    Returns the accumulated (id, n_feats, logw_units, log_weight)."""
    from direct_spark_sql_spark.operators.sampling import dsir_score

    lam_c = lam.cache()
    state: dict[str, DataFrame | None] = {"scored": None}

    def score_batch(batch_df: DataFrame, _batch_id: int) -> None:
        scored = dsir_score(
            batch_df, lam_c, id_col=id_col, n_buckets=n_buckets
        ).localCheckpoint(eager=True)
        state["scored"] = (
            scored
            if state["scored"] is None
            else state["scored"].unionByName(scored).localCheckpoint(eager=True)
        )

    try:
        return _run_foreach_batch(docs, score_batch, state, "scored")
    finally:
        lam_c.unpersist()
