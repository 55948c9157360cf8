"""File sources and the test-schema registry.

The reference engine has *no* file sources in its direct path — data enters
only through in-memory temp views (reference: LocalTableScanDirectExec.scala:27-52,
DirectSparkSession.scala:129-137).  This rebuild is a superset: parquet /
csv / json scans go through Spark's DataSource V2 readers, which give
predicate pushdown, column pruning and partition pruning for free.

``register_star_schema`` wires the driver-provided parquet tables
(TESTDATA.md) into the session catalog as temp views so both the DataFrame
and SQL surfaces can reach them by name.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

def warehouse_path(*parts: str) -> str:
    """Path under the repo's gitignored ``spark-warehouse/`` scratch dir —
    the single place derived artifacts (IVF indexes, partitioned exports,
    scale-probe datasets) live, so path derivation can't silently diverge
    between operators."""
    import os

    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    return os.path.join(repo_root, "spark-warehouse", *parts)


def dataset_tag(sf_dir: str) -> str:
    """Stable per-dataset directory tag (basename, trailing-slash safe)."""
    import os

    return os.path.basename(os.path.normpath(sf_dir)) or "default"


#: Driver-provided tables (TESTDATA.md / FIXTURES.md Part B).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Per-session memo of *lazy scan plans* (round 13, guide §7.3 — driver
#: overhead): ``spark.read.parquet`` re-reads the footer (schema) and
#: re-lists the path on every call, and nearly every registered query
#: calls ``load_table`` 1-4 times per construction, so the bench paid
#: hundreds of redundant driver-side footer reads per run.  The memo
#: holds ONLY the unresolved DataFrame (metadata) — never rows; every
#: action on it still scans the parquet from disk, so result-freshness
#: semantics are untouched.  Keys carry the file's mtime+size, so a
#: rewritten dataset (scale probes regenerate dirs in place) misses the
#: cache instead of serving a stale file listing; sessions are weak keys
#: so dead sessions' plans are dropped.  Remote/unstattable paths skip
#: the memo entirely.
import weakref

_TABLE_PLANS: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one parquet table.

    A plain ``spark.read.parquet`` leaf: Catalyst pushes filters and prunes
    columns into this scan, and on a real cluster the file is split into
    ``spark.sql.files.maxPartitionBytes``-sized input partitions — the scan
    scales horizontally with no code changes.

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which Spark's
    reader rejects by default; we read it as a long (legacy conf) and
    convert with exact integer µs arithmetic — identical to DuckDB's own
    ns→µs truncation, so oracles stay bit-exact.
    """
    import os

    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # set on every call (cache hit or not) — callers may have unset it
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        st = os.stat(path)
        key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    if key is not None:
        per_session = _TABLE_PLANS.setdefault(spark, {})
        cached = per_session.get(key)
        if cached is not None:
            return cached
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if key is not None:
        per_session[key] = df
    return df


def register_star_schema(spark: SparkSession, sf_dir: str) -> None:
    """Register every driver table as a temp view named after the table."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_csv(spark: SparkSession, path: str, schema=None, **options) -> DataFrame:
    """CSV source (superset of reference; header/infer options pass through)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    else:
        options.setdefault("inferSchema", "true")
    options.setdefault("header", "true")
    return reader.options(**options).csv(path)


def read_json(spark: SparkSession, path: str, schema=None, **options) -> DataFrame:
    """JSON-lines source (superset of reference)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.options(**options).json(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Parquet sink; ``partition_by`` produces hive-style partition dirs so
    downstream reads get partition pruning."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
