"""JVM (JAR-packaged) UDF surface — the reference's Hive-UDF registration
path, rebuilt Spark-first.

The reference registers JVM function classes into its session catalog via
``CREATE [TEMPORARY] FUNCTION name AS 'class'`` DDL
(DirectSessionCatalog.scala:72-91, tested at DirectExecSuite.scala:159-178,
385-393).  The PySpark-native equivalent implemented here:

- Java sources under ``javasrc/`` implementing
  ``org.apache.spark.sql.api.java.UDF1..UDF22`` are compiled with
  the JDK's ``javac`` against the installed Spark jars and packaged into a
  jar (:func:`ensure_udf_jar`) — the artifact a user's JAR-packaged UDFs
  would arrive as.  The same jar carries the driver-side helper of direct
  execution (``org.dss.direct.DirectExec``, see ``direct.py``), so every
  ``Engine`` builds it when it starts, if it is not current.
- :func:`register_java_function` runs ``ADD JAR`` + ``spark.udf
  .registerJavaFunction`` (return type inferred from the UDF generic
  signature when not given) so the function is callable from SQL text.
- The Engine intercepts the reference's DDL shape
  (``CREATE FUNCTION f AS 'class' USING JAR 'path'``) and routes it here —
  see ``session.Engine``.

Classes written against the *Hive* UDF APIs
(``org.apache.hadoop.hive.ql.exec.UDF`` / ``GenericUDF`` / UDAF / UDTF)
are also supported, via ``EngineBuilder.enable_hive_support()``: the
Engine's function-DDL path falls back to Spark SQL's own CREATE FUNCTION
handling, which resolves Hive classes through the Hive session catalog
(see ``tests/test_hive_udf.py`` for the reference-test ports).  Hive
support is opt-in per process because ``spark.sql.catalogImplementation``
is a static conf — it must be chosen before the first SparkSession exists.
"""

from __future__ import annotations

import glob
import os
import subprocess
import tempfile

from pyspark.sql import SparkSession

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
JAVA_SRC_DIR = os.path.join(_PKG_DIR, "javasrc")

#: Shipped UDF classes: SQL name -> fully-qualified class.
BUILTIN_JAVA_UDFS = {
    "java_vowels": "org.dss.udf.VowelCount",
    "java_repeat": "org.dss.udf.BoundedRepeat",
}


def _spark_jars_glob() -> str:
    """Classpath glob for the installed Spark's jars (SPARK_HOME layout or
    pip-installed pyspark)."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    import pyspark

    candidates.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-sql*.jar")):
            return os.path.join(c, "*")
    raise RuntimeError("cannot locate Spark jars for javac classpath")


def ensure_udf_jar(jar_path: str | None = None) -> str:
    """Compile ``javasrc/`` and package the jar if not already current.

    The jar lands in the repo's gitignored warehouse dir by default; a
    rebuild happens only when a source file is newer than the jar.  A build
    compiles into its own temporary directory and renames the finished jar
    over ``jar_path``, so a concurrent reader (another thread or process)
    sees the old jar or the new one, never a half-written one."""
    if jar_path is None:
        repo_root = os.path.dirname(os.path.dirname(_PKG_DIR))
        jar_path = os.path.join(
            repo_root, "spark-warehouse", "jvm-udfs", "dss-udfs.jar"
        )
    sources = sorted(
        glob.glob(os.path.join(JAVA_SRC_DIR, "**", "*.java"), recursive=True)
    )
    if not sources:
        raise RuntimeError(f"no Java sources under {JAVA_SRC_DIR}")
    if os.path.exists(jar_path) and os.path.getmtime(jar_path) >= max(
        os.path.getmtime(s) for s in sources
    ):
        return jar_path
    out_dir = os.path.dirname(jar_path)
    os.makedirs(out_dir, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=out_dir, prefix=".build-") as build:
        classes_dir = os.path.join(build, "classes")
        subprocess.run(
            ["javac", "-cp", _spark_jars_glob(), "-d", classes_dir, *sources],
            check=True,
            capture_output=True,
        )
        built = os.path.join(build, "udfs.jar")
        subprocess.run(
            ["jar", "cf", built, "-C", classes_dir, "."],
            check=True,
            capture_output=True,
        )
        os.replace(built, jar_path)
    return jar_path


def register_java_function(
    spark: SparkSession,
    name: str,
    class_name: str,
    jar_path: str | None = None,
    return_type=None,
) -> None:
    """``ADD JAR`` + ``registerJavaFunction``: make a JAR-packaged
    ``UDFn`` class callable from SQL as ``name`` (return type inferred from
    the class's generic signature unless given)."""
    if jar_path:
        spark.sql(f"ADD JAR '{jar_path}'")
    spark.udf.registerJavaFunction(name, class_name, return_type)


def register_builtin_java_udfs(spark: SparkSession) -> dict[str, str]:
    """Compile-if-needed and register the shipped JVM UDFs; returns
    {sql_name: class}."""
    jar = ensure_udf_jar()
    spark.sql(f"ADD JAR '{jar}'")
    for name, cls in BUILTIN_JAVA_UDFS.items():
        spark.udf.registerJavaFunction(name, cls, None)
    return dict(BUILTIN_JAVA_UDFS)
