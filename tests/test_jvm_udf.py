"""JVM (JAR-packaged) UDF surface: the reference's Hive-UDF registration
contract (DirectSessionCatalog.scala:72-91) ported to the Engine —
CREATE FUNCTION ... AS 'class' USING JAR DDL routed through
registerJavaFunction, with javac-compiled UDF1/UDF2 classes
(DirectExecSuite.scala:159-178's test shape).
"""

from __future__ import annotations

import os
import threading

import pytest

from direct_spark_sql_spark.functions.jvm import (
    BUILTIN_JAVA_UDFS,
    ensure_udf_jar,
    register_builtin_java_udfs,
)
from direct_spark_sql_spark.session import Engine


@pytest.fixture(scope="module")
def jvm_engine(spark):
    return Engine(spark)


def test_jar_builds_and_is_cached(tmp_path):
    jar = ensure_udf_jar()
    assert os.path.exists(jar)
    mtime = os.path.getmtime(jar)
    assert ensure_udf_jar() == jar
    assert os.path.getmtime(jar) == mtime  # second call is a no-op


def _assert_loadable(spark, jar):
    """A fresh class loader over ``jar`` loads the direct-execution helper."""
    jvm = spark.sparkContext._jvm
    urls = spark.sparkContext._gateway.new_array(jvm.java.net.URL, 1)
    urls[0] = jvm.java.io.File(jar).toURI().toURL()
    loader = jvm.java.net.URLClassLoader(urls, jvm.java.lang.ClassLoader.getSystemClassLoader())
    try:
        cls = jvm.java.lang.Class.forName("org.dss.direct.DirectExec", True, loader)
        assert cls.getName() == "org.dss.direct.DirectExec"
    finally:
        loader.close()


def test_stale_jar_is_rebuilt(spark, tmp_path):
    jar = str(tmp_path / "udfs.jar")
    assert ensure_udf_jar(jar) == jar
    os.utime(jar, (0, 0))  # older than every source
    assert ensure_udf_jar(jar) == jar
    assert os.path.getmtime(jar) > 0
    _assert_loadable(spark, jar)
    assert os.listdir(tmp_path) == ["udfs.jar"]  # no build directory left


def test_concurrent_builds_leave_a_loadable_jar(spark, tmp_path):
    """Two builds of one jar at once each rename a finished jar into
    place, so both return a jar that loads."""
    jar = str(tmp_path / "udfs.jar")
    results, errors = [], []

    def build():
        try:
            results.append(ensure_udf_jar(jar))
        except Exception as e:  # noqa: BLE001 -- reported below
            errors.append(e)

    threads = [threading.Thread(target=build) for _ in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert errors == [] and results == [jar, jar]
    _assert_loadable(spark, jar)
    assert os.listdir(tmp_path) == ["udfs.jar"]


def test_create_function_ddl_roundtrip(jvm_engine):
    """The reference's DDL shape registers a JAR class and SQL can call it
    (DirectExecSuite.scala:159-178)."""
    jar = ensure_udf_jar()
    result = jvm_engine.sql_directly(
        f"CREATE TEMPORARY FUNCTION ddl_vowels AS 'org.dss.udf.VowelCount' "
        f"USING JAR '{jar}'"
    )
    assert result.to_list_of_dicts() == []  # DDL → empty result
    jvm_engine.register_table(
        "jvm_people",
        [{"name": "aeiou"}, {"name": "xyz"}, {"name": None}],
        "name string",
    )
    rows = jvm_engine.sql_directly(
        "SELECT name, ddl_vowels(name) AS n FROM jvm_people ORDER BY name"
    ).to_list_of_dicts()
    assert rows == [
        {"name": None, "n": None},
        {"name": "aeiou", "n": 5},
        {"name": "xyz", "n": 0},
    ]


def test_create_or_replace_and_no_jar_variant(jvm_engine):
    """OR REPLACE re-registration, and AS 'class' without USING JAR once
    the jar is already on the session (the reference's two DDL variants)."""
    jar = ensure_udf_jar()
    jvm_engine.spark.sql(f"ADD JAR '{jar}'")
    jvm_engine.sql_directly(
        "CREATE OR REPLACE FUNCTION ddl_rep AS 'org.dss.udf.BoundedRepeat'"
    )
    rows = jvm_engine.sql_directly(
        "SELECT ddl_rep('ab', 3) AS r, ddl_rep('x', 99) AS clamped"
    ).to_list_of_dicts()
    assert rows == [{"r": "ababab", "clamped": "xxxxxxxx"}]


def test_comment_prefixed_function_ddl_is_callable(jvm_engine):
    """Function DDL is recognised from its parsed plan, so a leading
    comment still routes a ``UDF1`` class through registerJavaFunction."""
    jar = ensure_udf_jar()
    jvm_engine.sql_directly(
        f"-- note\nCREATE TEMPORARY FUNCTION cmt_vowels "
        f"AS 'org.dss.udf.VowelCount' USING JAR '{jar}'"
    )
    rows = jvm_engine.sql_directly(
        "SELECT cmt_vowels('banana') AS n"
    ).to_list_of_dicts()
    assert rows == [{"n": 3}]


def test_builtin_java_udfs_registered(spark):
    reg = register_builtin_java_udfs(spark)
    assert reg == BUILTIN_JAVA_UDFS
    row = spark.sql(
        "SELECT java_vowels('banana orange') AS v, java_repeat('ab', 2) AS r"
    ).collect()[0]
    assert (row.v, row.r) == (6, "abab")


def test_function_ddl_regex_does_not_swallow_queries(jvm_engine):
    """Plain queries mentioning CREATE FUNCTION inside literals are NOT
    intercepted."""
    rows = jvm_engine.sql_directly(
        "SELECT 'CREATE FUNCTION f AS ''c''' AS s"
    ).to_list_of_dicts()
    assert rows == [{"s": "CREATE FUNCTION f AS 'c'"}]
