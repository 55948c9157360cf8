"""JVM (JAR-packaged) UDF surface: the reference's Hive-UDF registration
contract (DirectSessionCatalog.scala:72-91) ported to the Engine —
CREATE FUNCTION ... AS 'class' USING JAR DDL routed through
registerJavaFunction, with javac-compiled UDF1/UDF2 classes
(DirectExecSuite.scala:159-178's test shape).
"""

from __future__ import annotations

import os

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
