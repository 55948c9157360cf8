"""Property-based tests for the ingress coercion layer (hypothesis):
whatever messy-but-coercible value goes in, the coerced value must
round-trip through a Spark row with the target type — the contract the
reference pins with one golden test (RegisterTableTest.java), generalized.
"""

from __future__ import annotations

import datetime as dt
import math
from decimal import Decimal

from hypothesis import given, settings, strategies as st

from pyspark.sql import types as T

from direct_spark_sql_spark.coercion import coerce_row, coerce_value

# Pure-python properties (no Spark session needed — fast, thousands of cases)


@given(st.integers(min_value=-(2**31), max_value=2**31 - 1))
def test_int_from_string_roundtrip(x):
    assert coerce_value(str(x), T.IntegerType()) == x


@given(st.floats(allow_nan=False, allow_infinity=False, width=64))
def test_double_from_string_roundtrip(x):
    got = coerce_value(repr(x), T.DoubleType())
    assert got == x or (math.isclose(got, x, rel_tol=1e-15))


@given(st.integers(min_value=0, max_value=4_102_444_800_000))  # ≤ year 2100
def test_epoch_millis_timestamp_is_utc(ms):
    got = coerce_value(ms, T.TimestampType())
    expect = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(
        milliseconds=ms
    )
    assert got == expect and got.utcoffset() == dt.timedelta(0)
    # the instant Spark stores does not depend on the process TZ
    assert T.TimestampType().toInternal(got) == ms * 1000


@given(st.integers(min_value=0, max_value=4_102_444_800_000))
def test_epoch_millis_date_matches_timestamp_date(ms):
    assert coerce_value(ms, T.DateType()) == coerce_value(ms, T.TimestampType()).date()


@given(st.decimals(allow_nan=False, allow_infinity=False, places=4,
                   min_value=-10**12, max_value=10**12))
def test_decimal_from_string_exact(d):
    assert coerce_value(str(d), T.DecimalType(38, 18)) == d


@given(st.booleans())
def test_boolean_from_rendered_string(b):
    assert coerce_value(str(b).lower(), T.BooleanType()) is b


@given(
    st.lists(
        st.one_of(st.integers(min_value=-1000, max_value=1000),
                  st.text(alphabet="0123456789", min_size=1, max_size=6)),
        max_size=10,
    )
)
def test_nested_array_coerces_elementwise(values):
    got = coerce_value(values, T.ArrayType(T.LongType()))
    assert got == [int(v) for v in values]


@given(
    st.dictionaries(
        st.sampled_from(["a", "b", "c"]),
        st.integers(min_value=-100, max_value=100),
        max_size=3,
    )
)
def test_missing_struct_fields_are_null(d):
    schema = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.LongType()),
            T.StructField("c", T.LongType()),
        ]
    )
    row = coerce_row(d, schema)
    for i, name in enumerate(["a", "b", "c"]):
        assert row[i] == (d[name] if name in d else None)


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(2**31), max_value=2**31 - 1),
            st.floats(allow_nan=False, allow_infinity=False, width=32),
            st.text(max_size=20),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_spark_roundtrip_property(spark, rows):
    """Coerced rows must survive a real Spark createDataFrame → collect
    round-trip with values intact (stringified ints, float32 widening)."""
    from direct_spark_sql_spark.datatable import DataTable

    dicts = [{"i": str(a), "f": b, "s": c} for a, b, c in rows]
    table = DataTable.from_list_of_dicts(dicts, "i int, f float, s string")
    out = table.to_dataframe(spark).collect()
    assert len(out) == len(rows)
    got = sorted((r.i, r.s) for r in out)
    want = sorted((a, c) for a, _, c in rows)
    assert got == want
