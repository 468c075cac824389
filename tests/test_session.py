"""session.tiny_df: column names come from Spark's DDL parser, so types
whose DDL contains commas survive the pandas round trip.
session.read_parquet: the footer-mapped schema is the inferred one."""

import os
import tempfile
from datetime import date, datetime
from decimal import Decimal

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from kgforge.session import _footer_spark_type, read_parquet, tiny_df

ARROW = "spark.sql.execution.arrow.pyspark.enabled"


@pytest.fixture(params=["true", "false"], ids=["arrow_on", "arrow_off"])
def arrow_mode(request, spark):
    old = spark.conf.get(ARROW)
    spark.conf.set(ARROW, request.param)
    yield spark
    spark.conf.set(ARROW, old)


def test_tiny_df_decimal_struct_and_array_columns(arrow_mode):
    spark = arrow_mode
    schema = "a decimal(10,2), b int, c struct<x: int, y: string>, d array<int>"
    rows = [
        (Decimal("1.50"), 2, {"x": 1, "y": "p"}, [1, 2]),
        (Decimal("-3.25"), 4, {"x": 5, "y": "q"}, []),
    ]
    df = tiny_df(spark, rows, schema)
    assert df.schema.simpleString() == (
        "struct<a:decimal(10,2),b:int,c:struct<x:int,y:string>,d:array<int>>"
    )
    assert df.orderBy("b").collect() == [
        Row(a=Decimal("1.50"), b=2, c=Row(x=1, y="p"), d=[1, 2]),
        Row(a=Decimal("-3.25"), b=4, c=Row(x=5, y="q"), d=[]),
    ]
    empty = tiny_df(spark, [], schema)
    assert empty.schema == df.schema and empty.count() == 0


_TS = st.datetimes(datetime(1900, 1, 1), datetime(2200, 1, 1))
_I64 = st.integers(-(2**63), 2**63 - 1)
#: column kind -> (value strategy, may hold nulls, values -> pandas column)
_KINDS = {
    "int8": (st.integers(-(2**7), 2**7 - 1), False, lambda v: pd.Series(v, dtype="int8")),
    "int32": (st.integers(-(2**31), 2**31 - 1), False, lambda v: pd.Series(v, dtype="int32")),
    "Int64": (_I64, True, lambda v: pd.Series(v, dtype="Int64")),
    "uint32": (st.integers(0, 2**32 - 1), False, lambda v: pd.Series(v, dtype="uint32")),
    "float32": (st.floats(width=32), False, lambda v: pd.Series(v, dtype="float32")),
    "float64": (st.floats(), True, lambda v: pd.Series(v, dtype="float64")),
    "bool": (st.booleans(), False, lambda v: pd.Series(v, dtype="bool")),
    "str": (st.text(), True, lambda v: pd.Series(v, dtype=object)),
    "bytes": (st.binary(), True, lambda v: pd.Series(v, dtype=object)),
    "date": (
        st.dates(date(1900, 1, 1), date(2200, 1, 1)), True, lambda v: pd.Series(v, dtype=object),
    ),
    "ts": (_TS, True, lambda v: pd.Series(pd.to_datetime(v)).astype("datetime64[us]")),
    "ts_ms": (_TS, True, lambda v: pd.Series(pd.to_datetime(v)).astype("datetime64[ms]")),
    "ts_utc": (
        _TS, True,
        lambda v: pd.Series(pd.to_datetime(v)).dt.tz_localize("UTC").astype("datetime64[us, UTC]"),
    ),
    "decimal": (
        st.decimals(-(10**6), 10**6, places=2), True, lambda v: pd.Series(v, dtype=object),
    ),
    "list": (st.lists(_I64, min_size=1, max_size=3), True, lambda v: pd.Series(v, dtype=object)),
    "struct": (
        st.fixed_dictionaries({"x": _I64, "y": st.text()}), True,
        lambda v: pd.Series(v, dtype=object),
    ),
    "category": (st.sampled_from("ab"), False, lambda v: pd.Series(v, dtype="category")),
}


@settings(max_examples=40, deadline=None)
@given(data=st.data())
def test_read_parquet_schema_matches_inference_property(spark, jobs_in_group, data):
    """For any pandas-written frame, the schema ``read_parquet`` maps from
    the footer is the one ``spark.read.parquet`` infers, and the read
    runs no job; a column type it cannot map takes the inference
    fallback (one job) and still gives the inferred schema."""
    kinds = data.draw(st.lists(st.sampled_from(sorted(_KINDS)), min_size=1, max_size=4))
    n = data.draw(st.integers(1, 4))
    cols = {}
    for i, kind in enumerate(kinds):
        value, nullable, column = _KINDS[kind]
        rest = st.none() | value if nullable else value
        # a non-null first value, so no column's Arrow type is ``null``
        values = [data.draw(value)] + data.draw(st.lists(rest, min_size=n - 1, max_size=n - 1))
        cols[f"c{i}"] = column(values)
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "f.parquet")
        pd.DataFrame(cols).to_parquet(path, index=False)
        mapped = _footer_spark_type(pa.struct(list(pq.read_schema(path))))
        jobs, df = jobs_in_group(f"read_parquet:{path}", lambda: read_parquet(spark, path))
        assert df.schema == spark.read.parquet(path).schema, kinds
        assert jobs == (0 if mapped is not None else 1), (kinds, mapped)
        # unsigned ints and dictionaries are among the unmapped types
        assert mapped is None or not {"uint32", "category"} & set(kinds)
