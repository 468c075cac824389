"""session.tiny_df: column names come from Spark's DDL parser, so types
whose DDL contains commas survive the pandas round trip."""

from decimal import Decimal

import pytest
from pyspark.sql import Row

from kgforge.session import tiny_df

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
