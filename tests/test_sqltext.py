"""SQL-text quoting: a literal or identifier built by functions/sqltext.py
reads back as exactly the Python value, and the run path's parsed
expressions equal their Column faces."""

import datetime as dt

from pyspark.sql import functions as F

from gbif_data_validator_spark.functions.predicates import is_blank, is_blank_sql
from gbif_data_validator_spark.functions.sqltext import double, doubles, ident, in_list, string
from gbif_data_validator_spark.operators.record_checks import partition_id_col, partition_id_sql

HOSTILE = ["it's", "a\\b", "a\\'b", "\\S", "日本語 ü", "' OR true OR '", "`x`", "\\u0041", "", "%_"]


def test_string_literals_read_back_verbatim(spark):
    row = spark.range(1).selectExpr(
        *(f"{string(v)} AS {ident(f'c{i}')}" for i, v in enumerate(HOSTILE))
    ).first()
    assert list(row) == HOSTILE


def test_identifiers_name_one_column(spark):
    names = ["a b", "a`b", "a.b", "key` OR true OR `x", "日本"]
    df = spark.range(1).selectExpr(*(f"{i} AS {ident(n)}" for i, n in enumerate(names)))
    assert df.columns == names
    assert list(df.selectExpr(*(ident(n) for n in names)).first()) == list(range(5))


def test_double_literals_are_doubles(spark):
    row = spark.range(1).selectExpr(
        f"{double(0.1)} AS x", f"{doubles([0.0, 0.1, 0.30000000000000004, 1])} AS q"
    )
    assert row.schema["x"].dataType.simpleString() == "double"
    assert row.schema["q"].dataType.simpleString() == "array<double>"
    assert list(row.first()) == [0.1, [0.0, 0.1, 0.30000000000000004, 1.0]]


def test_in_list(spark):
    df = spark.createDataFrame([(v,) for v in HOSTILE + ["other", None]], "v string")
    got = df.where(in_list("v", HOSTILE)).collect()
    assert sorted(r.v for r in got) == sorted(HOSTILE)
    assert df.where(in_list("v", [])).count() == 0


def test_sql_faces_equal_column_faces(spark):
    rows = [
        (dt.datetime(2024, 1 + i % 12, 1 + i % 28) if i % 5 else None, f"k{i}" if i % 7 else None,
         ["", " ", "x", None, "\t"][i % 5])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "warc_ts timestamp, `my key` string, s string")
    for n in (1, 3):
        got = df.select(
            partition_id_col(F.col("warc_ts"), n, F.col("my key")).alias("a"),
            F.expr(partition_id_sql("warc_ts", n, ident("my key"))).alias("b"),
            is_blank(F.col("s")).alias("c"),
            F.expr(is_blank_sql("s")).alias("d"),
        ).collect()
        assert all(r.a == r.b and r.c == r.d for r in got)
