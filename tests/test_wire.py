"""Wire-format parser: JSON-array-of-"label,text" lines, malformed
input quarantined instead of silently swallowed (reference
PAC/passiveAgressiveModel.py:136-137)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from ml_with_spark_streaming_spark.streaming.wire import parse_jsonl, parse_wire


def test_parse_wire_happy_path(spark):
    line = json.dumps(["4,great day", "0,awful day"])
    df = spark.createDataFrame([(line,)], "value string")
    rows = {(r["label"], r["tweet"]) for r in parse_wire(df).collect()}
    assert rows == {("4", "great day"), ("0", "awful day")}


def test_parse_wire_first_comma_only(spark):
    line = json.dumps(["4,one, two, three"])
    r = parse_wire(spark.createDataFrame([(line,)], "value string")).head()
    assert (r["label"], r["tweet"]) == ("4", "one, two, three")


def test_parse_wire_quarantines_bad_json(spark):
    df = spark.createDataFrame([("not json at all",), (json.dumps(["4,ok"]),)], "value string")
    parsed = parse_wire(df)
    clean = parsed.filter(F.col("error").isNull())
    assert [(r["label"], r["tweet"]) for r in clean.collect()] == [("4", "ok")]
    q = parsed.filter(F.col("error").isNotNull()).collect()
    assert len(q) == 1 and q[0]["error"] == "bad_json" and q[0]["raw"] == "not json at all"


def test_parse_wire_quarantines_no_comma(spark):
    line = json.dumps(["no separator here"])
    q = parse_wire(spark.createDataFrame([(line,)], "value string")).collect()
    assert len(q) == 1
    assert q[0]["error"] == "no_comma"
    assert q[0]["tweet"] == "no separator here"  # record preserved, not dropped


def test_parse_jsonl(spark):
    df = spark.createDataFrame(
        [('{"label": "4", "text": "nice"}',), ("broken {",)], "value string"
    )
    parsed = parse_jsonl(df)
    clean = parsed.filter(F.col("error").isNull())
    assert [(r["label"], r["tweet"]) for r in clean.collect()] == [("4", "nice")]
    assert parsed.filter(F.col("error").isNotNull()).count() == 1
