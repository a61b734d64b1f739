"""Wire-format parser for the reference's socket protocol.

One socket line = one JSON array whose elements are ``"label,text"``
strings, batched by the external replay server (reference S2/S3:
``flatMap(lambda line: json.loads(str(line)))`` then
``map(lambda x: x.split(',', 1))`` — PAC/passiveAgressiveModel.py:168-169).

Declarative equivalent: ``from_json`` → ``explode`` → limit-2
``split``. Malformed input never throws and never silently vanishes
(the reference swallowed it with a blanket except at :136-137):

* a line that is not a JSON string array → one quarantine row with
  ``error='bad_json'`` and the raw line preserved;
* a record with no comma → ``error='no_comma'``, label null, the
  whole record kept as text.

Plain JSON-lines records ``{"label": ..., "text": ...}`` are also
supported (primary format for new deployments, SURVEY.md §7 step 4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

WIRE_SCHEMA = T.ArrayType(T.StringType())

# Output schema: label (string|null), tweet (string), error (string|null),
# raw (string — original line, only on bad_json rows)


class WireParser:
    """``parse_wire`` with its Column expressions built once: calling
    the instance on a frame of lines applies them. A caller that parses
    every micro-batch keeps one instance instead of rebuilding the same
    expressions (and paying their py4j calls) per batch.

    Works identically on a batch or streaming DataFrame (the plan is
    fully declarative — no UDFs, no RDDs).
    """

    def __init__(self, value_col: str = "value") -> None:
        # ONE linear plan, ONE scan of the input. The natural formulation
        # (good-rows explode UNION bad-rows projection) reads the source
        # once per branch — on the streaming hot path that tripled the
        # scan stages per micro-batch. Instead a bad line contributes a
        # single-element ``array(null)`` to a plain explode: a null
        # record with ``bad=true`` IS the quarantine row, and an empty
        # valid array ``[]`` still explodes to nothing (matching flatMap
        # semantics).
        self._read = [
            F.col(value_col).alias("raw"),
            F.from_json(F.col(value_col), WIRE_SCHEMA).alias("records"),
        ]
        self._explode = [
            F.col("raw"),
            F.col("records").isNull().alias("bad"),
            F.explode(
                F.coalesce(F.col("records"), F.array(F.lit(None).cast("string")))
            ).alias("rec"),
        ]
        self._split = [
            F.col("raw"),
            F.col("bad"),
            F.col("rec"),
            F.split("rec", ",", 2).alias("parts"),
        ]
        self._out = [
            F.when(~F.col("bad") & (F.size("parts") >= 2), F.element_at("parts", 1)).alias(
                "label"
            ),
            F.when(F.col("bad"), F.lit(None).cast("string"))
            .when(F.size("parts") >= 2, F.element_at("parts", 2))
            .otherwise(F.col("rec"))
            .alias("tweet"),
            F.when(F.col("bad"), "bad_json")
            .when(F.size("parts") < 2, "no_comma")
            .alias("error"),
            F.when(F.col("bad"), F.col("raw")).alias("raw"),
        ]

    def __call__(self, lines: DataFrame) -> DataFrame:
        # from_json keeps its own projection under the explode: written
        # beside the generator, ``from_json(value).isNull()`` is
        # evaluated once per EXPLODED row, re-parsing a 3000-record line
        # 3000 times
        return (
            lines.select(*self._read)
            .select(*self._explode)
            .select(*self._split)
            .select(*self._out)
        )


def parse_wire(lines: DataFrame, value_col: str = "value") -> DataFrame:
    """Parse the JSON-array-of-"label,text" wire format (see
    ``WireParser``)."""
    return WireParser(value_col)(lines)


def parse_jsonl(lines: DataFrame, value_col: str = "value") -> DataFrame:
    """Primary modern format: one JSON object per line with
    ``label`` / ``text`` fields; same output schema as parse_wire."""
    schema = T.StructType(
        [T.StructField("label", T.StringType()), T.StructField("text", T.StringType())]
    )
    parsed = lines.select(
        F.col(value_col).alias("raw"), F.from_json(F.col(value_col), schema).alias("r")
    )
    return parsed.select(
        F.col("r.label").alias("label"),
        F.col("r.text").alias("tweet"),
        F.when(F.col("r").isNull() | F.col("r.text").isNull(), "bad_json").alias("error"),
        # preserve the original line on EVERY bad_json row — an object
        # that parsed but lacks `text` is just as unrecoverable without it
        F.when(F.col("r").isNull() | F.col("r.text").isNull(), F.col("raw")).alias("raw"),
    )


def split_quarantine(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantined) — clean rows drop the error/raw columns."""
    clean = parsed.filter(F.col("error").isNull()).select("label", "tweet")
    quarantined = parsed.filter(F.col("error").isNotNull())
    return clean, quarantined
