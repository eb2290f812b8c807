"""Python UDTF surface: the last member of the UDF/UDAF/UDTF triple.

The engine's policy is built-in expressions in every hot path (the
reference has zero UDFs and SURVEY §2.11 says preserve that). This pins the remaining API member — a table function — works
on the session, and that its RELATIONAL twin produces identical rows, so
the docstring claim "UDTF is the escape hatch, the expression is the hot
path" is a tested equivalence, not prose. The UDTF here is row-at-a-time
Python (Spark's UDTF contract); at corpus scale the posexplode twin wins
for the same reason vectorized-vs-row always does.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.functions import udtf

from real_time_flight_data_pipeline_spark.sources.parquet import load_table

from .conftest import SF_SMOKE


@udtf(returnType="pos: int, token: string")
class Tokenize:
    """Whitespace tokenizer as a table function: one input text ->
    (pos, token) rows — the UDTF shape (1 row in, N rows out)."""

    def eval(self, text: str):
        if text is None:
            return
        pos = 0
        for tok in text.lower().split():
            if tok:
                yield pos, tok
                pos += 1


def test_udtf_matches_relational_posexplode(spark):
    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .filter(F.col("doc_id") < 10)
        .select("doc_id", "text")
    )
    docs.createOrReplaceTempView("udtf_docs")
    spark.udtf.register("tokenize_udtf", Tokenize)

    via_udtf = spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token
        FROM udtf_docs d, LATERAL tokenize_udtf(d.text) t
        """
    )
    via_expr = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
        ).alias("pos", "token"),
    )
    assert sorted(map(tuple, via_udtf.collect())) == sorted(
        map(tuple, via_expr.collect())
    )


def test_udtf_handles_nulls_and_empties(spark):
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "  "), (4, "One  two")], "id long, text string"
    )
    df.createOrReplaceTempView("udtf_edge")
    spark.udtf.register("tokenize_udtf_e", Tokenize)
    rows = spark.sql(
        "SELECT d.id, t.pos, t.token FROM udtf_edge d, "
        "LATERAL tokenize_udtf_e(d.text) t"
    ).collect()
    assert sorted(map(tuple, rows)) == [(4, 0, "one"), (4, 1, "two")]
