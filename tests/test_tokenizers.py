"""The tokenizer contracts agree across engines: Spark's
``text._tokens``/``_terms``/``_ws_split`` and DuckDB's
``_tokens_sql``/``_ws_split_sql`` return equal token arrays on rows
with edge spaces, doubled spaces, tab and newline (kept inside a token
by the space split, split on by ``\\s+``), mixed case, the empty and
the blank string, NULL and Latin-1 letters."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from dataframeutils_spark.operators import text

ROWS = [
    (0, "  leading and trailing  "),
    (1, "doubled  spaces   here"),
    (2, "tab\tinside new\nline"),
    (3, " \t\n edge whitespace \n"),
    (4, "MiXeD Case WORDS"),
    (5, ""),
    (6, " "),
    (7, None),
    (8, "ÄÖ Äpfel öl"),
]


def _spark_tokens(spark) -> dict[int, tuple]:
    df = spark.createDataFrame(ROWS, "id long, text string")
    out = df.select(
        "id",
        text._tokens(F.col("text")).alias("tokens"),
        text._terms("text").alias("terms"),
        text._ws_split(F.col("text")).alias("ws"),
    )
    return {r["id"]: (r["tokens"], r["terms"], r["ws"]) for r in out.collect()}


def _duckdb_tokens(ddb) -> dict[int, tuple]:
    ddb.register("tokenizer_rows", pd.DataFrame(ROWS, columns=["id", "text"]))
    try:
        got = ddb.execute(f"""
            SELECT id, {text._tokens_sql("text")}, {text._tokens_sql("lower(text)")},
                   {text._ws_split_sql("text")}
            FROM tokenizer_rows
        """).fetchall()
    finally:
        ddb.unregister("tokenizer_rows")
    return {i: (t, lt, ws) for i, t, lt, ws in got}


def test_tokenizers_equal_across_engines(spark, ddb):
    s, d = _spark_tokens(spark), _duckdb_tokens(ddb)
    assert s.keys() == d.keys() == {i for i, _ in ROWS}
    for i in s:
        assert s[i] == d[i], f"row {i}: {ROWS[i][1]!r}"


def test_tokenizer_contracts_differ_on_tab_and_newline(spark):
    got = _spark_tokens(spark)
    assert got[2][0] == ["tab\tinside", "new\nline"]
    assert got[2][2] == ["tab", "inside", "new", "line"]
    assert got[4][1] == ["mixed", "case", "words"]
    assert got[5][0] == got[6][0] == []
    assert got[7] == (None, None, None)
