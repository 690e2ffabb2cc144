from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from dataframeutils_spark.schema import (
    ALL_GROUP,
    PanelSchema,
    PanelValidationError,
    decround,
    decround_sql,
    melt_panel,
    siground,
    siground_sql,
    validate_panel,
)

from pyspark.sql import functions as F


def _panel_df(spark):
    pdf = pd.DataFrame(
        {
            "date": pd.to_datetime(["2024-01-01", "2024-01-02"] * 2),
            "name": ["A", "A", "B", "B"],
            "f1": [1.0, 2.0, 3.0, 4.0],
            "f2": [0.1, 0.2, 0.3, 0.4],
            "label": ["x", "y", "x", "y"],
        }
    )
    return spark.createDataFrame(pdf)


def test_validate_infers_numeric_features(spark):
    schema = validate_panel(_panel_df(spark), PanelSchema(group_cols=["name"]))
    assert schema.feature_cols == ["f1", "f2"]  # 'label' excluded: non-numeric


def test_validate_rejects_missing_date(spark):
    df = _panel_df(spark).drop("date")
    with pytest.raises(PanelValidationError, match="date"):
        validate_panel(df, PanelSchema(group_cols=["name"]))


def test_validate_rejects_non_numeric_feature(spark):
    with pytest.raises(PanelValidationError, match="label"):
        validate_panel(
            _panel_df(spark),
            PanelSchema(group_cols=["name"], feature_cols=["f1", "label"]),
        )


def test_melt_shape_and_group_key(spark):
    long_df = melt_panel(_panel_df(spark), PanelSchema(group_cols=["name"]))
    pdf = long_df.toPandas()
    assert len(pdf) == 8  # 4 rows × 2 features
    assert set(pdf.columns) == {"grp", "date", "feature", "value"}
    assert set(pdf["grp"]) == {"A", "B"}


def test_melt_no_groups_uses_all_sentinel(spark):
    df = _panel_df(spark).drop("name")
    long_df = melt_panel(df, PanelSchema())
    assert set(long_df.toPandas()["grp"]) == {ALL_GROUP}


def test_melt_normalizes_nan_to_null(spark):
    pdf = pd.DataFrame(
        {"date": pd.to_datetime(["2024-01-01"]), "name": ["A"], "f1": [np.nan]}
    )
    long_df = melt_panel(spark.createDataFrame(pdf), PanelSchema(group_cols=["name"]))
    row = long_df.toPandas().iloc[0]
    assert row["value"] is None or pd.isna(row["value"])
    # and it is a SQL NULL, not a float NaN, Spark-side:
    assert long_df.filter(F.col("value").isNull()).count() == 1


@pytest.mark.parametrize(
    "x,expected",
    [
        (1234567.89, 1234570.0),
        (0.000123456789, 0.000123457),
        (-987654321.0, -987654000.0),
        (0.0, 0.0),
    ],
)
def test_siground_column_matches_sql_fragment(spark, ddb, x, expected):
    got_spark = (
        spark.range(1)
        .select(siground(F.lit(float(x)).cast("double")).alias("v"))
        .collect()[0]["v"]
    )
    got_duck = ddb.execute(f"SELECT {siground_sql(str(float(x)))} AS v").fetchone()[0]
    assert got_spark == pytest.approx(expected, rel=1e-12)
    assert got_duck == pytest.approx(expected, rel=1e-12)
    assert got_spark == got_duck


@pytest.mark.parametrize(
    "x,expected",
    [
        (0.1234567, 0.123457),
        (9.2e12, 9.2e12),  # x·1e6 still fits a BIGINT: rounded as usual
        (9.3e12, 9.3e12),  # beyond it: passed through, no CAST_OVERFLOW
        (-1e13, -1e13),
        (1e300, 1e300),
        (float("inf"), float("inf")),
        (float("-inf"), float("-inf")),
        (float("nan"), None),
        (None, None),
    ],
)
def test_decround_out_of_range_same_on_both_engines(spark, ddb, x, expected):
    df = spark.createDataFrame([(x,)], "x double")
    got_col = df.select(decround("x").alias("v")).collect()[0]["v"]
    got_sql = df.select(F.expr(decround_sql("x")).alias("v")).collect()[0]["v"]
    got_duck = ddb.execute(
        f"SELECT {decround_sql('x')} AS v FROM (SELECT CAST(? AS DOUBLE) AS x)", [x]
    ).fetchone()[0]
    assert got_col == got_sql == got_duck == expected


def test_round_floats_matches_column_built_reference(spark):
    """r14 switched round_floats to one parsed F.expr per float column
    (the shared Spark/DuckDB SQL fragments) instead of the Column
    builders — plan-construction cost only. Pin value identity against
    the pre-r14 Column construction on the edge cases: NULL, NaN→NULL,
    0, negatives, tiny and huge magnitudes, both rounding modes."""
    from pyspark.sql import types as T

    from dataframeutils_spark.driver import round_floats
    from dataframeutils_spark.schema import decround, siground

    rows = [
        (1, 1234567.89, 0.000123456789),
        (2, -987654321.0, -0.5000005),
        (3, 0.0, float("nan")),
        (4, None, 1e-300),
        (5, 7.0, 1e300),
    ]
    df = spark.createDataFrame(rows, "id int, a double, b double")

    def old_round_floats(d, dec=(), all_dec=False):
        cols = []
        for f in d.schema.fields:
            if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
                fn = decround if (all_dec or f.name in dec) else siground
                cols.append(fn(F.col(f.name).cast("double")).alias(f.name))
            else:
                cols.append(F.col(f.name))
        return d.select(*cols)

    for kw in ({"all_dec": True}, {}, {"dec": ("b",)}):
        new = round_floats(df, **kw)
        ref = old_round_floats(df, **kw)
        assert new.exceptAll(ref).count() == 0
        assert ref.exceptAll(new).count() == 0
