"""Panel data model: validation, melt, group keys, NULL policy.

The reference's panel abstraction is a pandas MultiIndex frame whose
index must contain a ``date`` level; every other index level is a
grouping level and every column is a numeric feature
(reference ``time_series_study/time_series_study.py:39-74``).

Our Spark-native equivalent is a flat DataFrame::

    (date: date|timestamp, <group cols...>, <feature cols...>)

and the engine's canonical *long* layout, produced once by
:func:`melt_panel`::

    (grp: string, date, feature: string, value: double)

where ``grp`` is the reference's golden group-key string
``"v1:v2:..."`` (or ``"__ALL__"`` with no group columns —
``time_series_study.py:10-19``).  The ``for feature in features``
driver loops of the reference become a single ``groupBy(grp, feature)``
over the melted frame — one shuffle for every per-series statistic.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

ALL_GROUP = "__ALL__"

_NUMERIC_TYPES = (
    T.DoubleType,
    T.FloatType,
    T.LongType,
    T.IntegerType,
    T.ShortType,
    T.ByteType,
    T.DecimalType,
)


class PanelValidationError(ValueError):
    """Raised when a DataFrame does not satisfy the panel contract."""


@dataclass
class PanelSchema:
    """Describes which columns of a flat DataFrame play which role."""

    date_col: str = "date"
    group_cols: list[str] = field(default_factory=list)
    feature_cols: list[str] = field(default_factory=list)

    def features_or_infer(self, df: DataFrame) -> list[str]:
        if self.feature_cols:
            return self.feature_cols
        reserved = {self.date_col, *self.group_cols}
        return [
            f.name
            for f in df.schema.fields
            if f.name not in reserved and isinstance(f.dataType, _NUMERIC_TYPES)
        ]


def group_key_col(group_cols: list[str]) -> Column:
    """Golden group-key string: ``"v1:v2:..."`` or ``"__ALL__"``.

    Mirrors ``GroupKey.__str__`` (``time_series_study.py:19``), which is
    part of the reference's output contract (appears verbatim in every
    result's ``group`` column).
    """
    if not group_cols:
        return F.lit(ALL_GROUP)
    return F.concat_ws(":", *[F.col(c).cast("string") for c in group_cols])


def validate_panel(df: DataFrame, schema: PanelSchema) -> PanelSchema:
    """Imperative checks equivalent to the reference's ctor validation.

    * date column present and timestamp/date-typed (``time_series_study.py:50-64``)
    * group columns present
    * features numeric (``time_series_study.py:70-72``)

    Returns a resolved copy of ``schema`` with features filled in.
    """
    names = {f.name: f.dataType for f in df.schema.fields}
    if schema.date_col not in names:
        raise PanelValidationError(
            f"Panel must contain a date column named {schema.date_col!r}."
        )
    if not isinstance(names[schema.date_col], (T.DateType, T.TimestampType, T.TimestampNTZType)):
        raise PanelValidationError(
            f"Column {schema.date_col!r} must be date/timestamp, got {names[schema.date_col]}."
        )
    missing = [c for c in schema.group_cols if c not in names]
    if missing:
        raise PanelValidationError(f"Missing group columns: {missing}")
    features = schema.features_or_infer(df)
    if not features:
        raise PanelValidationError("Panel has no numeric feature columns.")
    non_numeric = [
        c for c in features if not isinstance(names.get(c), _NUMERIC_TYPES)
    ]
    if non_numeric:
        raise PanelValidationError(
            f"All feature columns must be numeric. Non-numeric: {non_numeric}"
        )
    return PanelSchema(schema.date_col, list(schema.group_cols), features)


def nan_to_null(col: Column) -> Column:
    """Engine NULL policy: NaN (reference missing marker) → SQL NULL."""
    return F.when(F.isnan(col), F.lit(None)).otherwise(col)


def melt_panel(df: DataFrame, schema: PanelSchema) -> DataFrame:
    """Wide panel → canonical long layout ``(grp, date, feature, value)``.

    ``value`` is double, NaN normalized to NULL; rows with NULL value are
    *kept* (each operator applies its own dropna, matching the
    reference's per-series ``dropna()`` at e.g. ``time_series_study.py:145``).
    """
    schema = validate_panel(df, schema)
    structs = F.array(
        *[
            F.struct(
                F.lit(f).alias("feature"),
                nan_to_null(F.col(f).cast("double")).alias("value"),
            )
            for f in schema.feature_cols
        ]
    )
    return df.select(
        group_key_col(schema.group_cols).alias("grp"),
        F.col(schema.date_col).alias("date"),
        F.explode(structs).alias("fv"),
    ).select("grp", "date", F.col("fv.feature").alias("feature"), F.col("fv.value").alias("value"))


def gate_min_len(long_df: DataFrame, min_len: int) -> DataFrame:
    """Per-series length gate over the long layout: drop NULL values,
    keep the (grp, feature) series with at least ``min_len`` values.
    Each row keeps its series' value count as ``_n``."""
    w = Window.partitionBy("grp", "feature")
    return (
        long_df.filter(F.col("value").isNotNull())
        .withColumn("_n", F.count("value").over(w))
        .filter(F.col("_n") >= min_len)
    )


# --------------------------------------------------------------------------
# Cross-engine significant-digit rounding
# --------------------------------------------------------------------------
# The driver hashes query results against a DuckDB oracle. Floating point
# aggregation order differs between engines at ~1e-13 relative, so every
# float output column is rounded to SIG_DIGITS significant digits — in
# BOTH the Spark query and the oracle SQL — using this single SQL
# fragment, which parses identically in Spark SQL and DuckDB.

SIG_DIGITS = 6
_SCALE = 10 ** (SIG_DIGITS - 1)


def siground_sql(expr: str) -> str:
    """SQL fragment rounding ``expr`` to SIG_DIGITS significant digits.

    Valid in both Spark SQL and DuckDB. NaN → NULL.

    The rounded double is reconstructed by *parsing a decimal string*
    ``"<mantissa>e<exponent>"`` rather than multiplying by pow(10, e):
    string→double parsing is correctly rounded in both engines, whereas
    pow(10, e) can differ by 1 ULP between the JVM and DuckDB, which
    would leak into the product and break exact hash comparison.

    Residual risk (accepted, not avoidable within this design): the
    mantissa itself is still ``expr / pow(10, floor(log10(|expr|)))``,
    so a 1-ULP pow/log10 divergence between engines can flip ``round()``
    when the scaled mantissa lands *exactly* on a .5 boundary — a
    measure-zero event for continuous-valued statistics. Two mitigating
    facts: (a) at exact powers of 10, where ``floor(log10(x))`` may
    differ by 1 between engines, mantissa and exponent compensate
    (``1000000e-3`` and ``100000e-2`` parse to the same double), so that
    classic edge case is self-healing; (b) the alternative — formatting
    ``'%.5e'`` and parsing back — was rejected because the JVM's
    ``Formatter`` rounds HALF_UP while DuckDB's printf rounds
    half-to-even, a *systematic* tie divergence rather than a 1-ULP
    coincidence one.
    """
    # The expression is parenthesized before interpolation: a compound
    # expr like "a - b * c" would otherwise bind wrongly against the
    # "/ pow(...)" that follows it (precedence bug, caught by the
    # panel_ols beta0 oracle).
    expr = f"({expr})"
    exp = f"CAST(floor(log10(abs({expr}))) AS BIGINT)"
    mantissa = (
        f"CAST(round({expr} / pow(10, floor(log10(abs({expr})))) * {_SCALE}) AS BIGINT)"
    )
    return (
        f"CASE WHEN {expr} IS NULL OR isnan({expr}) THEN NULL "
        f"WHEN {expr} = 0 THEN 0.0 "
        f"ELSE CAST(concat(CAST({mantissa} AS STRING), 'e', "
        f"CAST({exp} - {SIG_DIGITS - 1} AS STRING)) AS DOUBLE) END"
    )


# 2^63 as a double: |x| · 10^places at or beyond it has no BIGINT
# (ANSI CAST_OVERFLOW in Spark, a conversion error in DuckDB)
_BIGINT_EDGE = float(2**63)


def decround_sql(expr: str, places: int = SIG_DIGITS) -> str:
    """SQL fragment rounding ``expr`` to fixed decimal places — for
    *bounded* statistics (correlations, rates, p-values, exponents):
    near zero, significant-digit rounding amplifies cross-engine noise
    (relative noise of a tiny value is huge), while fixed decimals keep
    the flip probability at |noise| / 10^-places. Same decimal-string
    reconstruction trick as :func:`siground_sql`.

    Out of range: when |expr| · 10^places ≥ 2^63 (|expr| ≳ 9.2e12 at 6
    places, and ±inf) the scaled value has no BIGINT, and a double that
    large has no digits at the 10^-places position anyway, so the value
    passes through unchanged as a double."""
    scale = 10**places
    return (
        f"CASE WHEN {expr} IS NULL OR isnan({expr}) THEN NULL "
        f"WHEN abs(({expr}) * {scale}) >= {_BIGINT_EDGE!r} THEN CAST(({expr}) AS DOUBLE) "
        f"ELSE CAST(concat(CAST(round(({expr}) * {scale}) AS BIGINT), 'e-{places}') AS DOUBLE) END"
    )


def decround(col: Column | str, places: int = SIG_DIGITS) -> Column:
    """Spark Column version of :func:`decround_sql` (same out-of-range
    pass-through)."""
    c = F.col(col) if isinstance(col, str) else col
    scale = 10**places
    as_str = F.concat(
        F.round(c * scale).cast("long").cast("string"), F.lit(f"e-{places}")
    )
    return (
        F.when(c.isNull() | F.isnan(c), F.lit(None).cast("double"))
        .when(F.abs(c * scale) >= F.lit(_BIGINT_EDGE), c.cast("double"))
        .otherwise(as_str.cast("double"))
    )


def siground(col: Column | str) -> Column:
    """Spark Column version of :func:`siground_sql` (same arithmetic)."""
    c = F.col(col) if isinstance(col, str) else col
    exp = F.floor(F.log10(F.abs(c))).cast("long")
    mag = F.pow(F.lit(10.0), F.floor(F.log10(F.abs(c))))
    mantissa = F.round(c / mag * _SCALE).cast("long")
    as_str = F.concat(
        mantissa.cast("string"), F.lit("e"), (exp - (SIG_DIGITS - 1)).cast("string")
    )
    return (
        F.when(c.isNull() | F.isnan(c), F.lit(None).cast("double"))
        .when(c == 0, F.lit(0.0))
        .otherwise(as_str.cast("double"))
    )
