"""Feature transformer hook (M7).

Reference: ml/util/FeatureTransformer.java:41 (pluggable DoubleVector ->
DoubleVector pre-transform applied by KMeansBSP / GradientDescentBSP
before compute) and DefaultFeatureTransformer.java (identity).

In Spark a feature transformer IS a column expression
``array<double> -> array<double>``; this module gives a scale
transform and a one-call applier (``None`` = identity) so ML entry
points keep the reference's plug-in shape without any UDF.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FeatureTransformer = Callable[[Column], Column]


def scale_transformer(factor: float) -> FeatureTransformer:
    return lambda v: F.transform(v, lambda x: x * F.lit(factor))


def apply_features(
    df: DataFrame, transformer: FeatureTransformer | None, features_col: str = "features"
) -> DataFrame:
    """Apply a transformer to ``features_col`` (None = identity)."""
    if transformer is None:
        return df
    return df.withColumn(features_col, transformer(F.col(features_col)))


def clip_outliers(
    df: DataFrame,
    cols: list[str],
    lower_q: float = 0.01,
    upper_q: float = 0.99,
    accuracy: int = 100_000,
) -> DataFrame:
    """Winsorize numeric columns: clamp each to its [lower_q, upper_q]
    approx-quantile bounds — the standard pre-scaling outlier fence for
    GD/k-means features (one corrupt magnitude otherwise dominates the
    loss). ONE aggregation computes every bound (percentile_approx is
    mergeable/map-side combined); bounds become plan literals, the clip
    is a pure projection. NULLs pass through unchanged."""
    if not cols:
        raise ValueError("cols must be non-empty")
    if not 0.0 <= lower_q < upper_q <= 1.0:
        raise ValueError(f"need 0 <= lower_q < upper_q <= 1, got {lower_q},{upper_q}")
    bounds = df.agg(
        *[
            F.percentile_approx(c, [lower_q, upper_q], accuracy).alias(c)
            for c in cols
        ]
    ).first()
    out = df
    for c in cols:
        if bounds[c] is None:
            # all-NULL column (or empty df): no bounds exist; NULLs
            # pass through, so clipping is a no-op
            continue
        lo, hi = bounds[c]
        # greatest/least IGNORE nulls (they'd turn NULL into the bound)
        clipped = F.least(F.greatest(F.col(c), F.lit(lo)), F.lit(hi))
        out = out.withColumn(
            c, F.when(F.col(c).isNull(), F.lit(None)).otherwise(clipped)
        )
    return out
