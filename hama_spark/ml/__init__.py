from hama_spark.ml.feature import (
    FeatureTransformer,
    apply_features,
    clip_outliers,
    scale_transformer,
)
from hama_spark.ml.gradient_descent import gradient_descent
from hama_spark.ml.naive_bayes import nb_confusion, nb_predict, nb_train
from hama_spark.ml.kmeans import assign_with_centers_df, kmeans, kmeans_df
from hama_spark.ml.online_cf import CFModel, online_cf_train
from hama_spark.ml.pi import estimate_pi
from hama_spark.ml.spmv import spmv

__all__ = [
    "kmeans",
    "kmeans_df",
    "assign_with_centers_df",
    "nb_train",
    "nb_predict",
    "nb_confusion",
    "gradient_descent",
    "spmv",
    "estimate_pi",
    "online_cf_train",
    "CFModel",
    "FeatureTransformer",
    "apply_features",
    "clip_outliers",
    "scale_transformer",
]
