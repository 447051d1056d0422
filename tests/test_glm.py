"""Fixed-effect GLM fit (M1) resource discipline."""

import pytest
from pyspark.sql import functions as F

from photon_ml_spark.ml import glm


def test_failed_fit_releases_its_cache(spark):
    """fit_fixed_effect persists its densified input for the IRLS
    passes; a fit that raises (spark.ml rejects a negative weight) must
    still unpersist it."""
    df = spark.range(40).select(
        (F.col("id") % 2).cast("double").alias("response"),
        F.lit(0.0).alias("offset"),
        F.when(F.col("id") == 3, -1.0).otherwise(1.0).alias("weight"),
        F.array(F.lit(0).cast("long")).alias("features_indices"),
        F.array((F.col("id") % 5).cast("double")).alias("features_values"),
    )
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    with pytest.raises(Exception):
        glm.fit_fixed_effect(df, dim=1, family="binomial")
    # compare id SETS: the async ContextCleaner may drop unrelated RDDs
    leaked = set(jsc.getPersistentRDDs().keySet()) - before
    assert not leaked, f"failed fit leaked cached RDDs {leaked}"
