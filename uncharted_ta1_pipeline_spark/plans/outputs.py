"""Terminal outputs — two of the reference's OutputCreators (SURVEY.md
§2.1, /root/reference/pipelines/geo_referencing/output.py:87-343)
re-expressed as pure-Catalyst projections and materialized as
oracle-checked queries: ``scoring_output`` (ScoringOutput,
output.py:87-147: per-query-point tabular, base + error/confidence field
set) and ``summary_output`` (SummaryOutput, output.py:150-225: one row per
map with per-source contribution strings + rmse + confidence).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from uncharted_ta1_pipeline_spark.operators.aggregates import (
    confidence_product,
    rmse_score,
    source_histogram,
)


def scoring_output(fit: DataFrame) -> DataFrame:
    """ScoringOutput (output.py:87-147): per-query-point tabular over the
    fit-predict result — base fields (id, coordinates, prediction) plus the
    error/confidence set.  ``error`` is the fit's trend adjustment at the
    probe (prediction minus the running-mean baseline ``intercept`` — the
    analog of error vs the gtruth-free baseline); ``confidence`` grows with
    observation support.  Inputs are the already-rounded fit columns, so
    both engines difference identical doubles; "+ 0.0" sign-normalizes
    results that round to zero."""
    err = F.round(F.col("pred") - F.col("intercept"), 6) + F.lit(0.0)
    return fit.select(
        "probe_id",
        "conv_id",
        "probe_ts_us",
        "pred",
        "n_obs",
        err.alias("error"),
        F.abs(err).alias("abs_error"),
        F.round(F.lit(1.0) - F.lit(1.0) / (F.col("n_obs") + F.lit(1)), 6).alias(
            "confidence"
        ),
    )


def summary_output(t: DataFrame) -> DataFrame:
    """SummaryOutput (output.py:150-225): ONE row per conversation — a
    '<count>;<distinct-tools>' contribution string per source (the
    latlon/utm/state_plane/... columns, here the role vocabulary), missing
    sources as '', plus the conversation's rmse and confidence.  Three
    per-conv partial aggregations joined on conv_id (co-partitioned — the
    join keys share one exchange)."""
    hist = source_histogram(t)
    cell = F.concat(
        F.col("n").cast("string"), F.lit(";"), F.col("n_distinct_tools").cast("string")
    )

    def src(role: str) -> F.Column:
        return F.coalesce(
            F.max(F.when(F.col("role") == role, cell)), F.lit("")
        ).alias(f"{role}_src")

    piv = hist.groupBy("conv_id").agg(src("user"), src("assistant"), src("tool"))
    rm = rmse_score(t).select("conv_id", "rmse")
    cp = confidence_product(t).select("conv_id", "confidence")
    return piv.join(rm, on="conv_id", how="left").join(cp, on="conv_id", how="left")
