"""Robust outlier filtering (SURVEY.md §2.5 OutlierFilter).

Two passes, mirroring /root/reference/tasks/geo_referencing/
outlier_filter.py:34-293:

1. ``mad_outliers`` — the cheap SQL pass: MAD (median absolute deviation)
   residual threshold (:246-261 `_remove_outliers_simple`).  Pure
   Catalyst: exact ``percentile`` aggregates, no UDF.
2. ``ransac_slope`` — the grouped-model pass: a seeded RANSAC line fit
   value~time per conversation (:163-231, seed 911 :191), implemented as
   a per-partition ``mapInPandas`` with numpy only.  Groups are capped by confidence
   rank like the reference caps GCPs (MAX_GCPS=8, ground_control.py:17),
   so a hot conversation cannot blow up a single task.

Statuses flip to OUTLIER instead of rows being deleted
(CoordStatus, entities.py:91-95)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def _median_mad2(df: DataFrame, yc: str) -> DataFrame:
    """Per-conversation exact median and MAD of the int64 column ``yc``,
    both doubled: ``conv_id, _n, _med2, _mad2``.

    Both medians run over the per-conv VALUE HISTOGRAM with Spark's
    frequency-weighted ``percentile(v, 0.5, cnt)`` — identical values to
    the raw-stream percentile (integer counts expand to the same
    multiset), while the aggregate's per-group value->count map is
    bounded by the value range rather than conversation length.
    Doubling keeps everything in int64: ``_med2`` is the interpolated
    median times two (the .5 becomes an exact whole number), and the MAD
    runs over half-units ``|2*yc - _med2|``, so Spark ``percentile`` and
    DuckDB ``median``/``mad``/``quantile_cont`` agree bit for bit."""
    hist = df.groupBy("conv_id", yc).agg(F.count(F.lit(1)).alias("_cnt"))
    med = hist.groupBy("conv_id").agg(
        F.round(F.expr(f"percentile({yc}, 0.5, _cnt)") * 2, 0)
        .cast("long")
        .alias("_med2")
    )
    return (
        hist.join(med, on="conv_id")
        .withColumn("_adev2", F.abs(F.col(yc) * 2 - F.col("_med2")))
        .groupBy("conv_id")
        .agg(
            F.sum("_cnt").alias("_n"),
            F.min("_med2").alias("_med2"),  # constant within the group
            F.expr("percentile(_adev2, 0.5, _cnt)").alias("_mad2"),
        )
    )


def mad_outliers(df: DataFrame, k: float = 3.0, value_col: str = "signal") -> DataFrame:
    """Flag rows whose value deviates from the conversation median by more
    than ``k`` * MAD (+epsilon).

    Integer-exact percentiles: the value is centi-quantized
    (``floor(v*100+0.5)`` — lossless for the 2-decimal fixture signals,
    the declared precision of this feature) and both medians run over
    the per-conv histogram in int64 (``_median_mad2``).  The base stream
    is touched twice: the histogram build and the final flag join."""
    yc = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long")
    base = df.select("conv_id", "turn_idx", value_col, yc.alias("_yc"))
    return (
        base.join(_median_mad2(base, "_yc"), on="conv_id")
        .withColumn("_adev2", F.abs(F.col("_yc") * 2 - F.col("_med2")))
        .select(
            "conv_id",
            "turn_idx",
            F.round(value_col, 6).alias(value_col),
            F.round(F.col("_med2") / 200.0, 6).alias("median"),
            F.round(F.col("_mad2") / 200.0, 6).alias("mad"),
            F.when(
                F.col("_adev2").cast("double")
                > k * F.col("_mad2") + F.lit(1e-9),
                F.lit("OUTLIER"),
            )
            .otherwise(F.lit("OK"))
            .alias("status"),
        )
    )


RANSAC_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("slope", DoubleType()),
        StructField("intercept", DoubleType()),
        StructField("n_inliers", IntegerType()),
        StructField("n_obs", IntegerType()),
    ]
)


# Deterministic candidate-index multipliers (Knuth multiplicative constant +
# two odd offsets).  The reference seeds numpy's RNG (seed 911,
# outlier_filter.py:191); a cross-engine oracle needs the sample indices to
# be a pure FUNCTION of (iteration, n), so the seed is mixed in affinely
# instead.  Same estimator family, reproducible in plain SQL.
RANSAC_MULT_A = 2654435761
RANSAC_MULT_B = 40503
RANSAC_OFF_B = 1759


def ransac_slope(
    df: DataFrame,
    value_col: str = "signal",
    max_obs_per_group: int = 512,
    n_iter: int = 32,
    seed: int = 911,
) -> DataFrame:
    """Per-conversation robust line fit value ~ seconds-since-first-turn.

    Vectorized Arrow path (``mapInPandas``); numpy-only RANSAC mirroring
    the reference's tasks/geo_referencing/outlier_filter.py:163-231.
    Observations per group are capped by recency to bound task size (the
    reference caps GCPs at MAX_GCPS=8, ground_control.py:17; we keep more
    because the fit is cheap).

    Fully deterministic and DuckDB-reproducible:
    - candidate sample indices are affine functions of the iteration number
      (mod n) rather than RNG draws;
    - x is quantized to whole seconds and y to centi-units, so the refit's
      sufficient statistics are EXACT integers (no accumulation-order
      sensitivity) and the final OLS is recovered in double identically in
      both engines.

    Physical plan: hash-repartition by conv_id, ONE Arrow transfer per
    partition, groups re-assembled pandas-side.  Grouped-map
    applyInPandas pays a per-GROUP Arrow round-trip that dominates small
    groups (measured 3.4-5.7s vs 0.7s for a trivial kernel over 1,500
    groups at sf0.1 — per-group overhead, not compute).  Memory stays
    bounded: every group is capped at ``max_obs_per_group`` rows and
    partition count spreads conversations, so a partition holds
    ~(n_convs/parallelism)*cap rows."""
    import numpy as np
    import pandas as pd

    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("conv_id").orderBy(
        F.col("ts").desc(), F.col("turn_idx").desc()
    )
    capped = (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_obs_per_group)
        .withColumn("_us", us)
        .withColumn("_yc", F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long"))
        .select("conv_id", "turn_idx", "_us", "_yc")
    )

    def _fit_rows(conv: str, pdf: pd.DataFrame) -> list:
        pdf = pdf.sort_values(["_us", "turn_idx"], kind="mergesort")
        usv = pdf["_us"].to_numpy()
        x = (usv - usv.min()) // 1_000_000  # int64 whole seconds
        yc = pdf["_yc"].to_numpy()
        n = len(x)
        if n < 2:
            return [conv, None, None, 0, n]
        med = float(np.median(yc))
        thresh = max(3.0 * float(np.median(np.abs(yc - med))), 1e-9)
        best_inl, best_m, best_b = -1, 0.0, 0.0
        for it in range(n_iter):
            i = (it * RANSAC_MULT_A + seed) % n
            j = (it * RANSAC_MULT_B + RANSAC_OFF_B) % n
            if x[i] == x[j]:
                continue
            m = (yc[j] - yc[i]) / (x[j] - x[i])
            b = float(yc[i]) - m * float(x[i])
            inl = int(np.sum(np.abs(yc - (m * x + b)) <= thresh))
            if inl > best_inl:  # strict: first max wins (lowest iteration)
                best_inl, best_m, best_b = inl, m, b
        mask = np.abs(yc - (best_m * x + best_b)) <= thresh
        k = int(mask.sum())
        m_f, b_f = best_m, best_b
        if k >= 2:
            xs_, ys_ = x[mask], yc[mask]
            sx, sy = int(xs_.sum()), int(ys_.sum())
            sxy, sxx = int((xs_ * ys_).sum()), int((xs_ * xs_).sum())
            denom = float(k) * float(sxx) - float(sx) * float(sx)
            if denom > 0:
                m_f = (float(k) * float(sxy) - float(sx) * float(sy)) / denom
                b_f = (float(sy) - m_f * float(sx)) / float(k)
        return [conv, round(m_f / 100, 6), round(b_f / 100, 6), k, n]

    cols = ["conv_id", "slope", "intercept", "n_inliers", "n_obs"]

    def fit_partition(batches):
        # one Arrow transfer per partition; bounded by cap * convs-per-
        # partition.  Concat first: a conversation's rows may split across
        # input Arrow batches within the partition.
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        rows = [
            _fit_rows(conv, g) for conv, g in pdf.groupby("conv_id", sort=False)
        ]
        yield pd.DataFrame(rows, columns=cols)

    return capped.repartition("conv_id").mapInPandas(fit_partition, RANSAC_SCHEMA)
