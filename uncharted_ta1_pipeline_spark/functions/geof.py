"""Geodesic helpers: the scalar pandas UDF surface and an exact grouped
median/MAD.

- **scalar pandas_udf** (Series -> Series): the geodesic deg-per-km helper —
  the transcript analog of the reference's geopy destination-point scale
  math (/root/reference/tasks/geo_referencing/scale_analyzer.py:147-167 and
  geo_fencing.py:236-252: km offsets converted to degree offsets at the
  map's latitude).  Arrow-batched, no per-row Python.  This is also the
  engine's shape for the query-point datum shift
  (georeference.py:164-174: a deterministic scalar CRS transform applied
  after the join — same vectorized-transform-on-joined-rows surface).

- **grouped median / MAD**: exact per-group median / MAD over the
  centi-quantized signal (≈ the MAD residual statistic of OutlierFilter,
  outlier_filter.py:246-261, as a reusable aggregate).  It is the
  built-in frequency-weighted ``percentile`` chain ``mad_outliers`` uses
  (``operators.outliers._median_mad2``), so no Python runs in its plan.

Determinism discipline: the latitude→km table is CONSTANT-FOLDED in Python
(rounded to 6 decimals) and shared verbatim with the DuckDB oracle as a SQL
literal array, so both engines read the exact same doubles; the grouped
aggregates take integer input, so no accumulation-order sensitivity exists.

The UDF objects are constructed LAZILY (inside the operator functions):
``pandas_udf`` resolves its return type against the active SparkSession, so
module import must stay session-free (the oracle generator imports this
module for the shared table constant before any session exists).
"""

from __future__ import annotations

import math

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf

EARTH_KM_PER_DEG = 111.32  # equatorial km per degree, the reference's scale

# km per degree of LONGITUDE at integer latitude 0..89, rounded to 6 so the
# literal embedded in the oracle SQL parses to the identical double
KM_PER_DEG_LON = [
    round(EARTH_KM_PER_DEG * math.cos(math.radians(d)), 6) for d in range(90)
]


def _scalar_udfs():
    """Construct the scalar pandas UDF (needs an active session)."""

    @pandas_udf("double")
    def km_per_deg_lon_udf(lat_q: pd.Series) -> pd.Series:
        import numpy as np

        table = np.asarray(KM_PER_DEG_LON)
        idx = np.clip(lat_q.to_numpy(dtype="int64"), 0, 89)
        return pd.Series(table[idx])

    return km_per_deg_lon_udf


def geodesic_scale(df: DataFrame) -> DataFrame:
    """Per-turn geodesic scale features via the scalar pandas UDF: treat the
    turn's signal as a latitude, clamp to [0, 89], and emit the km-per-deg
    of longitude there plus the degree span of a 10 km east offset — the
    deg-per-km conversion of scale_analyzer.py:147-167.  ``hemi_sign`` adds
    the hemisphere sign logic (≈ calc_lonlat_slope_signs / sign,
    util.py:37-41,99-120): signum of the signal's offset from the fixture
    midline, as the N/S-hemisphere classifier."""
    km_per_deg_lon_udf = _scalar_udfs()
    lat_q = F.least(
        F.greatest(F.floor(F.col("signal")).cast("long"), F.lit(0)), F.lit(89)
    )
    hemi = F.signum(F.col("signal") - F.lit(50.0)).cast("int")
    out = df.select(
        "conv_id",
        "turn_idx",
        lat_q.alias("lat_q"),
        hemi.alias("hemi_sign"),
    ).withColumn("km_per_deg", km_per_deg_lon_udf(F.col("lat_q")))
    return out.select(
        "conv_id",
        "turn_idx",
        "lat_q",
        "hemi_sign",
        F.when(F.col("hemi_sign") >= 0, F.lit("N")).otherwise(F.lit("S")).alias(
            "hemisphere"
        ),
        "km_per_deg",
        F.round(F.lit(10.0) / F.col("km_per_deg"), 6).alias("deg_for_10km"),
    )


def datum_shift(df: DataFrame) -> DataFrame:
    """Query-point datum shift (georeference.py:164-174: a deterministic
    scalar CRS transform applied to query points AFTER the join with their
    matched map points): each tool turn joins its nearest user turn
    (operators/joins.nearest_join) and the tool's signal is shifted by a
    correction looked up — via the scalar pandas UDF — from the
    constant-folded table at the anchor's latitude.  Tool turns with no
    user anchor pass through unshifted (the reference keeps unshiftable
    points on the source datum).

    The anchor's signal rides inside the nearest-neighbour window struct
    (``joins._nearest_user_turn`` with ``signal`` carried) instead of
    re-joining the transcript twice on (conv, idx): the source subtree is
    evaluated once and no join is planned.  The scalar pandas UDF surface
    is unchanged."""
    from uncharted_ta1_pipeline_spark.operators.joins import _nearest_user_turn

    km_udf = _scalar_udfs()
    j = _nearest_user_turn(df, carry=("signal",))
    lat_q = F.least(
        F.greatest(F.floor(F.col("user_signal")).cast("long"), F.lit(0)), F.lit(89)
    )
    km = km_udf(F.coalesce(lat_q, F.lit(0)))
    shifted = F.round(
        F.when(F.col("user_signal").isNull(), F.col("signal")).otherwise(
            F.col("signal") + km / F.lit(111.32) - F.lit(1.0)
        ),
        6,
    )
    return j.select(
        "conv_id", "tool_idx", "nearest_user_idx", shifted.alias("shifted_signal")
    )


def grouped_median_mad(df: DataFrame) -> DataFrame:
    """Per-conversation exact median/MAD of the centi-quantized signal.

    The median and MAD come from a pre-reduced (value, count) histogram,
    so a group's aggregate state is bounded by the signal's value range,
    not conversation length (see ``outliers._median_mad2``)."""
    from uncharted_ta1_pipeline_spark.operators.outliers import _median_mad2

    yc = F.floor(F.col("signal") * 100 + F.lit(0.5)).cast("long")
    g = _median_mad2(df.select("conv_id", yc.alias("_yc")), "_yc")
    return g.select(
        "conv_id",
        F.col("_n").alias("n"),
        F.round(F.col("_med2") / 200.0, 6).alias("median_signal"),
        F.round(F.col("_mad2") / 200.0, 6).alias("mad_signal"),
    )
