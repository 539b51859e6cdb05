"""Feature-store composition operators: multi-view point-in-time training
sets and leakage-free target encoding.

The north-star frames the engine as a "multi-stage as-of/windowed feature
factory"; this module adds the two compositions a training pipeline runs on
top of the as-of primitive (operators/asof.py):

1. ``training_set`` — the canonical feature-store operation (Feast/Tecton
   call it the point-in-time / row-level join): given a labels table
   (entity, label_ts, ...) and several feature VIEWS (each an event table
   keyed on the same entity with its own timestamp), attach to every label
   row each view's latest feature values as of label_ts, plus a leakage
   audit column proving no joined value postdates its label.
   Reference analog: the blackboard accumulating each task's outputs keyed
   by doc (/root/reference/tasks/common/pipeline.py:156-199) — here the
   accumulation is across feature views at an exact point in time.

2. ``target_encode_bucketed`` — leakage-free categorical target encoding:
   each row's category is encoded with the mean target of STRICTLY EARLIER
   time buckets (plus an m-estimate smoothed variant against the global
   prior).  Encoding from the running past is the classic leakage trap;
   bucket-lagged statistics make the no-peek guarantee structural rather
   than per-row, and make the plan scale-safe: per-category cumulative
   windows run over the BUCKET stream (rows = #buckets, bounded by the
   corpus time range / bucket_s — e.g. ~9k rows for a decade of hourly
   buckets), never over the raw turns.

Determinism: all statistics are sums/counts finished by one division and
round(6) — no transcendentals (see functions/docf.py for the rationale).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from uncharted_ta1_pipeline_spark.operators.asof import _asof


def training_set(
    labels: DataFrame,
    feature_views: list[tuple[str, DataFrame, str, list[str]]],
    key: str = "conv_id",
    label_ts: str = "label_ts",
    strategy: str = "plain",
    bucket_s: int = 86_400,
) -> DataFrame:
    """Point-in-time training set: every feature view as-of joined onto the
    labels table in ONE pass of the as-of kernel (operators/asof.py).

    ``feature_views``: list of (name, view_df, view_ts_col, feature_cols).
    Each view contributes its feature_cols plus an automatic
    ``{name}_ts_us`` (the matched event time, for the audit).  Feature
    column names must be distinct across views — the same contract every
    feature store imposes on a joined feature vector.  Every view carries
    ``turn_idx``, which breaks ties at equal event time.

    ``strategy='bucketed'`` runs the kernel's hot-key-safe time-bucketed
    path (explicit salting; see asof_join_bucketed).

    Scale: the labels and every view enter one tagged union, shuffled once
    on the entity key and carried by one window pass; each view's state is
    its own packed column.  The plan holds the same number of stream
    references whatever the number of views, never a per-label loop.  The
    audit (``max_feature_ts_us``, ``leak_ok``) is a pure projection.
    """
    seen: set[str] = set(labels.columns)
    for name, _, _, cols in feature_views:
        clash = (set(cols) | {f"{name}_ts_us"}) & seen
        if clash:
            raise ValueError(f"feature view {name!r}: column clash {sorted(clash)}")
        seen |= set(cols) | {f"{name}_ts_us"}
    if strategy not in ("plain", "bucketed"):
        raise ValueError(f"strategy must be plain|bucketed: {strategy}")

    ts_cols = [f"{name}_ts_us" for name, _, _, _ in feature_views]
    views = [
        (
            view.withColumn(ts_col, F.unix_micros(F.col(view_ts))),
            view_ts,
            [*cols, ts_col],
        )
        for (_, view, view_ts, cols), ts_col in zip(feature_views, ts_cols)
    ]
    out = _asof(
        labels,
        views,
        key,
        label_ts,
        "turn_idx",
        bucket_s if strategy == "bucketed" else None,
    )
    mx = F.greatest(*ts_cols) if len(ts_cols) > 1 else F.col(ts_cols[0])
    return out.withColumn("max_feature_ts_us", mx).withColumn(
        "leak_ok",
        F.coalesce(
            F.col("max_feature_ts_us") <= F.unix_micros(F.col(label_ts)),
            F.lit(True),  # no matched feature at all — vacuously safe
        ),
    )


def target_encode_bucketed(
    df: DataFrame,
    category_col: str = "role",
    target_col: str = "signal",
    ts_col: str = "ts",
    bucket_s: int = 3600,
    smoothing: float = 10.0,
) -> DataFrame:
    """Leakage-free target encoding from strictly-earlier time buckets.

    Per row: te_count = number of target observations for this row's
    category in buckets before the row's bucket; te_mean = their mean
    (NULL with no history); te_smooth = m-estimate
    (prior_sum + m·global_prior_mean) / (prior_count + m), where the
    global prior mean is itself computed only from strictly earlier
    buckets (NULL in the corpus's first bucket).

    Plan: one map-side-combinable groupBy to (category, bucket) sums; the
    per-category and global cumulative windows then run over that bucket
    stream — |categories|·|buckets| rows, bounded by the corpus time range
    regardless of row count — and the encoded stats broadcast-or-shuffle
    join back to rows on (category, bucket).  The raw turn stream is never
    windowed.
    """
    cat, tgt = F.col(category_col), F.col(target_col)
    bucket = F.floor(F.unix_micros(F.col(ts_col)) / F.lit(bucket_s * 1_000_000))
    rows = df.withColumn("_bucket", bucket)
    # Quantize the target to 1e-6 units and sum as integers: double sums
    # accumulate in engine-specific order, and a cumulative double sum can
    # land on the opposite side of a round(6) boundary in Spark vs DuckDB
    # (observed: 58.998438 vs 58.998437).  Integer sufficient statistics
    # are exact in any order — the same fix as color_level / the as-of
    # regression states.
    tgt_q = F.floor(tgt * 1_000_000 + F.lit(0.5)).cast("long")
    per = rows.groupBy(category_col, "_bucket").agg(
        F.sum(tgt_q).alias("_s"), F.count(tgt).alias("_c")
    )
    w_cat = (
        Window.partitionBy(category_col)
        .orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    per = per.withColumn("_ps", F.sum("_s").over(w_cat)).withColumn(
        "_pc", F.sum("_c").over(w_cat)
    )
    glob = per.groupBy("_bucket").agg(
        F.sum("_s").alias("_gs"), F.sum("_c").alias("_gc")
    )
    # global window over the bucket stream only: rows = #buckets (bounded)
    w_all = Window.orderBy("_bucket").rowsBetween(Window.unboundedPreceding, -1)
    glob = glob.withColumn("_gps", F.sum("_gs").over(w_all)).withColumn(
        "_gpc", F.sum("_gc").over(w_all)
    )
    enc = per.join(glob.select("_bucket", "_gps", "_gpc"), on="_bucket")
    m = F.lit(float(smoothing))
    us = F.lit(1_000_000.0)
    g_mean = F.col("_gps") / (F.col("_gpc") * us)
    enc = enc.select(
        category_col,
        "_bucket",
        F.coalesce(F.col("_pc"), F.lit(0)).cast("long").alias("te_count"),
        F.round(F.col("_ps") / (F.col("_pc") * us), 6).alias("te_mean"),
        F.round(
            (F.coalesce(F.col("_ps"), F.lit(0)) / us + m * g_mean)
            / (F.coalesce(F.col("_pc"), F.lit(0)) + m),
            6,
        ).alias("te_smooth"),
    )
    return (
        rows.join(enc, on=[category_col, "_bucket"], how="left")
        .select(
            "conv_id",
            "turn_idx",
            cat.alias("category"),
            F.col("_bucket").cast("long").alias("bucket"),
            F.coalesce("te_count", F.lit(0)).alias("te_count"),
            "te_mean",
            "te_smooth",
        )
    )
