"""Join operators (SURVEY.md §2.3): coalesce ladder, theta corner join,
nearest-neighbour join — all group-local, shuffle-once, no cross joins."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from uncharted_ta1_pipeline_spark.operators.windows import turn_order


def coalesce_ladder(df: DataFrame, default_bound: float = 100.0) -> DataFrame:
    """Prioritized fence ladder (≈ GeoFencer: state-bounds else
    county-narrowed else country else default,
    /root/reference/tasks/geo_referencing/geo_fencing.py:88-136):

      fence = conv-level bound (needs >=50 turns)
        else role-level bound  (max signal over 'user' turns, needs >=10)
        else global default."""
    conv_lvl = df.groupBy("conv_id").agg(
        F.when(F.count(F.lit(1)) >= 50, F.round(F.max("signal"), 6)).alias("_conv_b")
    )
    role_lvl = (
        df.filter(F.col("role") == "user")
        .groupBy("conv_id")
        .agg(
            F.when(F.count(F.lit(1)) >= 10, F.round(F.max("signal"), 6)).alias(
                "_role_b"
            )
        )
    )
    return (
        conv_lvl.join(role_lvl, on="conv_id", how="left")
        .select(
            "conv_id",
            F.round(
                F.coalesce(F.col("_conv_b"), F.col("_role_b"), F.lit(default_bound)), 6
            ).alias("fence"),
            F.when(F.col("_conv_b").isNotNull(), F.lit("conv"))
            .when(F.col("_role_b").isNotNull(), F.lit("role"))
            .otherwise(F.lit("default"))
            .alias("fence_source"),
        )
    )


def corner_join(df: DataFrame, max_gap_s: int = 60) -> DataFrame:
    """Theta join of two per-conversation observation sets with
    each-side-consumed-once semantics (≈ CornerPointExtractor: lon-label ×
    lat-label centerline intersection, each label used at most once,
    /root/reference/tasks/geo_referencing/corner_point_extractor.py:57-152).

    Transcript analog: pair each 'user' turn with a 'tool' turn within
    ``max_gap_s`` seconds; a user turn takes its nearest tool turn, then
    each tool turn keeps only its nearest claiming user turn (two
    row_number passes — deterministic at any parallelism)."""
    us = F.unix_micros(F.col("ts"))
    u = df.filter(F.col("role") == "user").select(
        "conv_id", F.col("turn_idx").alias("u_idx"), us.alias("u_us")
    )
    t = df.filter(F.col("role") == "tool").select(
        "conv_id", F.col("turn_idx").alias("t_idx"), us.alias("t_us")
    )
    cand = u.join(t, on="conv_id", how="inner").filter(
        F.abs(F.col("u_us") - F.col("t_us")) <= max_gap_s * 1_000_000
    )
    dist = F.abs(F.col("u_us") - F.col("t_us"))
    w_u = Window.partitionBy("conv_id", "u_idx").orderBy(dist.asc(), F.col("t_idx").asc())
    w_t = Window.partitionBy("conv_id", "t_idx").orderBy(dist.asc(), F.col("u_idx").asc())
    return (
        cand.withColumn("_r1", F.row_number().over(w_u))
        .filter(F.col("_r1") == 1)
        .withColumn("_r2", F.row_number().over(w_t))
        .filter(F.col("_r2") == 1)
        .select(
            "conv_id",
            "u_idx",
            "t_idx",
            F.round(dist / F.lit(1000000.0), 6).alias("gap_s"),
        )
    )


def corner_join_passthrough(
    df: DataFrame, max_gap_s: int = 60, min_pairs: int = 4
) -> DataFrame:
    """Consumed-once theta join WITH pass-through: when a conversation
    yields fewer than ``min_pairs`` matched pairs, its un-joined user turns
    pass through with NULL partners (≈ corner_point_extractor.py:130-152:
    with <4 matched corners the image proceeds un-cropped — inputs are
    never silently dropped by a failed enrichment).

    Output: all matched pairs (matched=true) plus, for under-matched
    conversations, their unmatched user turns (matched=false, NULL t_idx)."""
    pairs = corner_join(df, max_gap_s)
    u = df.filter(F.col("role") == "user").select(
        "conv_id", F.col("turn_idx").alias("u_idx")
    )
    # ONE left join of the user roster against the matched-user set, with
    # the per-conv pair count as a window over the joined frame (each pair
    # is one matched user row, so the conditional count equals the old
    # groupBy counts incl. the coalesce-0 for pair-less conversations) —
    # the old distinct+counts+anti-join shape evaluated the ``pairs``
    # subtree (theta join + two ranking windows) three times; this is two.
    uj = u.join(
        pairs.select("conv_id", "u_idx").withColumn("_m", F.lit(1)),
        on=["conv_id", "u_idx"],
        how="left",
    ).withColumn(
        "_np",
        F.coalesce(
            F.sum("_m").over(Window.partitionBy("conv_id")), F.lit(0)
        ),
    )
    passthrough = uj.filter(
        F.col("_m").isNull() & (F.col("_np") < min_pairs)
    ).select(
        "conv_id",
        "u_idx",
        F.lit(None).cast("int").alias("t_idx"),
        F.lit(None).cast("double").alias("gap_s"),
        F.lit(False).alias("matched"),
    )
    return pairs.withColumn("matched", F.lit(True)).unionByName(passthrough)


def point_geocoder(df: DataFrame, margin: float = 0.1, k: int = 4) -> DataFrame:
    """The composed PointGeocoder pipeline as ONE query (≈
    /root/reference/tasks/geo_referencing/point_geocoder.py:112-211 +
    268-292), assembling the separately-proven pieces end-to-end:

    1. **geofence prune** (:112-135): candidate tool turns must fall inside
       the conversation's trimmed time range
       ``[first + margin*span, last - margin*span]`` — bounds aggregated
       once per conversation and equi-joined back (co-partitioned join,
       never a cross join);
    2. **duplicate ranking by distance to the weighted centroid**
       (:136-211): the centroid weighs each tool's candidates 1/#candidates
       (two-phase: integer per-(conv, tool) sums, then a mean over the
       bounded tool vocabulary); within (conv, tool) the candidate NEAREST
       the centroid survives (row_number over rounded distance, turn_idx
       tiebreak);
    3. **top-k keeping ties** (:268-292): the survivors rank per
       conversation by quantized signal descending with ``rank()`` —
       ties at the k-th value are kept.
    """
    us = F.unix_micros(F.col("ts"))
    yc = F.floor(F.col("signal") * 100 + F.lit(0.5)).cast("long")

    bounds = df.groupBy("conv_id").agg(
        F.min(us).alias("_lo0"), F.max(us).alias("_hi0")
    )
    span = F.col("_hi0") - F.col("_lo0")
    lo = F.col("_lo0") + F.floor(F.lit(margin) * span).cast("long")
    hi = F.col("_hi0") - F.floor(F.lit(margin) * span).cast("long")

    cand = df.filter(
        (F.col("role") == "tool") & F.col("tool").isNotNull() & (F.col("tool") != "")
    ).select("conv_id", "turn_idx", "tool", us.alias("_us"), yc.alias("_yc"))
    fenced = (
        cand.join(bounds, on="conv_id")
        .filter(F.col("_us").between(lo, hi))
        .drop("_lo0", "_hi0")
    )

    per_tool = fenced.groupBy("conv_id", "tool").agg(
        F.count(F.lit(1)).alias("_n_t"), F.sum("_yc").alias("_sy_t")
    )
    centroid = per_tool.groupBy("conv_id").agg(
        (
            F.sum(F.col("_sy_t").cast("double") / F.col("_n_t")) / F.count(F.lit(1))
        ).alias("_centroid_c")
    )

    scored = fenced.join(centroid, on="conv_id").withColumn(
        "dist",
        F.round(F.abs(F.col("_yc") - F.col("_centroid_c")) / 100.0, 6),
    )
    w_dup = Window.partitionBy("conv_id", "tool").orderBy(
        F.col("dist").asc(), F.col("turn_idx").asc()
    )
    deduped = scored.withColumn("_rn", F.row_number().over(w_dup)).filter(
        F.col("_rn") == 1
    )
    w_top = Window.partitionBy("conv_id").orderBy(F.col("_yc").desc())
    return (
        deduped.withColumn("rk", F.rank().over(w_top))
        .filter(F.col("rk") <= k)
        .select(
            "conv_id",
            "tool",
            "turn_idx",
            F.round(F.col("_yc") / 100.0, 6).alias("signal"),
            "dist",
            "rk",
        )
    )


def _nearest_user_turn(df: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """Tool turns of ``df`` with the nearest user turn in time within the
    conversation: ``conv_id``, ``tool_idx``, ``nearest_user_idx`` and
    ``nearest_gap_s``, then each ``carry`` column twice — the tool turn's
    own value under its name, the user turn's as ``user_<col>``.  Ties go
    to the earlier turn.

    No cross join: one ordered window pass computes the previous and next
    user turn for every row (ffill/bfill of tagged neighbours, the carried
    columns riding in the same struct), then picks the nearer —
    O(n log n), hot-key-safe via the same chunking as salt.py if ever
    needed."""
    us = F.unix_micros(F.col("ts"))
    tagged = F.when(
        F.col("role") == "user",
        F.struct(F.col("turn_idx"), us.alias("us"), *[F.col(c) for c in carry]),
    )
    w = turn_order()
    prev_u = F.last(tagged, ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    next_u = F.first(tagged, ignorenulls=True).over(
        w.rowsBetween(1, Window.unboundedFollowing)
    )
    d_prev = us - F.col("_prev.us")
    d_next = F.col("_next.us") - us

    def pick(field: str):
        return (
            F.when(F.col("_prev").isNull(), F.col(f"_next.{field}"))
            .when(F.col("_next").isNull(), F.col(f"_prev.{field}"))
            .when(d_next < d_prev, F.col(f"_next.{field}"))
            .otherwise(F.col(f"_prev.{field}"))  # tie -> earlier turn
        )

    return (
        df.withColumn("_prev", prev_u)
        .withColumn("_next", next_u)
        .filter(F.col("role") == "tool")
        .select(
            "conv_id",
            F.col("turn_idx").alias("tool_idx"),
            pick("turn_idx").alias("nearest_user_idx"),
            F.round(
                F.when(F.col("_prev").isNull(), d_next)
                .when(F.col("_next").isNull(), d_prev)
                .otherwise(F.least(d_prev, d_next))
                / F.lit(1000000.0),
                6,
            ).alias("nearest_gap_s"),
            *carry,
            *[pick(c).alias(f"user_{c}") for c in carry],
        )
    )


def nearest_join(df: DataFrame) -> DataFrame:
    """For each 'tool' turn, the nearest 'user' turn in time within the
    conversation (≈ nearest-OCR-text dip lookup,
    tasks/point_extraction/point_orientation_extractor.py:262-271 in the
    reference)."""
    return _nearest_user_turn(df)
