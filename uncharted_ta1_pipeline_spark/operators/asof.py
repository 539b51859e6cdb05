"""Point-in-time (as-of) join — the engine's scaling-critical operator.

Semantics: for each probe row ``(key, probe_ts)`` find the latest state row
``(key, ts)`` with ``ts <= probe_ts`` (inclusive; ``strict=True`` gives
``<``).  This is the transcript analog of the reference's predict-at-query-
points step (/root/reference/tasks/geo_referencing/geo_projection.py:52-115:
fit on keypoints, evaluate at probe pixels) and of the nearest-text dip
lookup (/root/reference/tasks/point_extraction/point_orientation_extractor.py:262-271).

Two physical strategies, identical results:

1. ``asof_join`` — union-and-window sort-merge: tag rows, sort by
   ``(key, ts, tag, tiebreak)``, carry the last non-null packed state struct
   forward, keep probe rows.  One shuffle on ``key``; the sort is exactly
   the machinery a sort-merge join would use.  Window partitioning is
   per-key, so a single hot key serializes.

2. ``asof_join_bucketed`` — the explicit-salting path required by the
   north_rule for hot conversations: rows are range-bucketed by time within
   each key, the per-(key, bucket) closing state is computed, carried across
   buckets with a *second* (tiny: one row per bucket) cumulative window, and
   joined back so the final per-(key, bucket) window never sees more than a
   bucket's rows.  Two-level aggregation ≡ salting + unsalt.

Both avoid a naive range cross-join (probes × state) entirely.

Determinism: ties among state rows at equal ts are broken by
``state_tiebreak`` (``turn_idx`` for transcripts — the stable turn-ordering
invariant), so results are identical at any parallelism.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def _prep(
    probes: DataFrame,
    state: DataFrame,
    key: str,
    probe_ts: str,
    state_ts: str,
    state_cols: list[str],
    strict: bool,
    state_tiebreak: str | None,
):
    """Union probes and state into one tagged, totally-ordered stream."""
    # inclusive (<=): state sorts before probes at equal ts  -> state tag 0
    # strict     (<): probes sort before state at equal ts   -> state tag 1
    state_tag, probe_tag = (0, 1) if not strict else (1, 0)
    tb = (
        F.col(state_tiebreak).cast("long")
        if state_tiebreak is not None
        else F.lit(0).cast("long")
    )
    packed = state.select(
        F.col(key).alias("_k"),
        F.col(state_ts).alias("_ts"),
        F.lit(state_tag).alias("_tag"),
        tb.alias("_tb"),
        F.struct(*[F.col(c) for c in state_cols]).alias("_state"),
    )
    probe_cols = list(probes.columns)
    probed = probes.select(
        F.col(key).alias("_k"),
        F.col(probe_ts).alias("_ts"),
        F.lit(probe_tag).alias("_tag"),
        F.lit(0).cast("long").alias("_tb"),
        F.lit(None).cast(packed.schema["_state"].dataType).alias("_state"),
        F.struct(*[F.col(c) for c in probe_cols]).alias("_probe"),
    )
    packed = packed.withColumn(
        "_probe", F.lit(None).cast(probed.schema["_probe"].dataType)
    )
    return packed.unionByName(probed), probe_cols, probe_tag


def _unpack(
    joined: DataFrame, probe_cols: list[str], state_cols: list[str], probe_tag: int
) -> DataFrame:
    return joined.filter(F.col("_tag") == probe_tag).select(
        *[F.col(f"_probe.{c}").alias(c) for c in probe_cols],
        *[F.col(f"_carry.{c}").alias(c) for c in state_cols],
    )


def asof_join(
    probes: DataFrame,
    state: DataFrame,
    key: str = "conv_id",
    probe_ts: str = "probe_ts",
    state_ts: str = "ts",
    state_cols: list[str] | None = None,
    strict: bool = False,
    state_tiebreak: str | None = "turn_idx",
) -> DataFrame:
    """Left as-of join: every probe row survives; state columns are NULL
    when no state row precedes the probe (before-first-turn probes)."""
    if state_cols is None:
        state_cols = [c for c in state.columns if c not in (key, state_ts)]
    unioned, probe_cols, probe_tag = _prep(
        probes, state, key, probe_ts, state_ts, state_cols, strict, state_tiebreak
    )
    w = (
        Window.partitionBy("_k")
        .orderBy("_ts", "_tag", "_tb")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    joined = unioned.withColumn("_carry", F.last("_state", ignorenulls=True).over(w))
    return _unpack(joined, probe_cols, state_cols, probe_tag)


def asof_join_bucketed(
    probes: DataFrame,
    state: DataFrame,
    key: str = "conv_id",
    probe_ts: str = "probe_ts",
    state_ts: str = "ts",
    state_cols: list[str] | None = None,
    strict: bool = False,
    state_tiebreak: str | None = "turn_idx",
    bucket_s: int = 86_400,
) -> DataFrame:
    """Hot-key-safe as-of join via time-range bucketing (explicit salting).

    Salt = floor(ts / bucket_s); windows run per (key, salt) so a
    conversation with 10^8 turns is processed in ~uniform slices.  The
    cross-bucket carry is one row per (key, bucket) — negligible.
    """
    if state_cols is None:
        state_cols = [c for c in state.columns if c not in (key, state_ts)]
    unioned, probe_cols, probe_tag = _prep(
        probes, state, key, probe_ts, state_ts, state_cols, strict, state_tiebreak
    )
    unioned = unioned.withColumn(
        "_bkt", F.floor(F.unix_micros(F.col("_ts")) / F.lit(bucket_s * 1_000_000))
    )

    # level 1: within-bucket carry (window size bounded by bucket span)
    w_in = (
        Window.partitionBy("_k", "_bkt")
        .orderBy("_ts", "_tag", "_tb")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    leveled = unioned.withColumn(
        "_carry_in", F.last("_state", ignorenulls=True).over(w_in)
    )

    # level 2: closing state per (key, bucket), carried into LATER buckets.
    # Every (key, bucket) present in the stream participates — including
    # probe-only buckets, which would otherwise lose the carry.  The close
    # is read off the LEVELED frame (the bucket's last row in (ts, tag,
    # tiebreak) order carries exactly the bucket's last state — NULL for
    # probe-only buckets, matching the old filtered-groupBy + left-join
    # result): both stream references are then the identical window
    # subtree, so the scan + union + shuffle below it is planned as ONE
    # reused exchange instead of two independent evaluations (the r6
    # subtree-multiplicity discipline; the r5 shape evaluated the tagged
    # union three times).
    w_bkts = (
        Window.partitionBy("_k")
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry_prev = (
        leveled.groupBy("_k", "_bkt")
        .agg(
            F.max_by("_carry_in", F.struct("_ts", "_tag", "_tb")).alias("_close")
        )
        .withColumn("_carry_prev", F.last("_close", ignorenulls=True).over(w_bkts))
        .select("_k", "_bkt", "_carry_prev")
    )

    joined = leveled.join(carry_prev, on=["_k", "_bkt"], how="left").withColumn(
        "_carry", F.coalesce("_carry_in", "_carry_prev")
    )
    return _unpack(joined, probe_cols, state_cols, probe_tag)


# ---------------------------------------------------------------------------
# Leakage-constrained fit-predict-at-probe — the reference's central operator
# ---------------------------------------------------------------------------
def regression_state(
    df: DataFrame,
    key: str = "conv_id",
    ts: str = "ts",
    y_col: str = "signal",
    tiebreak: str = "turn_idx",
    stat_type: str = "long",
) -> DataFrame:
    """Per-turn INCLUSIVE running sufficient statistics of y ~ x where
    x = whole seconds since the conversation's first turn and y is the
    signal quantized to centi-units.

    Integer statistics make the cumulative sums EXACT (no floating-point
    accumulation-order sensitivity), so the fit is identical at any
    parallelism and matches the DuckDB oracle bit-for-bit.  For corpora
    where ``n * max|x| * max|yc|`` approaches 2^63 (the 10^12-turn design
    point), pass ``stat_type='decimal38'`` to widen the accumulators to
    decimal(38,0) — same values, overflow-proof type (tested with
    deliberately int64-overflowing synthetic data in
    tests/test_asof_equivalence.py); int64 is ample at test scale
    (sxy ~ 1e17 << 2^63).

    Carrying these five numbers through the as-of join IS fitting a
    regression on observations with ts <= probe_ts: no new shuffle, no
    refit per probe (/root/reference/tasks/geo_referencing/
    geo_projection.py:52-115 fits on keypoints and evaluates at query
    pixels; georeference.py:80-340 orchestrates the probe pass)."""
    if stat_type not in ("long", "decimal38"):
        raise ValueError(f"stat_type must be long|decimal38: {stat_type}")
    acc = "decimal(38,0)" if stat_type == "decimal38" else "long"
    us = F.unix_micros(F.col(ts))
    w_conv = Window.partitionBy(key)
    w = (
        Window.partitionBy(key)
        .orderBy(ts, tiebreak)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    first_us = F.min(us).over(w_conv)
    x = F.floor((us - first_us) / F.lit(1_000_000)).cast("long")
    yc = F.floor(F.col(y_col) * 100 + F.lit(0.5)).cast("long")  # round-half-up
    return (
        df.select(key, ts, tiebreak, y_col)
        .withColumn("_first_us", first_us)
        .withColumn("_x", x)
        .withColumn("_yc", yc)
        .select(
            key,
            ts,
            tiebreak,
            F.col("_first_us").alias("first_us"),
            F.count(F.lit(1)).over(w).alias("n_obs"),
            F.sum(F.col("_x").cast(acc)).over(w).alias("sx"),
            F.sum(F.col("_yc").cast(acc)).over(w).alias("sy"),
            F.sum(F.col("_x").cast(acc) * F.col("_yc").cast(acc))
            .over(w)
            .alias("sxy"),
            F.sum(F.col("_x").cast(acc) * F.col("_x").cast(acc))
            .over(w)
            .alias("sxx"),
        )
    )


def regression_state_bucketed(
    df: DataFrame,
    key: str = "conv_id",
    ts: str = "ts",
    y_col: str = "signal",
    tiebreak: str = "turn_idx",
    chunk_size: int = 16_384,
    stat_type: str = "long",
) -> DataFrame:
    """Chunk-bounded physical strategy for ``regression_state`` — same
    output bit-for-bit (integer sufficient statistics are exact under any
    regrouping), but NO whole-key window anywhere: a 10^8-turn conversation
    is processed in ``chunk_size``-row slices instead of one task.

    The ``salt.py`` offset pattern (salt.py:346-380): within-chunk
    cumulative sums over (key, chunk) + per-chunk totals, chained into
    exclusive cross-chunk offsets by a tiny one-row-per-chunk window.
    Chunks are ``floor(tiebreak / chunk_size)`` — valid because
    ``tiebreak`` (turn_idx) is the dense stable order aligned with
    (ts, tiebreak), the ingest invariant.

    Physical plan (one fewer full-stream pass than the r4 shape):
    ``first_us`` comes from ONE map-side-combined per-key ``min`` over a
    column-pruned scan — legal for every chunk because ts is aligned with
    turn_idx, so the global min IS chunk 0's min IS the running min at any
    chunk (and is definitionally what the plain path's whole-key
    ``min().over(partitionBy(key))`` computes).  That tiny one-row-per-key
    dim is broadcast, and the enriched stream is exchanged ONCE on
    (key, chunk): the per-chunk totals aggregation and the within-chunk
    cumulative window consume the SAME exchange (ReusedExchange — verified in .explain), where the r4
    plan paid a second full-stream shuffle plus a per-chunk running-min
    window.  The offsets dim stays one row per (key, chunk).

    ``stat_type='decimal38'`` widens the sufficient-statistic accumulators
    to decimal(38,0) for corpora where ``n * max|x| * max|yc|`` approaches
    2^63 (the 10^12-turn design point named in regression_state's
    docstring) — same values, wider type; the OLS finish casts to double
    either way.  Reference analog:
    /root/reference/tasks/geo_referencing/geo_projection.py:52-115."""
    if stat_type not in ("long", "decimal38"):
        raise ValueError(f"stat_type must be long|decimal38: {stat_type}")
    acc = "decimal(38,0)" if stat_type == "decimal38" else "long"
    us_expr = F.unix_micros(F.col(ts))
    narrow = (
        df.select(key, ts, tiebreak, y_col)
        .withColumn("_us", us_expr)
        .withColumn("_bchunk", F.floor(F.col(tiebreak) / F.lit(chunk_size)))
    )
    firsts_key = F.broadcast(
        narrow.groupBy(key).agg(F.min("_us").alias("first_us"))
    )
    enriched = (
        narrow.join(firsts_key, on=key)
        .withColumn(
            "_x",
            F.floor((F.col("_us") - F.col("first_us")) / F.lit(1_000_000)).cast(
                "long"
            ),
        )
        .withColumn("_yc", F.floor(F.col(y_col) * 100 + F.lit(0.5)).cast("long"))
    )
    xs, ys = F.col("_x").cast(acc), F.col("_yc").cast(acc)
    totals = enriched.groupBy(key, "_bchunk").agg(
        F.count(F.lit(1)).alias("_tn"),
        F.sum(xs).alias("_tsx"),
        F.sum(ys).alias("_tsy"),
        F.sum(xs * ys).alias("_tsxy"),
        F.sum(xs * xs).alias("_tsxx"),
    )
    prior = (
        Window.partitionBy(key)
        .orderBy("_bchunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    zl = F.lit(0).cast("long")
    za = F.lit(0).cast(acc)
    offsets = totals.select(
        key,
        "_bchunk",
        F.coalesce(F.sum("_tn").over(prior), zl).alias("_off_n"),
        F.coalesce(F.sum("_tsx").over(prior), za).alias("_off_sx"),
        F.coalesce(F.sum("_tsy").over(prior), za).alias("_off_sy"),
        F.coalesce(F.sum("_tsxy").over(prior), za).alias("_off_sxy"),
        F.coalesce(F.sum("_tsxx").over(prior), za).alias("_off_sxx"),
    )

    # main pass: offsets join + within-chunk cumulative window share the
    # (key, chunk) clustering; the enriched subtree is the same exchange
    # the totals aggregation consumed
    w_in = (
        Window.partitionBy(key, "_bchunk")
        .orderBy(ts, tiebreak)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return enriched.join(offsets, on=[key, "_bchunk"]).select(
        key,
        ts,
        tiebreak,
        "first_us",
        (F.count(F.lit(1)).over(w_in) + F.col("_off_n")).alias("n_obs"),
        (F.sum(xs).over(w_in) + F.col("_off_sx")).alias("sx"),
        (F.sum(ys).over(w_in) + F.col("_off_sy")).alias("sy"),
        (F.sum(xs * ys).over(w_in) + F.col("_off_sxy")).alias("sxy"),
        (F.sum(xs * xs).over(w_in) + F.col("_off_sxx")).alias("sxx"),
    )


def fit_predict_at_probes(
    probes: DataFrame,
    observations: DataFrame,
    key: str = "conv_id",
    probe_ts: str = "probe_ts",
    obs_ts: str = "ts",
    y_col: str = "signal",
    tiebreak: str = "turn_idx",
    strategy: str = "plain",
    chunk_size: int = 16_384,
    bucket_s: int = 86_400,
) -> DataFrame:
    """For each probe, fit y ~ seconds-since-first-turn on observations with
    ``ts <= probe_ts`` ONLY and evaluate the fit at the probe timestamp.

    OLS slope/intercept are recovered from the carried integer sufficient
    statistics in double precision; degenerate fits (fewer than 2
    observations, or zero x-variance) fall back to the running mean, and
    probes before the first observation predict NULL — mirroring the
    reference's guard that a projection needs >= 2 keypoints
    (geo_projection.py:52-115).  Zero temporal leakage by construction:
    the state the probe sees ends strictly at the last turn with
    ts <= probe_ts (the poison test perturbs future turns and asserts
    predictions are unchanged).

    ``strategy``: ``"plain"`` uses whole-key windows + the plain as-of
    join; ``"bucketed"`` (the 100x-scale path) chains chunk-bounded
    sufficient statistics (``regression_state_bucketed``) into the
    time-bucketed as-of join — no whole-key window anywhere in the plan.
    Identical output (equivalence asserted in tests/test_asof_equivalence.py)."""
    if strategy == "plain":
        state = regression_state(observations, key, obs_ts, y_col, tiebreak)
    elif strategy == "bucketed":
        state = regression_state_bucketed(
            observations, key, obs_ts, y_col, tiebreak, chunk_size=chunk_size
        )
    else:
        raise ValueError(f"strategy must be plain|bucketed: {strategy}")
    join_fn = asof_join if strategy == "plain" else (
        lambda *a, **kw: asof_join_bucketed(*a, bucket_s=bucket_s, **kw)
    )
    joined = join_fn(
        probes,
        state,
        key=key,
        probe_ts=probe_ts,
        state_ts=obs_ts,
        state_cols=["first_us", "n_obs", "sx", "sy", "sxy", "sxx", tiebreak],
        strict=False,
        state_tiebreak=tiebreak,
    )
    # double-precision finish: identical expression tree in the oracle
    n = F.col("n_obs").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    xp = F.floor((F.unix_micros(F.col(probe_ts)) - F.col("first_us")) / F.lit(1_000_000)).cast(
        "double"
    )
    denom = n * sxx - sx * sx
    slope_c = (n * sxy - sx * sy) / denom
    intercept_c = (sy - slope_c * sx) / n
    can_fit = (F.col("n_obs") >= 2) & (denom > 0)
    pred_c = F.when(can_fit, intercept_c + slope_c * xp).otherwise(sy / n)
    # "+ 0.0" sign-normalizes IEEE -0.0 → +0.0, mirroring the oracle's
    # "round(...) + 0": any signed result that can round to zero must be
    # sign-normalized in BOTH engines or the driver's value hash diverges.
    zero = F.lit(0.0)
    return joined.select(
        "probe_id",
        key,
        F.unix_micros(F.col(probe_ts)).alias("probe_ts_us"),
        F.col("n_obs"),
        (F.round(F.when(can_fit, slope_c / 100), 6) + zero).alias("slope"),
        (
            F.round(F.when(can_fit, intercept_c / 100).otherwise(sy / n / 100), 6) + zero
        ).alias("intercept"),
        (F.round(pred_c / 100, 6) + zero).alias("pred"),
    )
