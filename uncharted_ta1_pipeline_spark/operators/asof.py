"""Point-in-time (as-of) join — the engine's scaling-critical operator.

Semantics: for each probe row ``(key, probe_ts)`` find, per state view, the
latest state row ``(key, ts)`` with ``ts <= probe_ts``.  This is the
transcript analog of the reference's predict-at-query-points step
(tasks/geo_referencing/geo_projection.py:52-115: fit on keypoints, evaluate
at probe pixels) and of its nearest-text dip lookup
(tasks/point_extraction/point_orientation_extractor.py:262-271).

One kernel, ``_asof``, does every as-of join in the engine: ``asof_join``
and ``asof_join_bucketed`` are its one-view calls, ``fit_predict_at_probes``
carries regression state through it, and ``feature_store.training_set``
joins N feature views in one call.  The kernel unions the probes and every
view into one stream and sorts it by ``(key, ts, tag, tiebreak)``:

- view *i* gets tag *i* and probes get tag ``len(views)``, so at equal ts
  every state row sorts before the probe (the ``<=`` rule), and with the
  view's tiebreak (``turn_idx`` for transcripts — the stable turn order)
  ``(ts, tag, tiebreak)`` is a total order across views;
- each view's state is packed into its own struct column and carried
  forward by ``last(ignorenulls)``; probe rows keep their carries.

Two physical strategies, identical results:

1. ``bucket_s=None`` — one window per key: one shuffle on ``key``, the sort
   a sort-merge join would do.  A single hot key serializes.
2. ``bucket_s=int`` — the explicit-salting path for hot conversations:
   rows are range-bucketed by time within each key, carried within each
   (key, bucket), and each bucket's closing state is carried into later
   buckets by a second, one-row-per-bucket window.  The close is the
   carry of the bucket's last row in the total order above, so it is one
   row, never a stale one.  Two-level aggregation ≡ salting + unsalt.

Neither builds a range cross-join (probes × state).
"""

from __future__ import annotations

from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def _asof(
    probes: DataFrame,
    views: list[tuple[DataFrame, str, list[str] | None]],
    key: str,
    probe_ts: str,
    tiebreak: str,
    bucket_s: int | None = None,
) -> DataFrame:
    """Left as-of join of N state views onto ``probes``.

    ``views``: list of ``(state_df, state_ts, state_cols)``; ``state_cols``
    None means every column but the key and ts.  Returns every probe row
    with its columns followed by each view's state columns, NULL when no
    state row of that view precedes the probe."""
    views = [
        (df, ts, [c for c in df.columns if c not in (key, ts)])
        if cols is None
        else (df, ts, cols)
        for df, ts, cols in views
    ]
    probe_tag = len(views)
    probe_cols = list(probes.columns)
    states = [F.struct(*[F.col(c) for c in cols]) for _, _, cols in views]
    types = [df.select(s).schema[0].dataType for (df, _, _), s in zip(views, states)]
    probe = F.struct(*[F.col(c) for c in probe_cols])
    probe_t = probes.select(probe).schema[0].dataType

    def tagged(df, ts, tag):
        is_probe = tag == probe_tag
        return df.select(
            F.col(key).alias("_k"),
            F.col(ts).alias("_ts"),
            F.lit(tag).alias("_tag"),
            (F.lit(0) if is_probe else F.col(tiebreak)).cast("long").alias("_tb"),
            *[
                (s if i == tag else F.lit(None).cast(t)).alias(f"_s{i}")
                for i, (s, t) in enumerate(zip(states, types))
            ],
            (probe if is_probe else F.lit(None).cast(probe_t)).alias("_probe"),
        )

    unioned = reduce(
        DataFrame.unionByName,
        [tagged(df, ts, i) for i, (df, ts, _) in enumerate(views)]
        + [tagged(probes, probe_ts, probe_tag)],
    )
    idx = range(len(views))
    order = ("_ts", "_tag", "_tb")
    if bucket_s is None:
        w = (
            Window.partitionBy("_k")
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        joined = unioned.select(
            "*",
            *[F.last(f"_s{i}", ignorenulls=True).over(w).alias(f"_c{i}") for i in idx],
        )
    else:
        unioned = unioned.withColumn(
            "_bkt",
            F.floor(F.unix_micros(F.col("_ts")) / F.lit(bucket_s * 1_000_000)),
        )
        # level 1: within-bucket carry (window size bounded by bucket span)
        w_in = (
            Window.partitionBy("_k", "_bkt")
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        leveled = unioned.select(
            "*",
            *[
                F.last(f"_s{i}", ignorenulls=True).over(w_in).alias(f"_in{i}")
                for i in idx
            ],
        )
        # level 2: closing state per (key, bucket), carried into LATER
        # buckets.  Every (key, bucket) in the stream takes part, probe-only
        # buckets too (their close is NULL).  Reading the close off the
        # leveled frame makes both stream references the same window
        # subtree, so the scan + union + shuffle below it is planned as ONE
        # reused exchange instead of two evaluations.
        w_bkts = (
            Window.partitionBy("_k")
            .orderBy("_bkt")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        carry_prev = leveled.groupBy("_k", "_bkt").agg(
            *[F.max_by(f"_in{i}", F.struct(*order)).alias(f"_close{i}") for i in idx]
        ).select(
            "_k",
            "_bkt",
            *[
                F.last(f"_close{i}", ignorenulls=True)
                .over(w_bkts)
                .alias(f"_prev{i}")
                for i in idx
            ],
        )
        joined = leveled.join(carry_prev, on=["_k", "_bkt"], how="left").select(
            "*", *[F.coalesce(f"_in{i}", f"_prev{i}").alias(f"_c{i}") for i in idx]
        )
    return joined.filter(F.col("_tag") == probe_tag).select(
        *[F.col(f"_probe.{c}").alias(c) for c in probe_cols],
        *[
            F.col(f"_c{i}.{c}").alias(c)
            for i, (_, _, cols) in enumerate(views)
            for c in cols
        ],
    )


def asof_join(
    probes: DataFrame,
    state: DataFrame,
    key: str = "conv_id",
    probe_ts: str = "probe_ts",
    state_ts: str = "ts",
    state_cols: list[str] | None = None,
    state_tiebreak: str = "turn_idx",
) -> DataFrame:
    """Left as-of join: every probe row survives; state columns are NULL
    when no state row precedes the probe (before-first-turn probes)."""
    return _asof(
        probes, [(state, state_ts, state_cols)], key, probe_ts, state_tiebreak
    )


def asof_join_bucketed(
    probes: DataFrame,
    state: DataFrame,
    key: str = "conv_id",
    probe_ts: str = "probe_ts",
    state_ts: str = "ts",
    state_cols: list[str] | None = None,
    state_tiebreak: str = "turn_idx",
    bucket_s: int = 86_400,
) -> DataFrame:
    """Hot-key-safe as-of join via time-range bucketing (explicit salting).

    Salt = floor(ts / bucket_s); windows run per (key, salt) so a
    conversation with 10^8 turns is processed in ~uniform slices.  The
    cross-bucket carry is one row per (key, bucket) — negligible.
    """
    return _asof(
        probes, [(state, state_ts, state_cols)], key, probe_ts, state_tiebreak, bucket_s
    )


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

    The ``salt.py`` offset pattern (``salt._featurize_salted``'s chunk
    summaries, ``offsets`` and ``shifted``): within-chunk cumulative sums
    over (key, chunk) + per-chunk totals, chained into exclusive
    cross-chunk offsets by a tiny one-row-per-chunk window.
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
    cols = ["first_us", "n_obs", "sx", "sy", "sxy", "sxx", tiebreak]
    joined = _asof(
        probes,
        [(state, obs_ts, cols)],
        key,
        probe_ts,
        tiebreak,
        bucket_s if strategy == "bucketed" else None,
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
