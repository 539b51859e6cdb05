"""Leakage-free per-conversation window features.

The reference computes per-document ordered-set analytics (adjacent-block
pairing /root/reference/tasks/geo_referencing/coordinates_extractor.py:509-539,
greedy monotone grouping :621-688, overlap dedup
/root/reference/tasks/point_extraction/tiling.py:277-413).  Here they become
``pyspark.sql.Window`` specs partitioned by ``conv_id`` and ordered by
``(ts, turn_idx)`` — the stable turn-ordering invariant.

ZERO-LEAKAGE CONTRACT: every cumulative/rolling frame ends at ``-1``
(strictly past).  A frame ending at 0 would let a feature see its own turn;
``rangeBetween`` is never used with an upper bound of 0 on ts.  The poison
test (tests/test_leakage.py) asserts this property as data.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.window import WindowSpec

PAST = Window.unboundedPreceding


def turn_order(partition_cols=("conv_id",)) -> WindowSpec:
    """Canonical per-conversation ordering: ts, tie-broken by turn_idx."""
    return Window.partitionBy(*partition_cols).orderBy("ts", "turn_idx")


def _tool_used() -> F.Column:
    return (F.col("tool").isNotNull() & (F.col("tool") != "")).cast("long")


def with_lag_lead(df: DataFrame) -> DataFrame:
    """prev/next role + tool, role transition, seconds since previous turn.

    Analog of the reference's deg+min/sec adjacent-block pairing via the
    *next* OCR block (coordinates_extractor.py:509-539) — pure lag/lead.
    """
    w = turn_order()
    us = F.unix_micros(F.col("ts"))
    return (
        df.withColumn("prev_role", F.lag("role").over(w))
        .withColumn("next_role", F.lead("role").over(w))
        .withColumn("prev_tool", F.lag("tool").over(w))
        .withColumn(
            "role_transition",
            F.concat(
                F.coalesce(F.col("prev_role"), F.lit("START")),
                F.lit("->"),
                F.col("role"),
            ),
        )
        .withColumn(
            "secs_since_prev",
            F.round((us - F.lag(us).over(w)) / F.lit(1000000.0), 6),
        )
    )


def with_cumulative(df: DataFrame) -> DataFrame:
    """Strictly-past cumulative counts: turns, tool uses, distinct tools.

    Distinct-over-past uses the first-occurrence trick (flag the first use
    of each tool per conv, then cumulative-sum the flags) so it stays a pure
    window computation — no collect_set blowup on hot conversations.
    """
    w = turn_order()
    past = w.rowsBetween(PAST, -1)
    first_use = (
        (F.row_number().over(Window.partitionBy("conv_id", "tool").orderBy("ts", "turn_idx")) == 1)
        & F.col("tool").isNotNull()
        & (F.col("tool") != "")
    ).cast("long")
    return (
        df.withColumn("turns_so_far", F.coalesce(F.count(F.lit(1)).over(past), F.lit(0)))
        .withColumn("tools_so_far", F.coalesce(F.sum(_tool_used()).over(past), F.lit(0)))
        .withColumn("_first_tool_use", first_use)
        .withColumn(
            "distinct_tools_so_far",
            F.coalesce(F.sum("_first_tool_use").over(past), F.lit(0)),
        )
        .drop("_first_tool_use")
    )


def with_rolling(df: DataFrame, width: int = 5) -> DataFrame:
    """Rolling counts/means over the last ``width`` strictly-past turns.

    north_rule: rolling turn-count / tool-usage features with frames
    ``rowsBetween(-k, -1)`` — never touching row 0.
    """
    w = turn_order().rowsBetween(-width, -1)
    return (
        df.withColumn(f"rolling_turns_{width}", F.coalesce(F.count(F.lit(1)).over(w), F.lit(0)))
        .withColumn(f"rolling_tools_{width}", F.coalesce(F.sum(_tool_used()).over(w), F.lit(0)))
        .withColumn(f"rolling_signal_mean_{width}", F.round(F.avg("signal").over(w), 6))
    )


def with_ffill_tool(df: DataFrame) -> DataFrame:
    """Backfill: last non-empty tool strictly before the current turn.

    The forward-fill primitive — derived strictly from past observations,
    mirroring the reference's derived-keypoint inference
    (/root/reference/tasks/geo_referencing/inference.py:21-185).
    """
    w = turn_order().rowsBetween(PAST, -1)
    non_empty = F.when(F.col("tool").isNotNull() & (F.col("tool") != ""), F.col("tool"))
    return df.withColumn("ffill_tool", F.last(non_empty, ignorenulls=True).over(w))


def featurize(df: DataFrame, rolling_width: int = 5, gap_s: int = 1800) -> DataFrame:
    """The full per-turn feature stage: lag/lead + cumulative + rolling +
    ffill + sessionization (a new session after a gap > ``gap_s``), in one
    pass (all windows share the same partitioning, so Spark plans a single
    sort+shuffle on conv_id)."""
    from uncharted_ta1_pipeline_spark.operators.sessionize import with_sessions

    out = with_lag_lead(df)
    out = with_cumulative(out)
    out = with_rolling(out, rolling_width)
    out = with_ffill_tool(out)
    out = with_sessions(out, gap_s)
    return out


def with_rolling_multi(df: DataFrame, widths=(5, 25, 125)) -> DataFrame:
    """Multi-horizon rolling features: the ``with_rolling`` trio at several
    strictly-past frame widths in ONE pass.  Every frame shares the same
    (conv_id) partitioning and (ts, turn_idx) ordering, so Spark plans a
    single sort+exchange and evaluates all horizons over one sorted run —
    adding a horizon costs frame arithmetic, not another shuffle.  The
    geometric width ladder (5, 25, 125) is the standard multi-resolution
    recency profile a ranking/feature model consumes (short-burst vs
    session-scale vs conversation-scale activity).

    Zero-leakage contract unchanged: every frame ends at -1.  Analog of the
    reference's multi-scale tile pyramid over one image scan,
    /root/reference/tasks/point_extraction/tiling.py:46-120.

    Determinism: the signal mean runs over µ-quantized values
    (``floor(signal * 1e6)`` as int64) — a 125-element double sum is long
    enough for Spark's and DuckDB's summation orders to land an ulp apart
    (measured: 23 cells at sf0.01), while the int64 sum is exact and
    order-free in both engines; one division + round(6) at the end.  Same
    lever as IVF_QUANT / the integer-µs gap percentiles.
    """
    out = df
    qsig = F.floor(F.col("signal") * F.lit(1000000.0)).cast("long")
    for width in widths:
        w = turn_order().rowsBetween(-width, -1)
        out = (
            out.withColumn(
                f"rolling_turns_{width}",
                F.coalesce(F.count(F.lit(1)).over(w), F.lit(0)),
            )
            .withColumn(
                f"rolling_tools_{width}",
                F.coalesce(F.sum(_tool_used()).over(w), F.lit(0)),
            )
            .withColumn(
                f"rolling_signal_mean_{width}",
                F.round(
                    F.sum(qsig).over(w).cast("double")
                    / (F.lit(1000000.0) * F.count(F.lit(1)).over(w)),
                    6,
                ),
            )
        )
    return out
