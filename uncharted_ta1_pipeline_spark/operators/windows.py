"""Leakage-free per-conversation window features.

The reference computes per-document ordered-set analytics (adjacent-block
pairing /root/reference/tasks/geo_referencing/coordinates_extractor.py:509-539,
greedy monotone grouping :621-688, overlap dedup
/root/reference/tasks/point_extraction/tiling.py:277-413).  Here they become
``pyspark.sql.Window`` specs partitioned by ``conv_id`` and ordered by
``(ts, turn_idx)`` — the stable turn-ordering invariant.

Each feature's window columns are defined once, by a builder that returns
named Columns over the partition it is given (``conv_id`` by default).
The ``with_*`` functions select one builder's columns; ``featurize``
selects them all at once, so Spark evaluates every frame that shares the
(conv_id) ORDER BY (ts, turn_idx) spec in one Window operator over one
sorted run.  The salted path (``operators/salt.py``) runs the same
builders over (conv_id, chunk) and shifts the prefix features by
per-chunk offsets, so each feature has one definition whichever path
computes it.

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
CONV = ("conv_id",)


def turn_order(partition_cols=CONV) -> WindowSpec:
    """Canonical per-conversation ordering: ts, tie-broken by turn_idx."""
    return Window.partitionBy(*partition_cols).orderBy("ts", "turn_idx")


def _tool_used() -> F.Column:
    return (F.col("tool").isNotNull() & (F.col("tool") != "")).cast("long")


def _lag_lead_cols(partition_cols=CONV) -> list[F.Column]:
    """The lag/lead window columns.  Each lag is evaluated once:
    ``role_transition`` and ``secs_since_prev`` are derived from
    ``prev_role`` and ``_prev_us`` in the projection above the window
    (``_lag_lead_finish``), and featurize's session flag reads
    ``_prev_us`` too."""
    w = turn_order(partition_cols)
    return [
        F.lag("role").over(w).alias("prev_role"),
        F.lead("role").over(w).alias("next_role"),
        F.lag("tool").over(w).alias("prev_tool"),
        F.unix_micros(F.lag("ts").over(w)).alias("_prev_us"),
    ]


def _lag_lead_finish(df: DataFrame) -> DataFrame:
    """Replace ``_prev_us`` by ``role_transition`` and ``secs_since_prev``,
    in place, so the columns keep ``with_lag_lead``'s order."""
    us = F.unix_micros(F.col("ts"))
    derived = [
        F.concat(F.coalesce(F.col("prev_role"), F.lit("START")), F.lit("->"), F.col("role")).alias(
            "role_transition"
        ),
        F.round((us - F.col("_prev_us")) / F.lit(1000000.0), 6).alias("secs_since_prev"),
    ]
    return df.select(*[c for n in df.columns for c in (derived if n == "_prev_us" else [n])])


def _first_use_col(partition_cols=CONV) -> F.Column:
    """1 on the first (ts, turn_idx) use of each non-empty tool per
    partition."""
    w = Window.partitionBy(*partition_cols, "tool").orderBy("ts", "turn_idx")
    return ((F.row_number().over(w) == 1) & (_tool_used() == 1)).cast("long").alias(
        "_first_tool_use"
    )


def _with_first_use(df: DataFrame, cols: list[F.Column]) -> DataFrame:
    """Select ``cols`` over ``df`` plus the first-use flag they may read."""
    return df.select("*", _first_use_col()).select("*", *cols).drop("_first_tool_use")


def _cumulative_cols(partition_cols=CONV) -> list[F.Column]:
    """Reads the flag of ``_first_use_col`` (see ``_with_first_use``)."""
    past = turn_order(partition_cols).rowsBetween(PAST, -1)
    return [
        F.coalesce(F.count(F.lit(1)).over(past), F.lit(0)).alias("turns_so_far"),
        F.coalesce(F.sum(_tool_used()).over(past), F.lit(0)).alias("tools_so_far"),
        F.coalesce(F.sum("_first_tool_use").over(past), F.lit(0)).alias(
            "distinct_tools_so_far"
        ),
    ]


def _rolling_cols(width: int, partition_cols=CONV) -> list[F.Column]:
    w = turn_order(partition_cols).rowsBetween(-width, -1)
    return [
        F.coalesce(F.count(F.lit(1)).over(w), F.lit(0)).alias(f"rolling_turns_{width}"),
        F.coalesce(F.sum(_tool_used()).over(w), F.lit(0)).alias(f"rolling_tools_{width}"),
        F.round(F.avg("signal").over(w), 6).alias(f"rolling_signal_mean_{width}"),
    ]


def _ffill_tool_col(partition_cols=CONV) -> F.Column:
    w = turn_order(partition_cols).rowsBetween(PAST, -1)
    non_empty = F.when(_tool_used() == 1, F.col("tool"))
    return F.last(non_empty, ignorenulls=True).over(w).alias("ffill_tool")


def session_id_col(prev_us: F.Column, gap_s: int, partition_cols=CONV) -> F.Column:
    """``session_id`` (0-based per partition) from the previous turn's ts
    in integer micros: a new session starts when the gap to the previous
    turn is strictly greater than ``gap_s`` seconds.  ``prev_us`` is read
    twice, so pass a named column: a window expression there would be
    evaluated twice."""
    us = F.unix_micros(F.col("ts"))
    is_new = (prev_us.isNull() | ((us - prev_us) > F.lit(gap_s * 1_000_000))).cast(
        "long"
    )
    return (
        (F.sum(is_new).over(turn_order(partition_cols).rowsBetween(PAST, 0)) - F.lit(1))
        .cast("long")
        .alias("session_id")
    )


def with_lag_lead(df: DataFrame) -> DataFrame:
    """prev/next role + tool, role transition, seconds since previous turn.

    Analog of the reference's deg+min/sec adjacent-block pairing via the
    *next* OCR block (coordinates_extractor.py:509-539) — pure lag/lead.
    """
    return _lag_lead_finish(df.select("*", *_lag_lead_cols()))


def with_cumulative(df: DataFrame) -> DataFrame:
    """Strictly-past cumulative counts: turns, tool uses, distinct tools.

    Distinct-over-past uses the first-occurrence trick: a (conv_id, tool)
    window flags the first use of each tool, and a strictly-past
    cumulative sum of the flags counts the distinct tools seen before the
    turn.  Both are pure window computations, with no collect_set state
    per row on hot conversations.  The flag window is its own sort level
    below the per-conversation window.
    """
    return _with_first_use(df, _cumulative_cols())


def with_rolling(df: DataFrame, width: int = 5) -> DataFrame:
    """Rolling counts/means over the last ``width`` strictly-past turns.

    north_rule: rolling turn-count / tool-usage features with frames
    ``rowsBetween(-k, -1)`` — never touching row 0.
    """
    return df.select("*", *_rolling_cols(width))


def with_ffill_tool(df: DataFrame) -> DataFrame:
    """Backfill: last non-empty tool strictly before the current turn.

    The forward-fill primitive — derived strictly from past observations,
    mirroring the reference's derived-keypoint inference
    (/root/reference/tasks/geo_referencing/inference.py:21-185).
    """
    return df.select("*", _ffill_tool_col())


def featurize(df: DataFrame, rolling_width: int = 5, gap_s: int = 1800) -> DataFrame:
    """The full per-turn feature stage: lag/lead + cumulative + rolling +
    ffill + sessionization (a new session after a gap > ``gap_s``).

    One sorted pass per conversation.  The (conv_id, tool) first-use flag
    is its own window level; every (conv_id) ORDER BY (ts, turn_idx)
    column of the other features is then ONE select, so Spark evaluates
    them all in one Window operator over one sorted run; the session count
    (``session_id_col``) reads that run's ``_prev_us`` and adds
    a second window level with no new sort.  Every window is keyed on
    conv_id, so the input's conv_id partitioning (``load_transcripts``) is
    reused and no exchange is added.
    """
    out = _with_first_use(
        df,
        [
            *_lag_lead_cols(),
            *_cumulative_cols(),
            *_rolling_cols(rolling_width),
            _ffill_tool_col(),
        ],
    )
    return _lag_lead_finish(out.select("*", session_id_col(F.col("_prev_us"), gap_s)))


def with_rolling_multi(df: DataFrame, widths=(5, 25, 125)) -> DataFrame:
    """Multi-horizon rolling features: the ``with_rolling`` trio at several
    strictly-past frame widths in ONE select.  Every frame shares the same
    (conv_id) partitioning and (ts, turn_idx) ordering, so Spark plans one
    Window operator and evaluates all horizons over one sorted run —
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
    qsig = F.floor(F.col("signal") * F.lit(1000000.0)).cast("long")
    cols = []
    for width in widths:
        w = turn_order().rowsBetween(-width, -1)
        cols += [
            F.coalesce(F.count(F.lit(1)).over(w), F.lit(0)).alias(f"rolling_turns_{width}"),
            F.coalesce(F.sum(_tool_used()).over(w), F.lit(0)).alias(f"rolling_tools_{width}"),
            F.round(
                F.sum(qsig).over(w).cast("double")
                / (F.lit(1000000.0) * F.count(F.lit(1)).over(w)),
                6,
            ).alias(f"rolling_signal_mean_{width}"),
        ]
    return df.select("*", *cols)
