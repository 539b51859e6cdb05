"""Hot-conversation salting: the featurize builders over bounded chunks.

``Window.partitionBy(conv_id)`` serializes a whole conversation onto one
task — a conversation with 10^8 turns breaks it (SURVEY.md §7.3).  The
north_rule therefore requires explicit salting.  The reference tiles
oversized inputs, runs the SAME extractor on every tile and shifts the
results back into the global frame (the reference's tasks/text_extraction/
text_extractor.py:350-382 and tiling.py:46-228).  This module does the
same: every feature is defined once, by the builders of
``operators/windows.py``, and runs here over ``(conv_id, chunk)`` instead
of ``conv_id``.  What this module owns is the physical machinery:

1. routing: a broadcast hot flag sends the conversations above
   ``hot_threshold`` turns to chunks ``floor(turn_idx / chunk_size)``
   (turn_idx is the dense stable order, so chunks are balanced and the
   salt is free); cold conversations keep one chunk;
2. carries: each chunk's last ``k`` rows are also emitted into the NEXT
   chunk (tail carries ≈ tile overlap) and its first row into the
   PREVIOUS chunk (head carry), so lag/lead and rolling frames over the
   augmented chunk are exact; prefix features run over the real rows only;
3. offsets: per-(conv, chunk) summaries of a narrow hot-only scan — ONE
   tiny row per chunk — are chained by a window over chunks and
   broadcast-joined back to shift the within-chunk prefix counts,
   forward-fill and session ids into the global frame.  A tool's global
   first use in a hot conversation comes from a broadcast per-(conv, tool)
   min instead of a whole-conversation window.

Physical plan: the chunk windows reuse the input's conv_id partitioning
(no exchange of their own) in one sort on (conv_id, chunk, ts, turn_idx);
the hot dim, the first-use min and the chunk summaries are narrow
branches joined back by broadcast.

``featurize_hybrid`` returns exactly the same columns and values as
``operators.windows.featurize`` (asserted in tests) — salting is a
physical strategy, not a semantic change — and routes only oversized
conversations through the salted machinery.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from uncharted_ta1_pipeline_spark.operators.windows import (
    _cumulative_cols,
    _ffill_tool_col,
    _first_use_col,
    _lag_lead_cols,
    _lag_lead_finish,
    _rolling_cols,
    _tool_used,
    featurize,
    session_id_col,
    turn_order,
)

DEFAULT_CHUNK = 16384
DEFAULT_HOT_THRESHOLD = 65536


def featurize_hybrid(
    df: DataFrame,
    hot_threshold: int = DEFAULT_HOT_THRESHOLD,
    chunk_size: int = DEFAULT_CHUNK,
    rolling_width: int = 5,
    gap_s: int = 1800,
) -> DataFrame:
    """Route conversations by size: the few above ``hot_threshold`` turns
    take the chunked/salted path; everything else takes the plain
    single-shuffle window path.  Mirrors the reference's policy of tiling
    only oversized inputs (text_extractor.py:350-355: tile only when the
    image exceeds the pixel limit).  Same output as ``featurize`` for any
    routing; ``hot_threshold=0`` salts every conversation.

    Routing happens INSIDE one pass: rows carry a broadcast hot flag and
    the salted machinery gives cold conversations a constant chunk (no
    carries, no offsets), so the physical plan scans the full-width input
    ONCE."""
    if chunk_size <= rolling_width:
        # boundary carries span exactly ONE chunk back; a chunk smaller than
        # the rolling frame would silently miss rows from two chunks back
        raise ValueError(
            f"chunk_size ({chunk_size}) must exceed rolling_width "
            f"({rolling_width}): tail carries only reach one chunk ahead"
        )
    # Routing flag: the hot set is by construction tiny — at most
    # |data| / hot_threshold conversations (~15M at the 10^12-turn design
    # point) — so it broadcast-joins as a (conv_id) dim.  NO driver-side
    # collect/isin: a 15M-element isin literal would blow up the plan, a
    # broadcast flag keeps the same plan shape at any scale.
    hot = (
        df.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("_n_conv"))
        .filter(F.col("_n_conv") > hot_threshold)
        .select("conv_id", F.lit(True).alias("_hot"))
    )
    # planning decision, evaluated eagerly like AQE's runtime stats: a tiny
    # aggregate-only action over a column-pruned scan, not a data collect —
    # with no hot conversations the plan collapses to the plain
    # single-window path (1 full scan, no explode overhead)
    if hot.isEmpty():
        return featurize(df, rolling_width=rolling_width, gap_s=gap_s)
    # ONE full-width pass: cold conversations flow through the salted
    # machinery with a constant chunk (≡ the plain per-conv window — same
    # task shape, no carries), hot conversations get real chunks.  Physical
    # plan: 1 full-width scan (the output branch) + 1 narrow hot-only scan
    # (chunk sums) + pruned conv_id scans for the dims.
    flagged = df.join(F.broadcast(hot), on="conv_id", how="left")
    return _featurize_salted(flagged, df.columns, chunk_size, rolling_width, gap_s)


def _featurize_salted(
    df: DataFrame, input_cols: list[str], chunk_size: int, rolling_width: int, gap_s: int
) -> DataFrame:
    """Salted equivalent of ``operators.windows.featurize`` over a frame
    carrying the boolean routing column ``_hot`` (NULL ⇒ cold).  Cold
    conversations take chunk 0 with NO boundary carries and NO offset rows
    — for them the bounded window degenerates to the plain per-conversation
    window, so hot and cold are featurized in the SAME single pass.  The
    output is ``input_cols`` followed by the features, in featurize's
    column order.

    Requires ``turn_idx`` to be the dense 0-based stable order within each
    conversation (the ingest invariant), aligned with (ts, turn_idx) order.
    """
    k = rolling_width
    cs = chunk_size
    non_empty = _tool_used() == 1
    hot = F.coalesce(F.col("_hot"), F.lit(False))

    # Global first occurrence of each tool WITHOUT an unbounded window: a
    # (conv, tool) window group holds every use of one tool in one
    # conversation — 10^8 rows in ONE sort task for a single-tool hot
    # conversation.  Instead: hot conversations resolve their global first
    # via a map-side-combined min-aggregate joined back as a broadcast dim
    # of |hot| x |tool vocabulary| rows.  NOTE the vocabulary factor: at the
    # 10^12-turn design point (~15M hot convs x 50-100 tools) this dim
    # outgrows a broadcast; no input this engine runs reaches that.  Cold
    # conversations keep the window but keyed by (conv, _chunk, tool),
    # whose groups the router bounds.
    hot_rows = df.filter(hot)
    firsts = F.broadcast(
        hot_rows.filter(non_empty)
        .groupBy("conv_id", "tool")
        .agg(F.min(F.struct("ts", "turn_idx")).alias("_fp"))
    )
    # equality-to-min flags EVERY row tying the per-(conv, tool) minimum —
    # exactly one row only because (ts, turn_idx) is unique per
    # conversation (turn_idx is the dense 0-based stable order; the ingest
    # invariant this module requires, asserted in tests/test_salt.py).  A
    # duplicate (conv_id, turn_idx) row would be malformed input upstream
    # of this operator, not a tie to break here.  (ADVICE r3)
    hot_first = ((F.struct("ts", "turn_idx") == F.col("_fp")) & non_empty).cast("long")
    base = (
        df.withColumn(
            "_chunk",
            F.when(hot, F.floor(F.col("turn_idx") / F.lit(cs))).otherwise(F.lit(0)),
        )
        .join(firsts, on=["conv_id", "tool"], how="left")
        .select("*", _first_use_col(("conv_id", "_chunk")))
        .withColumn(
            "_first_tool_use",
            F.when(hot, hot_first).otherwise(F.col("_first_tool_use")),
        )
        .drop("_fp")
    )

    # ---- arithmetic carry routing (≈ tile overlap) --------------------------
    # real row -> its own chunk; last k rows of a chunk -> next chunk (tail
    # carries, give exact lag/rolling at the boundary); first row of a chunk
    # -> previous chunk (head carry, gives exact lead).
    tgt_t = "array<struct<tgt:bigint,kind:int>>"
    targets = F.concat(
        F.array(F.struct(F.col("_chunk").alias("tgt"), F.lit(0).alias("kind"))),
        F.when(
            hot & (F.col("turn_idx") >= (F.col("_chunk") + 1) * cs - k),
            F.array(
                F.struct((F.col("_chunk") + 1).alias("tgt"), F.lit(1).alias("kind"))
            ),
        ).otherwise(F.expr(f"CAST(array() AS {tgt_t})")),
        F.when(
            hot & (F.col("turn_idx") % cs == 0) & (F.col("_chunk") > 0),
            F.array(
                F.struct((F.col("_chunk") - 1).alias("tgt"), F.lit(2).alias("kind"))
            ),
        ).otherwise(F.expr(f"CAST(array() AS {tgt_t})")),
    )
    stream = base.withColumn("_t", F.explode(targets)).select(
        "*", F.col("_t.tgt").alias("_tgt"), F.col("_t.kind").alias("_kind")
    )

    # ---- featurize's builders over the bounded (conv, target-chunk) window --
    # Carries sit exactly where the true neighbours sit, so lag/lead and the
    # rolling frames over the augmented stream are the true ones.  Prefix
    # features then run over the real rows only (carries are duplicates)
    # and count within the chunk; prior chunks arrive via offsets below.
    p = ("conv_id", "_tgt")
    reals = (
        stream.select("*", *_lag_lead_cols(p), *_rolling_cols(k, p))
        .filter(F.col("_kind") == 0)
        .select(
            "*",
            *_cumulative_cols(p),
            _ffill_tool_col(p),
            session_id_col(F.col("_prev_us"), gap_s, p),
        )
    )

    # ---- chunk summaries (ONE tiny row per (conv, chunk)) -------------------
    # Computed from a NARROW re-derivation of the input, NOT from the
    # exploded/windowed stream: reusing it here would evaluate the
    # expensive augmented-stream window TWICE (once for output rows, once
    # for these sums — measured 2.3x the plain path at sf0.1).  The sums
    # need only (conv_id, ts, turn_idx, tool), so this branch is a
    # column-pruned scan + two cheap windows; for real rows the augmented
    # stream's lag equals the plain per-conversation lag, so the session
    # flags are identical.  Only HOT conversations need cross-chunk
    # offsets: cold chunks are whole conversations (their within-chunk
    # prefixes are already global), so the offsets dim stays tiny and
    # broadcastable even with 10^8 cold convs.
    # Session-start flags WITHOUT a whole-conversation window: within-chunk
    # gaps via a (conv, chunk)-bounded lag, and the chunk-boundary gap via
    # the tiny per-chunk summary (head vs previous chunk's tail) — the same
    # head-carry trick the main stream uses.  A whole-key lag here would
    # funnel each hot conversation through ONE task (10^8-turn killer; the
    # old shape cost ~5s of 3-task tail on the 12M-turn bench).
    gap_us = F.lit(gap_s * 1_000_000)
    nb = (
        hot_rows.select("conv_id", "ts", "turn_idx", "tool")
        .withColumn("_us", F.unix_micros(F.col("ts")))
        .withColumn("_tgt", F.floor(F.col("turn_idx") / F.lit(cs)))
        # hot_rows is the hot slice, so every row resolves its global
        # first-use against the broadcast dim — no window needed here
        .join(firsts, on=["conv_id", "tool"], how="left")
        .withColumn("_prev_us", F.lag("_us").over(turn_order(p)))
        .withColumn(
            # chunk-interior gaps only; each chunk's head row is resolved
            # against the previous chunk's tail at the summary level below
            "_is_new_in",
            (
                F.col("_prev_us").isNotNull()
                & ((F.col("_us") - F.col("_prev_us")) > gap_us)
            ).cast("long"),
        )
    )
    w_chain = Window.partitionBy("conv_id").orderBy("_tgt")
    sums = (
        nb.groupBy("conv_id", "_tgt")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(_tool_used()).alias("_tools"),
            F.sum(hot_first).alias("_firsts"),
            F.sum("_is_new_in").alias("_sess_in"),
            F.min(F.struct("ts", "turn_idx", "_us")).alias("_head"),
            F.max(F.struct("ts", "turn_idx", "_us")).alias("_tail"),
            F.max(F.when(non_empty, F.struct("ts", "turn_idx", "tool"))).alias("_lt"),
        )
        .withColumn("_prev_tail_us", F.lag("_tail._us").over(w_chain))
        .withColumn(
            "_head_new",
            (
                F.col("_prev_tail_us").isNull()
                | ((F.col("_head._us") - F.col("_prev_tail_us")) > gap_us)
            ).cast("long"),
        )
        .withColumn("_sess", F.col("_sess_in") + F.col("_head_new"))
    )
    prior = w_chain.rowsBetween(Window.unboundedPreceding, -1)
    offsets = sums.select(
        "conv_id",
        "_tgt",
        F.coalesce(F.sum("_n").over(prior), F.lit(0)).alias("_off_turns"),
        F.coalesce(F.sum("_tools").over(prior), F.lit(0)).alias("_off_tools"),
        F.coalesce(F.sum("_firsts").over(prior), F.lit(0)).alias("_off_firsts"),
        F.coalesce(F.sum("_sess").over(prior), F.lit(0)).alias("_off_sess"),
        F.last(F.col("_lt.tool"), ignorenulls=True).over(prior).alias("_carry_ffill"),
    )

    def shifted(col: str, off: str) -> F.Column:
        return (F.col(col) + F.coalesce(F.col(off), F.lit(0))).alias(col)

    out = reals.join(F.broadcast(offsets), on=["conv_id", "_tgt"], how="left")
    return _lag_lead_finish(
        out.select(
            *input_cols,
            "prev_role", "next_role", "prev_tool", "_prev_us",
            shifted("turns_so_far", "_off_turns"),
            shifted("tools_so_far", "_off_tools"),
            shifted("distinct_tools_so_far", "_off_firsts"),
            f"rolling_turns_{k}", f"rolling_tools_{k}", f"rolling_signal_mean_{k}",
            F.coalesce(F.col("ffill_tool"), F.col("_carry_ffill")).alias("ffill_tool"),
            shifted("session_id", "_off_sess"),
        )
    )
