"""Hot-conversation salting: two-level (chunked) window features.

``Window.partitionBy(conv_id)`` serializes a whole conversation onto one
task — a conversation with 10^8 turns breaks it (SURVEY.md §7.3).  The
north_rule therefore requires explicit salting.  For associative prefix
features the classic two-phase trick applies (the reference's analog is
tiling + offset-restore, /root/reference/tasks/text_extraction/
text_extractor.py:350-382 and tiling.py:46-228: process bounded tiles with
overlap, then shift results back into the global frame):

1. salt each row with ``chunk = floor(turn_idx / chunk_size)`` (turn_idx is
   the dense stable order, so chunks are balanced and the salt is free);
2. duplicate boundary rows arithmetically — each chunk's last ``k`` rows
   are also emitted into the NEXT chunk (tail carries ≈ tile overlap), and
   each chunk's first row into the PREVIOUS chunk (head carry) — so
   lag/lead/rolling frames are exact inside one bounded window;
3. per-(conv, chunk) aggregates — ONE tiny row per chunk — are chained with
   a second window over chunks and broadcast-joined back to resolve prefix
   sums, forward-fill, and session-id offsets.

Physical plan: ONE full shuffle+sort on (conv_id, chunk) for the main
window, one bounded shuffle on (conv_id, tool) for global tool
first-occurrence, and broadcast joins for the tiny chunk-level tables.

``featurize_hybrid`` returns exactly the same columns and values as
``operators.windows.featurize`` (asserted in tests) — salting is a
physical strategy, not a semantic change — and routes only oversized
conversations through the salted machinery.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

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
    from uncharted_ta1_pipeline_spark.operators.windows import featurize

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
    non_empty = F.col("tool").isNotNull() & (F.col("tool") != "")
    hot = F.coalesce(F.col("_hot"), F.lit(False))

    # Global first occurrence of each tool WITHOUT an unbounded window: a
    # (conv, tool) window group holds every use of one tool in one
    # conversation — 10^8 rows in ONE sort task for a single-tool hot
    # conversation.  Instead: hot conversations resolve their global first
    # via a map-side-combined min-aggregate joined back as a broadcast dim
    # of |hot| x |tool vocabulary| rows.  NOTE the vocabulary factor: at the
    # 10^12-turn design point (~15M hot convs x 50-100 tools) this dim
    # outgrows a broadcast; no input this engine runs reaches that.  Cold
    # conversations keep the window but keyed by (conv, tool, _chunk),
    # whose groups the router bounds.
    hot_rows = df.filter(hot)
    firsts = F.broadcast(
        hot_rows.filter(non_empty)
        .groupBy("conv_id", "tool")
        .agg(F.min(F.struct("ts", "turn_idx")).alias("_fp"))
    )

    base = (
        df.withColumn("_us", F.unix_micros(F.col("ts")))
        .withColumn(
            "_chunk",
            F.when(hot, F.floor(F.col("turn_idx") / F.lit(cs))).otherwise(F.lit(0)),
        )
        .withColumn("_used", non_empty.cast("long"))
        .join(firsts, on=["conv_id", "tool"], how="left")
        .withColumn(
            "_first_use",
            (
                # equality-to-min flags EVERY row tying the per-(conv, tool)
                # minimum — exactly one row only because (ts, turn_idx) is
                # unique per conversation (turn_idx is the dense 0-based
                # stable order; the ingest invariant this module requires,
                # asserted in tests/test_salt.py).  A duplicate (conv_id,
                # turn_idx) row would be malformed input upstream of this
                # operator, not a tie to break here.  (ADVICE r3)
                F.when(
                    hot, F.struct("ts", "turn_idx") == F.col("_fp")
                ).otherwise(
                    F.row_number().over(
                        Window.partitionBy("conv_id", "tool", "_chunk").orderBy(
                            "ts", "turn_idx"
                        )
                    )
                    == 1
                )
                & non_empty
            ).cast("long"),
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

    # ---- the ONE bounded window: (conv, target-chunk) in true turn order ----
    w = Window.partitionBy("conv_id", "_tgt").orderBy("ts", "turn_idx")
    past = w.rowsBetween(Window.unboundedPreceding, -1)
    incl = w.rowsBetween(Window.unboundedPreceding, 0)
    roll = w.rowsBetween(-k, -1)
    real = F.col("_kind") == 0
    rflag = real.cast("long")

    a = (
        stream
        # carries sit exactly where the true neighbours sit, so plain
        # lag/lead over the augmented stream are the true lag/lead:
        .withColumn("_lag", F.lag(F.struct("role", "tool", "_us")).over(w))
        .withColumn("next_role", F.lead("role").over(w))
        # within-chunk prefix sums count REAL rows only (carries are
        # duplicates; prior chunks arrive via offsets):
        .withColumn("_p_turns", F.coalesce(F.sum(rflag).over(past), F.lit(0)))
        .withColumn(
            "_p_tools",
            F.coalesce(F.sum(F.when(real, F.col("_used"))).over(past), F.lit(0)),
        )
        .withColumn(
            "_p_firsts",
            F.coalesce(F.sum(F.when(real, F.col("_first_use"))).over(past), F.lit(0)),
        )
        .withColumn(
            "_p_ffill",
            F.last(F.when(real & non_empty, F.col("tool")), ignorenulls=True).over(
                past
            ),
        )
        # rolling frames DO count carries — they are the true last-k turns:
        .withColumn("rolling_turns_%d" % k, F.coalesce(F.count(F.lit(1)).over(roll), F.lit(0)))
        .withColumn("rolling_tools_%d" % k, F.coalesce(F.sum("_used").over(roll), F.lit(0)))
        .withColumn("rolling_signal_mean_%d" % k, F.round(F.avg("signal").over(roll), 6))
        .withColumn("prev_role", F.col("_lag.role"))
        .withColumn("prev_tool", F.col("_lag.tool"))
        .withColumn(
            "secs_since_prev",
            F.round((F.col("_us") - F.col("_lag._us")) / F.lit(1000000.0), 6),
        )
        .withColumn(
            "role_transition",
            F.concat(
                F.coalesce(F.col("prev_role"), F.lit("START")),
                F.lit("->"),
                F.col("role"),
            ),
        )
        .withColumn(
            "_is_new",
            (
                F.col("_lag._us").isNull()
                | ((F.col("_us") - F.col("_lag._us")) > F.lit(gap_s * 1_000_000))
            ).cast("long"),
        )
        .withColumn(
            "_p_sess", F.sum(F.when(real, F.col("_is_new"))).over(incl)
        )
    )

    # ---- chunk summaries (ONE tiny row per (conv, chunk)) -------------------
    # Computed from a NARROW re-derivation of the input, NOT from the
    # exploded/windowed frame ``a``: reusing ``a`` here would evaluate the
    # expensive augmented-stream window TWICE (once for output rows, once
    # for these sums — measured 2.3x the plain path at sf0.1).  The sums
    # need only (conv_id, ts, turn_idx, tool), so this branch is a
    # column-pruned scan + two cheap windows; for real rows the augmented
    # stream's lag equals the plain per-conversation lag, so the session
    # flags are identical.  Only HOT conversations need cross-chunk
    # offsets: cold chunks are whole conversations (their within-chunk
    # prefixes are already global), so the offsets dim stays tiny and
    # broadcastable even with 10^8 cold convs.
    reals = a.filter(real)
    # Session-start flags WITHOUT a whole-conversation window: within-chunk
    # gaps via a (conv, chunk)-bounded lag, and the chunk-boundary gap via
    # the tiny per-chunk summary (head vs previous chunk's tail) — the same
    # head-carry trick the main stream uses.  A whole-key lag here would
    # funnel each hot conversation through ONE task (10^8-turn killer; the
    # old shape cost ~5s of 3-task tail on the 12M-turn bench).
    w_chunk_n = Window.partitionBy("conv_id", "_tgt").orderBy("ts", "turn_idx")
    nb = (
        hot_rows.select("conv_id", "ts", "turn_idx", "tool")
        .withColumn("_us", F.unix_micros(F.col("ts")))
        .withColumn("_tgt", F.floor(F.col("turn_idx") / F.lit(cs)))
        .withColumn("_used", non_empty.cast("long"))
        # hot_rows is the hot slice, so every row resolves its global
        # first-use against the broadcast dim — no window needed here
        .join(firsts, on=["conv_id", "tool"], how="left")
        .withColumn(
            "_first_use",
            ((F.struct("ts", "turn_idx") == F.col("_fp")) & non_empty).cast("long"),
        )
        .drop("_fp")
        .withColumn("_prev_us", F.lag("_us").over(w_chunk_n))
        .withColumn(
            # chunk-interior gaps only; each chunk's head row is resolved
            # against the previous chunk's tail at the summary level below
            "_is_new_in",
            (
                F.col("_prev_us").isNotNull()
                & ((F.col("_us") - F.col("_prev_us")) > F.lit(gap_s * 1_000_000))
            ).cast("long"),
        )
    )
    w_chain = Window.partitionBy("conv_id").orderBy("_tgt")
    sums = (
        nb.groupBy("conv_id", "_tgt")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("_used").alias("_tools"),
            F.sum("_first_use").alias("_firsts"),
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
                | (
                    (F.col("_head._us") - F.col("_prev_tail_us"))
                    > F.lit(gap_s * 1_000_000)
                )
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

    z = F.lit(0)
    out = (
        reals.join(F.broadcast(offsets), on=["conv_id", "_tgt"], how="left")
        .withColumn(
            "turns_so_far", F.col("_p_turns") + F.coalesce(F.col("_off_turns"), z)
        )
        .withColumn(
            "tools_so_far", F.col("_p_tools") + F.coalesce(F.col("_off_tools"), z)
        )
        .withColumn(
            "distinct_tools_so_far",
            F.col("_p_firsts") + F.coalesce(F.col("_off_firsts"), z),
        )
        .withColumn("ffill_tool", F.coalesce(F.col("_p_ffill"), F.col("_carry_ffill")))
        .withColumn(
            "session_id",
            (F.col("_p_sess") + F.coalesce(F.col("_off_sess"), z) - F.lit(1)).cast(
                "long"
            ),
        )
    )
    return out.select(
        *input_cols,
        "prev_role", "next_role", "prev_tool", "role_transition", "secs_since_prev",
        "turns_so_far", "tools_so_far", "distinct_tools_so_far",
        f"rolling_turns_{k}", f"rolling_tools_{k}", f"rolling_signal_mean_{k}",
        "ffill_tool", "session_id",
    )
