"""Transcript table sources.

The engine's canonical input (BASELINE.json ``input_hint``) is a table of
multi-turn agent transcripts:

    conv_id:string, turn_idx:int32, role:string, text:string,
    tool:string (nullable, '' allowed), ts:timestamp

plus one optional numeric side-channel column ``signal:double`` used by the
regression/outlier stages (the analog of the reference's parsed degree
values, /root/reference/tasks/geo_referencing/entities.py:98-141).

Two sources are provided:

1. ``load_transcripts(spark, sf_dir)`` — a **deterministic derivation** from
   the driver-generated ``events`` parquet (event_id, ts, user_id,
   event_type, value, props).  The identical derivation is expressed as the
   DuckDB CTE ``TRANSCRIPTS_CTE`` so every operator has an exact SQL oracle.
   The mapping is arbitrary but fixed:

   - conv_id  = 'conv' || lpad(user_id, 6, '0')
   - turn_idx = row_number() over (partition by conv_id
                                   order by ts, event_id) - 1
     (stable ordering invariant: ties on ts broken by event_id — mirrors the
     reference's sorted input listing, /root/reference/tasks/common/io.py:104)
   - role     = user|assistant|tool from event_type
   - text     = 'turn <event_id % 97> <event_type> <props>'   (pure-int
     formatting only, so Spark and DuckDB render byte-identical strings)
   - tool     = deterministic small vocab from event_id, NULL/'' cases kept
   - ts       = event ts (timestamp), signal = value

2. ``synth_transcripts(spark, ...)`` — a pure-Spark seeded generator with a
   Zipf-ish heavy tail of conversation lengths (a few hot conversations) used
   by the scale bench and the salting tests; no external data.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

# ---------------------------------------------------------------------------
# DuckDB CTE — textual twin of load_transcripts(); keep the two in lockstep.
# The CTE numbers turns over PARTITION BY user_id, load_transcripts over
# conv_id: conv_id = 'conv' || lpad(user_id, 6, '0') is a bijection with
# user_id in [0, 10^6) (lpad truncates longer ids), so both partitionings
# group the same rows and turn_idx agrees.
# ---------------------------------------------------------------------------
TRANSCRIPTS_CTE = """
transcripts AS (
  SELECT
    concat('conv', lpad(CAST(user_id AS VARCHAR), 6, '0'))            AS conv_id,
    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
         AS INTEGER)                                                  AS turn_idx,
    CASE WHEN event_type IN ('click', 'view', 'signup') THEN 'user'
         WHEN event_type = 'purchase' THEN 'assistant'
         ELSE 'tool' END                                              AS role,
    concat('turn ', CAST(event_id % 97 AS VARCHAR), ' ',
           event_type, ' ', props)                                    AS text,
    CASE WHEN event_type = 'error' THEN
           CASE CAST(event_id % 5 AS INTEGER)
                WHEN 0 THEN 'search' WHEN 1 THEN 'bash'
                WHEN 2 THEN 'read'   WHEN 3 THEN 'write'
                ELSE 'edit' END
         WHEN event_type = 'purchase' AND event_id % 3 = 0 THEN 'search'
         WHEN event_type = 'purchase' THEN ''
         ELSE NULL END                                                AS tool,
    ts                                                                AS ts,
    value                                                             AS signal
  FROM events
)
""".strip()

# Probes: point-in-time feature requests (the analog of the reference's
# query/ground-control points, /root/reference/tasks/geo_referencing/
# ground_control.py:77-151).  Every 7th turn, shifted +90s into the future,
# plus per-conv "before first turn" probes (expect NULL state).
PROBES_CTE = """
probes AS (
  SELECT
    concat(conv_id, '#', CAST(turn_idx AS VARCHAR))    AS probe_id,
    conv_id,
    ts + INTERVAL 90 SECOND                            AS probe_ts
  FROM transcripts
  WHERE turn_idx % 7 = 3
  UNION ALL
  SELECT
    concat(conv_id, '#pre')                            AS probe_id,
    conv_id,
    min(ts) - INTERVAL 3600 SECOND                     AS probe_ts
  FROM transcripts
  GROUP BY conv_id
)
""".strip()


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def load_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic transcripts table derived from the events parquet.

    Must stay semantically identical to TRANSCRIPTS_CTE above.  conv_id is
    computed BEFORE the turn-numbering window, and the window is
    partitioned by it: the output is then hash-partitioned on conv_id, the
    key of every per-conversation operator downstream, which reuses the
    ingest exchange instead of adding its own.  (Partitioning by user_id
    and aliasing conv_id afterwards does not: Spark cannot see that the
    two keys group the same rows.)  A conv_id filter, like the manifest's
    bucket filter, also reaches the scan side of this window.
    """
    ev = load_events(spark, sf_dir).withColumn(
        "conv_id", F.concat(F.lit("conv"), F.lpad(F.col("user_id").cast("string"), 6, "0"))
    )
    w = Window.partitionBy("conv_id").orderBy("ts", "event_id")
    eid = F.col("event_id")
    return ev.select(
        "conv_id",
        (F.row_number().over(w) - F.lit(1)).cast("int").alias("turn_idx"),
        F.when(F.col("event_type").isin("click", "view", "signup"), F.lit("user"))
        .when(F.col("event_type") == "purchase", F.lit("assistant"))
        .otherwise(F.lit("tool"))
        .alias("role"),
        F.concat(
            F.lit("turn "),
            (eid % 97).cast("string"),
            F.lit(" "),
            F.col("event_type"),
            F.lit(" "),
            F.col("props"),
        ).alias("text"),
        F.when(
            F.col("event_type") == "error",
            F.when((eid % 5).cast("int") == 0, "search")
            .when((eid % 5).cast("int") == 1, "bash")
            .when((eid % 5).cast("int") == 2, "read")
            .when((eid % 5).cast("int") == 3, "write")
            .otherwise("edit"),
        )
        .when((F.col("event_type") == "purchase") & (eid % 3 == 0), F.lit("search"))
        .when(F.col("event_type") == "purchase", F.lit(""))
        .otherwise(F.lit(None).cast("string"))
        .alias("tool"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("value").alias("signal"),
    )


def make_probes(transcripts: DataFrame) -> DataFrame:
    """Deterministic probe set; value twin of PROBES_CTE.

    ONE filtered pass instead of the old on-turn filter + per-conv
    ``groupBy(min(ts))`` union: the union form evaluated the whole
    transcript derivation (scan + turn-ordering window) twice in every
    consuming plan — and the as-of operators consume probes inside further
    multi-branch plans, multiplying those scans again.  The pre-probe's
    ``min(ts)`` IS the ``turn_idx = 0`` row's ts by the ingest invariant
    (turn_idx is the dense row_number over (ts, event_id), so turn 0 holds
    the conversation's minimal ts); ``0 % 7 != 3`` so the two probe kinds
    are disjoint row sets and a single CASE projection reproduces the
    union exactly."""
    zero = F.col("turn_idx") == 0
    return transcripts.filter((F.col("turn_idx") % 7 == 3) | zero).select(
        F.when(zero, F.concat(F.col("conv_id"), F.lit("#pre")))
        .otherwise(
            F.concat(F.col("conv_id"), F.lit("#"), F.col("turn_idx").cast("string"))
        )
        .alias("probe_id"),
        "conv_id",
        F.when(zero, F.col("ts") - F.expr("INTERVAL 3600 SECOND"))
        .otherwise(F.col("ts") + F.expr("INTERVAL 90 SECOND"))
        .alias("probe_ts"),
    )


def synth_transcripts(
    spark: SparkSession,
    n_convs: int = 1000,
    mean_turns: int = 50,
    hot_convs: int = 3,
    hot_turns: int = 20_000,
    seed: int = 42,
    n_partitions: int | None = None,
) -> DataFrame:
    """Seeded synthetic transcripts with a heavy-tailed conversation-length
    distribution (a few "hot" conversations dominate) — exercises the
    explicit salting path.  Deterministic: every column is a pure function
    of (conv_nr, turn_idx, seed); no RNG state crosses rows, so the output
    is identical at any parallelism.

    Generated distributed via ``spark.range`` — no driver-side loop, so it
    scales to 10^9+ rows.
    """
    # Per-conv turn counts: conv 0..hot_convs-1 are hot; the rest vary
    # deterministically around mean_turns.
    convs = spark.range(n_convs).select(
        F.col("id").alias("conv_nr"),
        F.when(F.col("id") < hot_convs, F.lit(hot_turns))
        .otherwise(
            (F.lit(mean_turns) + F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(mean_turns)))
        )
        .cast("int")
        .alias("n_turns"),
    )
    turns = convs.select(
        "conv_nr",
        F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
    )
    if n_partitions:
        turns = turns.repartition(n_partitions, "conv_nr", "turn_idx")
    h = F.xxhash64(F.col("conv_nr"), F.col("turn_idx"), F.lit(seed))
    gap_s = (
        # mix of short intra-session gaps (1-120 s) and long gaps (>1800 s)
        F.when(F.pmod(h, 17) == 0, F.lit(1800) + F.pmod(h, 7200))
        .otherwise(F.lit(1) + F.pmod(h, 120))
    )
    roles = F.element_at(
        F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
        (F.pmod(h, 3) + 1).cast("int"),
    )
    tools = F.element_at(
        F.array(
            F.lit(None).cast("string"),
            F.lit(""),
            F.lit("search"),
            F.lit("bash"),
            F.lit("read"),
            F.lit("write"),
            F.lit("edit"),
        ),
        (F.pmod(h, 7) + 1).cast("int"),
    )
    w = Window.partitionBy("conv_nr").orderBy("turn_idx")
    return turns.select(
        F.concat(F.lit("conv"), F.lpad(F.col("conv_nr").cast("string"), 6, "0")).alias(
            "conv_id"
        ),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        roles.alias("role"),
        F.concat(
            F.lit("turn "),
            F.col("turn_idx").cast("string"),
            F.lit(" of conv"),
            F.col("conv_nr").cast("string"),
            F.lit(" éü— "),  # unicode round-trip cases
            (F.pmod(h, 1000)).cast("string"),
        ).alias("text"),
        tools.alias("tool"),
        (
            F.timestamp_seconds(
                F.lit(1704067200)
                + F.sum(gap_s).over(w.rowsBetween(Window.unboundedPreceding, 0))
            )
        ).alias("ts"),
        (F.pmod(h, 10000) / 100.0).alias("signal"),
    )
