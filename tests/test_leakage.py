"""Zero-temporal-leakage contract, encoded as data (FIXTURES.md §5).

Poison fixture: perturb FUTURE turns (drop the last turn per conv; mutate
the last turn's text/tool/signal; append extra future turns) and assert no
feature at any earlier (turn_idx, ts) changes.  Also a duplicate-ts cluster
with turn_idx tie-breaks, and out-of-order ingestion (shuffled input order,
ordered semantics)."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_SMOKE

LOOKAHEAD = {"next_role"}  # explicitly documented lookahead feature


def _features(df, salted=False):
    from uncharted_ta1_pipeline_spark.operators.salt import featurize_hybrid
    from uncharted_ta1_pipeline_spark.operators.windows import featurize

    out = (
        featurize_hybrid(df, hot_threshold=0, chunk_size=16)
        if salted
        else featurize(df)
    )
    return out.drop(*LOOKAHEAD)


def _past_rows(full_pdf, key=("conv_id", "turn_idx")):
    return full_pdf.sort_values(list(key)).reset_index(drop=True)


def _assert_past_unchanged(a, b, drop_last_per_conv=True):
    key = ["conv_id", "turn_idx"]
    if drop_last_per_conv:
        last = a.groupby("conv_id")["turn_idx"].transform("max")
        a = a[a["turn_idx"] < last]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    b = b.merge(a[key], on=key)[a.columns]
    pd.testing.assert_frame_equal(a, b, check_like=True)


@pytest.mark.parametrize("salted", [False, True])
def test_poison_future_turns(spark, salted):
    """Mutating or extending the FUTURE must not change any past feature."""
    from uncharted_ta1_pipeline_spark.sources.transcripts import load_transcripts

    t = load_transcripts(spark, SF_SMOKE)
    base = _features(t, salted).toPandas()

    # poison 1: mutate every conversation's LAST turn (text, tool, signal)
    w_last = t.groupBy("conv_id").agg(F.max("turn_idx").alias("_mx"))
    is_last = F.col("turn_idx") == F.col("_mx")
    mutated = (
        t.join(w_last, "conv_id")
        .withColumn("text", F.when(is_last, F.lit("POISON")).otherwise(F.col("text")))
        .withColumn("tool", F.when(is_last, F.lit("poison_tool")).otherwise(F.col("tool")))
        .withColumn("signal", F.when(is_last, F.lit(-9999.0)).otherwise(F.col("signal")))
        .drop("_mx")
    )
    poisoned = _features(mutated, salted).toPandas()
    _assert_past_unchanged(base, poisoned)

    # poison 2: append extra future turns after every conversation's end
    extra = (
        t.join(w_last, "conv_id")
        .filter(F.col("turn_idx") == F.col("_mx"))
        .select(
            "conv_id",
            (F.col("turn_idx") + 1).cast("int").alias("turn_idx"),
            F.lit("tool").alias("role"),
            F.lit("FUTURE POISON").alias("text"),
            F.lit("edit").alias("tool"),
            (F.col("ts") + F.expr("INTERVAL 10 SECOND")).alias("ts"),
            F.lit(123.0).alias("signal"),
        )
    )
    extended = t.unionByName(extra)
    ext_f = _features(extended, salted).toPandas()
    # ALL original turns (incl. former last turns: their features only look
    # back) must be unchanged
    _assert_past_unchanged(base, ext_f, drop_last_per_conv=False)


def test_poison_fit_predict_at_probe(spark):
    """The as-of regression must fit ONLY on turns with ts <= probe_ts:
    mutating or appending observations AFTER a probe's timestamp must not
    move that probe's prediction by any amount."""
    from uncharted_ta1_pipeline_spark.operators.asof import fit_predict_at_probes
    from uncharted_ta1_pipeline_spark.sources.transcripts import (
        load_transcripts,
        make_probes,
    )

    t = load_transcripts(spark, SF_SMOKE)
    probes = make_probes(t)
    base = fit_predict_at_probes(probes, t).toPandas()

    # poison: wreck every conversation's LAST turn's signal, and append a
    # wild future observation.  Probes strictly before those turns must be
    # bit-identical.  (make_probes puts probes at turn ts + 90s, so probes
    # attached to earlier turns precede the last turn whenever the gap to
    # the last turn exceeds 90s — restrict the comparison to those.)
    w_last = t.groupBy("conv_id").agg(
        F.max("turn_idx").alias("_mx"),
        F.max(F.unix_micros("ts")).alias("_last_us"),
    )
    mutated = (
        t.join(w_last, "conv_id")
        .withColumn(
            "signal",
            F.when(F.col("turn_idx") == F.col("_mx"), F.lit(-424242.0)).otherwise(
                F.col("signal")
            ),
        )
        .drop("_mx", "_last_us")
    )
    extra = (
        t.join(w_last, "conv_id")
        .filter(F.col("turn_idx") == F.col("_mx"))
        .select(
            "conv_id",
            (F.col("turn_idx") + 1).cast("int").alias("turn_idx"),
            F.lit("tool").alias("role"),
            F.lit("POISON").alias("text"),
            F.lit("edit").alias("tool"),
            (F.col("ts") + F.expr("INTERVAL 5 SECOND")).alias("ts"),
            F.lit(9e7).alias("signal"),
        )
    )
    poisoned = fit_predict_at_probes(probes, mutated.unionByName(extra)).toPandas()

    # keep only probes strictly BEFORE the conversation's last original turn
    last = (
        w_last.select("conv_id", "_last_us")
        .toPandas()
        .set_index("conv_id")["_last_us"]
    )
    strictly_past = base["probe_ts_us"] < base["conv_id"].map(last)
    assert strictly_past.sum() > 100, "fixture must exercise many past probes"
    key = ["probe_id"]
    a = base[strictly_past].sort_values(key).reset_index(drop=True)
    b = (
        poisoned.merge(a[key], on=key)
        .sort_values(key)
        .reset_index(drop=True)[a.columns]
    )
    pd.testing.assert_frame_equal(a, b, check_like=True)


def test_duplicate_ts_tie_break(spark):
    """Equal-ts turns are ordered by turn_idx (stable ordering invariant)."""
    from uncharted_ta1_pipeline_spark.operators.windows import featurize

    rows = [
        ("c1", 0, "user", "a b", None, "2024-01-01 00:00:00", 1.0),
        ("c1", 1, "assistant", "c d", "search", "2024-01-01 00:00:10", 2.0),
        # duplicate-ts cluster: three turns at the same instant
        ("c1", 2, "tool", "e f", "bash", "2024-01-01 00:00:20", 3.0),
        ("c1", 3, "user", "g h", "", "2024-01-01 00:00:20", 4.0),
        ("c1", 4, "tool", "i j", "read", "2024-01-01 00:00:20", 5.0),
        ("c1", 5, "user", "k l", None, "2024-01-01 00:00:30", 6.0),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts string, signal double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = featurize(df).orderBy("turn_idx").toPandas()
    assert list(out["prev_role"]) == [None, "user", "assistant", "tool", "user", "tool"]
    assert list(out["turns_so_far"]) == [0, 1, 2, 3, 4, 5]
    # ffill over the tie cluster follows turn_idx order
    assert list(out["ffill_tool"]) == [None, None, "search", "bash", "bash", "read"]


def test_out_of_order_ingestion(spark):
    """Shuffled write order, ordered semantics: features identical."""
    from uncharted_ta1_pipeline_spark.operators.windows import featurize
    from uncharted_ta1_pipeline_spark.sources.transcripts import load_transcripts

    t = load_transcripts(spark, SF_SMOKE)
    a = featurize(t).toPandas()
    shuffled = t.orderBy(F.md5(F.concat_ws("|", "conv_id", F.col("turn_idx").cast("string")))).repartition(7)
    b = featurize(shuffled).toPandas()
    key = ["conv_id", "turn_idx"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)[a.columns]
    pd.testing.assert_frame_equal(a, b, check_like=True)
