"""Salting is a physical strategy, not a semantic change: featurize_hybrid
must equal featurize() exactly in every routing regime — including at
chunk sizes small enough that every conversation spans many chunks
(``hot_threshold=0`` salts every conversation)."""

from __future__ import annotations

import re

import pandas as pd
import pytest

from tests.conftest import SF_SMOKE


def _cmp(a: pd.DataFrame, b: pd.DataFrame, key=("conv_id", "turn_idx")):
    a = a.sort_values(list(key)).reset_index(drop=True)
    b = b.sort_values(list(key)).reset_index(drop=True)
    assert list(b.columns) == list(a.columns)
    pd.testing.assert_frame_equal(a, b)


@pytest.mark.parametrize("chunk_size", [7, 64, 100000])
def test_salted_equals_plain(spark, chunk_size):
    from uncharted_ta1_pipeline_spark.operators.salt import featurize_hybrid
    from uncharted_ta1_pipeline_spark.operators.windows import featurize
    from uncharted_ta1_pipeline_spark.sources.transcripts import load_transcripts

    t = load_transcripts(spark, SF_SMOKE)
    plain = featurize(t).toPandas()
    salted = featurize_hybrid(t, hot_threshold=0, chunk_size=chunk_size).toPandas()
    _cmp(plain, salted)


def test_salted_on_synthetic_hot_conv(spark):
    """A hot conversation spanning many chunks, with long gaps (session
    boundaries) landing on chunk edges."""
    from uncharted_ta1_pipeline_spark.operators.salt import featurize_hybrid
    from uncharted_ta1_pipeline_spark.operators.windows import featurize
    from uncharted_ta1_pipeline_spark.sources.transcripts import synth_transcripts

    t = synth_transcripts(
        spark, n_convs=20, mean_turns=30, hot_convs=2, hot_turns=3000, seed=7
    )
    plain = featurize(t).toPandas()
    salted = featurize_hybrid(t, hot_threshold=0, chunk_size=256).toPandas()
    _cmp(plain, salted)


def test_single_pass_routing_equals_plain(spark):
    """The routed path (hot flag inside one salted pass) is frame-equal to
    featurize() in every routing regime — mixed hot/cold, all-cold (empty
    hot dim, the plain route), all-hot — and honours ``gap_s`` on each."""
    from uncharted_ta1_pipeline_spark.operators.salt import featurize_hybrid
    from uncharted_ta1_pipeline_spark.operators.windows import featurize
    from uncharted_ta1_pipeline_spark.sources.transcripts import synth_transcripts

    t = synth_transcripts(
        spark, n_convs=10, mean_turns=30, hot_convs=1, hot_turns=2000, seed=13
    )
    for gap_s in (60, 1800):
        plain = featurize(t, gap_s=gap_s).toPandas()
        for thr in (1000, 10**9, 1):  # mixed, all-cold, all-hot
            routed = featurize_hybrid(
                t, hot_threshold=thr, chunk_size=256, gap_s=gap_s
            ).toPandas()
            _cmp(plain, routed)


def test_single_pass_scans_input_once(spark):
    """The salted plan reads the full-width input ONCE (plus the
    column-pruned scans for the hot dim and the chunk sums), and its
    exchange, sort and Window counts cannot grow silently."""
    from uncharted_ta1_pipeline_spark.operators.salt import featurize_hybrid
    from uncharted_ta1_pipeline_spark.sources.transcripts import load_transcripts

    t = load_transcripts(spark, SF_SMOKE)
    plan = featurize_hybrid(t, hot_threshold=0)._jdf.queryExecution().executedPlan().toString()
    # transcripts derive text from events.props (sources/transcripts.py), so a
    # full-width scan is one whose parquet ReadSchema includes props; column
    # pruning must confine props to exactly ONE scan (the offsets branch and
    # the hot dim re-scan only narrow columns)
    scans = [l for l in plan.splitlines() if "Scan parquet" in l]
    n_wide = sum(1 for l in scans if "props" in l)
    assert n_wide == 1, f"expected 1 full-width scan, saw {n_wide}:\n" + "\n".join(scans)
    # the feature windows run featurize's builders over (conv_id, chunk):
    # measured 8 exchanges, 9 sorts and 10 Window operators.  More means a
    # builder stopped sharing the chunk partitioning or ordering.
    n_exchanges = plan.count("Exchange hashpartitioning")
    n_sorts = len(re.findall(r"\bSort \[", plan))
    n_windows = len(re.findall(r"\bWindow \[", plan))
    assert n_exchanges <= 8, f"exchanges: {n_exchanges}\n{plan[:3000]}"
    assert n_sorts <= 9, f"sorts: {n_sorts}\n{plan[:3000]}"
    assert n_windows <= 10, f"window operators: {n_windows}\n{plan[:3000]}"


def test_chunk_size_guard(spark):
    """chunk_size <= rolling_width would silently corrupt boundary frames;
    it must raise instead — even on input with no hot conversation."""
    from uncharted_ta1_pipeline_spark.operators.salt import featurize_hybrid
    from uncharted_ta1_pipeline_spark.sources.transcripts import load_transcripts

    t = load_transcripts(spark, SF_SMOKE)
    with pytest.raises(ValueError, match="chunk_size"):
        featurize_hybrid(t, chunk_size=5, rolling_width=5)


def test_ingest_invariant_turn_idx_unique(spark):
    """The first-use equality-to-min flag (salt.py) relies on (ts, turn_idx)
    being unique per conversation; turn_idx alone is the dense 0-based
    stable order, so uniqueness must hold on every ingest path.  Pins the
    invariant the operator documents (ADVICE r3)."""
    import pyspark.sql.functions as F

    from uncharted_ta1_pipeline_spark.sources.transcripts import (
        load_transcripts,
        synth_transcripts,
    )

    for t in (
        load_transcripts(spark, SF_SMOKE),
        synth_transcripts(spark, n_convs=10, mean_turns=30, hot_convs=1,
                          hot_turns=500, seed=3),
    ):
        dupes = (
            t.groupBy("conv_id", "turn_idx")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
        )
        assert dupes.isEmpty(), dupes.limit(5).toPandas()
