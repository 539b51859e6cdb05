"""Physical-strategy equivalence: the bucketed (explicitly salted) as-of
join must equal the plain union-window as-of join frame-for-frame — with a
bucket small enough (1h) that many buckets contain only probes and the
cross-bucket carry is exercised hard."""

from __future__ import annotations

import pandas as pd
import pytest

from tests.conftest import SF_CORRECT


def test_bucketed_asof_equals_plain(spark):
    from uncharted_ta1_pipeline_spark.operators.asof import (
        asof_join,
        asof_join_bucketed,
    )
    from uncharted_ta1_pipeline_spark.plans.queries import asof_state
    from uncharted_ta1_pipeline_spark.sources.transcripts import (
        load_transcripts,
        make_probes,
    )

    t = load_transcripts(spark, SF_CORRECT)
    probes, state = make_probes(t), asof_state(t)
    cols = ["turn_idx", "last_role", "turns_incl", "tools_incl", "last_session_id"]
    plain = asof_join(probes, state, state_cols=cols).toPandas()
    bucketed = asof_join_bucketed(
        probes, state, state_cols=cols, bucket_s=3600
    ).toPandas()
    key = ["probe_id"]
    a = plain.sort_values(key).reset_index(drop=True)
    b = bucketed.sort_values(key).reset_index(drop=True)[a.columns]
    pd.testing.assert_frame_equal(a, b, check_like=True)


def test_bucketed_fit_predict_equals_plain(spark):
    """fit_predict_at_probes(strategy='bucketed') — chunk-bounded
    sufficient statistics + time-bucketed as-of — must equal the plain
    whole-key-window path frame-for-frame, with chunk/bucket sizes small
    enough that every conversation spans many chunks AND many time buckets
    (cross-chunk offset carry and cross-bucket state carry both exercised)."""
    from uncharted_ta1_pipeline_spark.operators.asof import fit_predict_at_probes
    from uncharted_ta1_pipeline_spark.sources.transcripts import (
        load_transcripts,
        make_probes,
    )

    t = load_transcripts(spark, SF_CORRECT)
    probes = make_probes(t)
    plain = fit_predict_at_probes(probes, t).toPandas()
    bucketed = fit_predict_at_probes(
        probes, t, strategy="bucketed", chunk_size=7, bucket_s=3600
    ).toPandas()
    a = plain.sort_values("probe_id").reset_index(drop=True)
    b = bucketed.sort_values("probe_id").reset_index(drop=True)[a.columns]
    pd.testing.assert_frame_equal(a, b, check_like=True)


@pytest.mark.parametrize(
    "query", ["asof_fit_predict_bucketed", "training_set_bucketed"]
)
def test_bucketed_fit_predict_no_whole_key_window(spark, query):
    """The scale property itself: every window in a bucketed plan is
    partitioned by (key, chunk) or (key, bucket) or runs over one-row-per-
    chunk streams — no windowspecdefinition partitioned by the key alone
    over the full stream.  (The plain twins have six and two; VERDICT r3
    #3.)  The key is ``conv_id`` in the regression state and ``_k`` in
    the as-of kernel."""
    import re

    from uncharted_ta1_pipeline_spark.plans.queries import QUERIES

    df = QUERIES[query](spark, SF_CORRECT)
    plan = df._jdf.queryExecution().optimizedPlan().toString()

    # windows partitioned by the key ALONE (whole-key): allowed only for
    # the tiny per-chunk / per-bucket chained streams, which operate on
    # one-row-per-chunk aggregates; those partition by the key and order
    # by _bchunk/_bkt.  A whole-key window over the raw stream orders by
    # ts/turn_idx — assert none exists.  The ingest's turn numbering
    # (load_transcripts, ordered by ts, event_id) is the source's window,
    # below the operator under test, and is not counted.
    bad = [
        m for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan)
        if re.search(r"\b(conv_id|_k)#", m.group(1))
        and "_bchunk" not in m.group(1)
        and "_bkt" not in m.group(1)
        and "event_id" not in m.group(1)
        and ("ts" in m.group(1) or "turn_idx" in m.group(1))
    ]
    assert not bad, [m.group(0) for m in bad]


def test_regression_state_decimal38_equals_long(spark):
    """stat_type='decimal38' widens the sufficient-statistic accumulators
    without changing a single value (cast back to long at test scale) —
    on BOTH physical strategies."""
    import pyspark.sql.functions as F

    from uncharted_ta1_pipeline_spark.operators.asof import (
        regression_state,
        regression_state_bucketed,
    )
    from uncharted_ta1_pipeline_spark.sources.transcripts import load_transcripts

    t = load_transcripts(spark, SF_CORRECT)
    stats = ["sx", "sy", "sxy", "sxx"]

    def norm(df):
        out = df.select(
            "conv_id", "turn_idx", "first_us", "n_obs",
            *[F.col(c).cast("long").alias(c) for c in stats],
        ).toPandas()
        return out.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)

    base = norm(regression_state(t))
    pd.testing.assert_frame_equal(base, norm(regression_state(t, stat_type="decimal38")))
    pd.testing.assert_frame_equal(
        base, norm(regression_state_bucketed(t, chunk_size=7, stat_type="decimal38"))
    )


def test_regression_state_decimal38_survives_int64_overflow(spark):
    """The 10^12-turn design-point guard is ENFORCED, not documented: with
    x spanning 1e10 seconds, sxx = 1e20 > 2^63-1 would wrap an int64
    accumulator; decimal(38,0) carries it exactly."""
    from datetime import datetime, timedelta, timezone
    from decimal import Decimal

    from uncharted_ta1_pipeline_spark.operators.asof import (
        regression_state,
        regression_state_bucketed,
    )

    t0 = datetime(1970, 1, 3, tzinfo=timezone.utc)
    rows = [
        ("c", 0, t0, 1.0),
        ("c", 1, t0 + timedelta(seconds=10_000_000_000), 2.0),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp, signal double")
    want_sxx = Decimal(10_000_000_000) ** 2
    for state in (
        regression_state(df, stat_type="decimal38"),
        regression_state_bucketed(df, chunk_size=1, stat_type="decimal38"),
    ):
        last = state.orderBy("turn_idx").collect()[-1]
        assert last["sxx"] == want_sxx, last["sxx"]
        assert last["sxy"] == Decimal(10_000_000_000) * 200, last["sxy"]
