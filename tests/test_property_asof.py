"""Property-based checks (hypothesis) for the as-of core: on arbitrary
small inputs, asof_join must equal a brute-force pandas reference, and
fit_predict_at_probes must equal a numpy OLS fit on the strictly-past
observation set.  One Spark round-trip per example, so examples are few
but adversarial (duplicate timestamps, unordered input, ties)."""

from __future__ import annotations

from datetime import datetime, timedelta

import numpy as np
import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

BASE_US = 1_700_000_000_000_000
_EPOCH = datetime(1970, 1, 1)


def _ts(us: int) -> datetime:
    return _EPOCH + timedelta(microseconds=us)


def _us(dt: datetime) -> int:
    return (dt - _EPOCH) // timedelta(microseconds=1)

# a conversation: list of (ts_offset_us, signal_centi) with possible ts ties
conv_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=500_000_000),  # <= ~8 min span
        st.integers(min_value=-5000, max_value=15000),
    ),
    min_size=1,
    max_size=12,
)
probe_offset = st.integers(min_value=-60_000_000, max_value=560_000_000)
probe_strategy = st.lists(probe_offset, min_size=1, max_size=6)

# offsets of the first two 60 s and 3600 s bucket edges after BASE_US and
# their 1 us neighbours: a small shared pool, so state rows, views and
# probes land on equal timestamps and on both sides of bucket boundaries
_EDGE_OFFSETS = sorted(
    {
        -BASE_US % (b * 1_000_000) + k * b * 1_000_000 + d
        for b in (60, 3600)
        for k in (0, 1)
        for d in (-1, 0, 1)
    }
)
tick_strategy = st.one_of(
    st.integers(min_value=0, max_value=500_000_000), st.sampled_from(_EDGE_OFFSETS)
)
edge_conv_strategy = st.lists(
    st.tuples(tick_strategy, st.integers(min_value=-5000, max_value=15000)),
    min_size=1,
    max_size=12,
)
edge_probe_strategy = st.lists(
    st.one_of(probe_offset, st.sampled_from(_EDGE_OFFSETS)), min_size=1, max_size=6
)
bucket_strategy = st.sampled_from([None, 60, 3600])  # None: the plain path


def _mk_frames(spark, conv, probes):
    rows = [
        (
            "c0",
            i,
            "user",
            f"t{i}",
            None,
            _ts(BASE_US + off),
            yc / 100.0,
        )
        for i, (off, yc) in enumerate(sorted(conv))
    ]
    obs = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, signal double",
    )
    prows = [
        (f"p{j}", "c0", _ts(BASE_US + off)) for j, off in enumerate(probes)
    ]
    pr = spark.createDataFrame(prows, "probe_id string, conv_id string, probe_ts timestamp")
    return obs, pr, rows, prows


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(conv=edge_conv_strategy, probes=edge_probe_strategy, bucket=bucket_strategy)
def test_asof_join_matches_bruteforce(spark, conv, probes, bucket):
    from uncharted_ta1_pipeline_spark.operators.asof import (
        asof_join,
        asof_join_bucketed,
    )

    obs, pr, rows, prows = _mk_frames(spark, conv, probes)
    if bucket is None:
        joined = asof_join(pr, obs, state_cols=["turn_idx"], state_tiebreak="turn_idx")
    else:
        joined = asof_join_bucketed(
            pr, obs, state_cols=["turn_idx"], state_tiebreak="turn_idx", bucket_s=bucket
        )
    got = {r.probe_id: r.turn_idx for r in joined.collect()}
    for pid, _, pts in prows:
        past = [r for r in rows if r[5] <= pts]
        want = max(past, key=lambda r: (r[5], r[1]))[1] if past else None
        assert got[pid] == want, (pid, got[pid], want)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(conv=conv_strategy, probes=probe_strategy)
def test_fit_predict_matches_numpy_ols(spark, conv, probes):
    from uncharted_ta1_pipeline_spark.operators.asof import fit_predict_at_probes

    obs, pr, rows, prows = _mk_frames(spark, conv, probes)
    got = {r.probe_id: r for r in fit_predict_at_probes(pr, obs).collect()}
    first_us = min(_us(r[5]) for r in rows)
    for pid, _, pts in prows:
        past = [r for r in rows if r[5] <= pts]
        g = got[pid]
        if not past:
            assert g.pred is None and g.n_obs is None
            continue
        x = np.array([(_us(r[5]) - first_us) // 1_000_000 for r in past],
                     dtype=np.int64)
        yc = np.array([int(np.floor(r[6] * 100 + 0.5)) for r in past], dtype=np.int64)
        n = len(x)
        assert g.n_obs == n
        denom = float(n) * float((x * x).sum()) - float(x.sum()) ** 2
        xp = (_us(pts) - first_us) // 1_000_000
        if n >= 2 and denom > 0:
            m = (float(n) * float((x * yc).sum()) - float(x.sum()) * float(yc.sum())) / denom
            b = (float(yc.sum()) - m * float(x.sum())) / float(n)
            want = (b + m * xp) / 100
        else:
            want = yc.sum() / n / 100
        assert g.pred is not None and abs(g.pred - want) < 1.5e-6, (
            pid, g.pred, want,
        )


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    conv=conv_strategy,
    probes=probe_strategy,
    chunk=st.sampled_from([2, 3, 5]),
    bucket=st.sampled_from([60, 3600]),
)
def test_fit_predict_bucketed_equals_plain_property(spark, conv, probes, chunk, bucket):
    """On arbitrary adversarial tiny inputs (ts ties, unordered, probes
    before first obs) the bucketed fit-predict strategy is bit-equal to the
    plain one at every chunk/bucket granularity."""
    from uncharted_ta1_pipeline_spark.operators.asof import fit_predict_at_probes

    obs, pr, _rows, _prows = _mk_frames(spark, conv, probes)
    plain = {r.probe_id: r for r in fit_predict_at_probes(pr, obs).collect()}
    bucketed = {
        r.probe_id: r
        for r in fit_predict_at_probes(
            pr, obs, strategy="bucketed", chunk_size=chunk, bucket_s=bucket
        ).collect()
    }
    assert plain.keys() == bucketed.keys()
    for pid in plain:
        a, b = plain[pid], bucketed[pid]
        assert (a.n_obs, a.slope, a.intercept, a.pred) == (
            b.n_obs, b.slope, b.intercept, b.pred,
        ), (pid, a, b)


# --- training_set (multi-view point-in-time join) vs brute force ----------

view_strategy = st.lists(
    st.tuples(
        tick_strategy,                         # event ts offset
        st.integers(min_value=0, max_value=9),  # payload token
    ),
    min_size=0,
    max_size=8,
)


@given(
    view_a=view_strategy,
    view_b=view_strategy,
    probes=edge_probe_strategy,
    bucket=bucket_strategy,
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_training_set_matches_bruteforce(spark, view_a, view_b, probes, bucket):
    """Every probe must pick up, per view, the payload of the latest event
    with ts <= probe_ts (ties broken by the later turn_idx), and the audit
    must equal the max matched event time — checked against a brute-force
    python scan, on the plain path and at two bucket widths."""
    from uncharted_ta1_pipeline_spark.operators.feature_store import training_set

    def mk_view(name, rows):
        data = [
            ("c1", _ts(BASE_US + off), i, f"{name}{tok}")
            for i, (off, tok) in enumerate(rows)
        ]
        return spark.createDataFrame(
            data, f"conv_id string, ts timestamp, turn_idx int, {name}_val string"
        )

    labels = spark.createDataFrame(
        [("p%d" % i, "c1", _ts(BASE_US + off)) for i, off in enumerate(probes)],
        "probe_id string, conv_id string, label_ts timestamp",
    )
    out = training_set(
        labels,
        [
            ("a", mk_view("a", view_a), "ts", ["a_val"]),
            ("b", mk_view("b", view_b), "ts", ["b_val"]),
        ],
        label_ts="label_ts",
        strategy="plain" if bucket is None else "bucketed",
        bucket_s=bucket or 86_400,
    ).collect()
    got = {r.probe_id: r for r in out}
    assert len(got) == len(probes)

    def brute(rows, name, probe_us):
        best = None
        for i, (off, tok) in enumerate(rows):
            ts = BASE_US + off
            if ts <= probe_us and (
                best is None or (ts, i) > (best[0], best[1])
            ):
                best = (ts, i, f"{name}{tok}")
        return best

    for i, off in enumerate(probes):
        probe_us = BASE_US + off
        r = got["p%d" % i]
        ba = brute(view_a, "a", probe_us)
        bb = brute(view_b, "b", probe_us)
        assert r.a_val == (ba[2] if ba else None)
        assert r.b_val == (bb[2] if bb else None)
        want_max = max(
            [x[0] for x in (ba, bb) if x is not None], default=None
        )
        assert r.max_feature_ts_us == want_max
        assert r.leak_ok is True


class _TieAdversarialF:
    """``pyspark.sql.functions`` with one change: ``max_by`` resolves ties
    in its ordering toward a row whose value is NULL.

    Spark does not specify which of several rows with an equal ordering
    ``max_by`` returns; in practice it keeps the last one it reads, and
    the last row of a bucket carries every view's state, which hides any
    tie between views.  The kernel's bucket close must not depend on that
    choice: ``(ts, tag, tiebreak)`` is a total order across views, so the
    close's maximum is one row.  Patched into ``operators.asof``, this
    makes a tie between two views' rows pick the row whose carry of the
    other view is still NULL."""

    def __getattr__(self, name):
        return getattr(F, name)

    @staticmethod
    def max_by(col, ordering):
        return F.max_by(col, F.struct(ordering, F.isnull(col)))


@pytest.mark.parametrize("bucket", [60, 3600])
@pytest.mark.parametrize("a_first", [True, False], ids=["ab", "ba"])
def test_training_set_close_ignores_tie_order(spark, monkeypatch, bucket, a_first):
    """Views a and b each hold one event at the same ts and turn_idx, one
    bucket before the probe: each view's value must reach the probe
    through the bucket close, whichever tied row ``max_by`` keeps.  Fails
    if the views share a tag."""
    from uncharted_ta1_pipeline_spark.operators import asof
    from uncharted_ta1_pipeline_spark.operators.feature_store import training_set

    monkeypatch.setattr(asof, "F", _TieAdversarialF())
    event = _ts(BASE_US)
    views = {
        name: spark.createDataFrame(
            [("c1", event, 0, f"{name}0")],
            f"conv_id string, ts timestamp, turn_idx int, {name}_val string",
        )
        for name in "ab"
    }
    order = "ab" if a_first else "ba"
    labels = spark.createDataFrame(
        [("p0", "c1", _ts(BASE_US + 2 * bucket * 1_000_000))],
        "probe_id string, conv_id string, label_ts timestamp",
    )
    (row,) = training_set(
        labels,
        [(n, views[n], "ts", [f"{n}_val"]) for n in order],
        label_ts="label_ts",
        strategy="bucketed",
        bucket_s=bucket,
    ).collect()
    assert (row.a_val, row.b_val) == ("a0", "b0")
    assert row.max_feature_ts_us == BASE_US
