"""Property-based check (hypothesis) of the full per-turn feature stage:
every column ``featurize`` adds must equal a brute-force pandas/python
reference that walks each conversation in (ts, turn_idx) order, on the
plain path and on the salted path forced over every conversation.

The reference is independent of both Spark paths, so a defect shared by
``featurize`` and ``featurize_hybrid`` (which the benchmark's own check,
one path against the other, cannot see) still fails here.  Inputs are
adversarial: equal timestamps, NULL and '' tools, gaps of exactly
``gap_s`` and ``gap_s`` +/- 1 us, and one-turn conversations."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

BASE_US = 1_700_000_000_000_000
_EPOCH = datetime(1970, 1, 1)
WIDTH = 5
TOOLS = [None, "", "search", "bash", "read"]
ROLES = ["user", "assistant", "tool"]


@st.composite
def transcripts(draw):
    """(gap_s, rows): 1-4 conversations of 1-20 turns.  turn_idx is the
    dense 0-based (ts, turn_idx) order, the ingest invariant the salted
    path requires; ties on ts are broken by turn_idx."""
    gap_s = draw(st.sampled_from([60, 1800]))
    g = gap_s * 1_000_000
    step = st.one_of(st.sampled_from([0, g - 1, g, g + 1]), st.integers(1, 3 * g))
    rows = []
    for c in range(draw(st.integers(1, 4))):
        n = draw(st.integers(1, 20))
        us = BASE_US + draw(st.integers(0, 10 * g))
        for i in range(n):
            if i:
                us += draw(step)
            rows.append(
                (
                    f"c{c}",
                    i,
                    draw(st.sampled_from(ROLES)),
                    f"t{i}",
                    draw(st.sampled_from(TOOLS)),
                    us,
                    draw(st.integers(-5000, 15000)) / 100.0,
                )
            )
    return gap_s, rows


def _reference(rows, gap_s):
    """Feature columns per (conv_id, turn_idx), computed row by row."""
    by_conv: dict[str, list] = {}
    for r in rows:
        by_conv.setdefault(r[0], []).append(r)
    out = {}
    for conv in by_conv.values():
        conv.sort(key=lambda r: (r[5], r[1]))
        session = -1
        for i, (cid, idx, role, _, tool, us, _) in enumerate(conv):
            past = conv[:i]
            prev = conv[i - 1] if i else None
            used = [p[4] for p in past if p[4]]
            window = conv[max(0, i - WIDTH) : i]
            total = 0.0
            for p in window:
                total += p[6]
            if prev is None or us - prev[5] > gap_s * 1_000_000:
                session += 1
            out[(cid, idx)] = {
                "prev_role": prev[2] if prev else None,
                "next_role": conv[i + 1][2] if i + 1 < len(conv) else None,
                "prev_tool": prev[4] if prev else None,
                "role_transition": f"{prev[2] if prev else 'START'}->{role}",
                "secs_since_prev": round((us - prev[5]) / 1e6, 6) if prev else None,
                "turns_so_far": i,
                "tools_so_far": len(used),
                "distinct_tools_so_far": len(set(used)),
                f"rolling_turns_{WIDTH}": len(window),
                f"rolling_tools_{WIDTH}": sum(1 for p in window if p[4]),
                f"rolling_signal_mean_{WIDTH}": (
                    round(total / len(window), 6) if window else None
                ),
                "ffill_tool": used[-1] if used else None,
                "session_id": session,
            }
    return out


# chunk_size None is the plain path.  6 is ``WIDTH + 1``, the smallest chunk
# the salted path accepts: its tail carries fill all but one row of a chunk.
@pytest.mark.parametrize(
    "chunk_size", [None, 8, 6], ids=["plain", "salted", "salted-chunk6"]
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(data=transcripts())
def test_featurize_matches_bruteforce(spark, chunk_size, data):
    from uncharted_ta1_pipeline_spark.operators.salt import featurize_hybrid
    from uncharted_ta1_pipeline_spark.operators.windows import featurize

    gap_s, rows = data
    df = spark.createDataFrame(
        [r[:5] + (_EPOCH + timedelta(microseconds=r[5]), r[6]) for r in reversed(rows)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, signal double",
    )
    out = (
        featurize_hybrid(df, hot_threshold=0, chunk_size=chunk_size, gap_s=gap_s)
        if chunk_size
        else featurize(df, gap_s=gap_s)
    )
    want = _reference(rows, gap_s)
    features = list(next(iter(want.values())))
    assert out.columns == df.columns + features
    got = {(r.conv_id, r.turn_idx): r.asDict() for r in out.collect()}
    assert got.keys() == want.keys()
    for key, cols in want.items():
        assert {c: got[key][c] for c in features} == cols, key
