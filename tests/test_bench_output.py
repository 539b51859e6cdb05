"""Guard the bench JSON contract: the driver tail-captures only the last
~2000 chars of stdout, so the single line bench.py prints must ALWAYS fit
(this is exactly how the r3 headline metric was lost — VERDICT r3 §wrong-1).
No Spark needed; this pins the serialization logic alone.
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import compact_result  # noqa: E402


def _result(n_queries: int) -> dict:
    return {
        "metric": "turns_per_sec_featurize",
        "value": 123456.7,
        "unit": "turns/sec",
        "total_sec": 99.99,
        "queries": {
            f"q_some_rather_long_query_name_{i:03d}": round(0.001 * i, 3)
            for i in range(n_queries)
        },
        "sf": "/root/testdata/sf0.1",
        "n_turns": 6_000_000,
        "cpus": 32,
        "queries_file": "BENCH/bench_full_latest.json",
    }


def test_line_fits_budget_at_any_query_count():
    for n in (0, 5, 73, 200, 1000):
        line = compact_result(_result(n))
        assert len(line) <= 1800, (n, len(line))
        parsed = json.loads(line)
        assert parsed["metric"] == "turns_per_sec_featurize"
        assert parsed["value"] == 123456.7
        assert parsed["queries_total"] == n


def test_truncation_keeps_slowest_queries():
    parsed = json.loads(compact_result(_result(1000)))
    kept = parsed["queries"]
    assert 0 < len(kept) < 1000
    # slowest-first: the globally slowest query must survive truncation
    assert "q_some_rather_long_query_name_999" in kept


def test_small_result_is_untruncated():
    parsed = json.loads(compact_result(_result(10)))
    assert len(parsed["queries"]) == 10
