"""Benchmark harness — prints ONE SHORT JSON line (the driver tail-captures
only the last ~2000 chars of stdout, which is how the r3 headline was lost:
73 per-query timings pushed the line past the buffer and ``parsed`` came back
null).  The full per-query timing dict is written to
``BENCH/bench_full_latest.json``; the printed line keeps the headline metric
plus the slowest queries that fit a hard 1800-byte budget (see
``compact_result``, pinned by ``tests/test_bench_output.py``).

Headline queries at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``.  The primary metric is end-to-end feature
materialization throughput (turns/sec), per BASELINE.json.

Each query is materialized via the noop sink (full execution, no collect
bottleneck, no disk write skew).

Usage:
    python bench.py                 # driver per-round bench
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def materialize(df, warmup: int = 2, runs: int = 3) -> float:
    """Time a full materialization via the noop sink: min over ``runs``
    after ``warmup`` unmeasured executions.

    The first executions of a plan in a fresh JVM are dominated by
    C2-compiling the generated whole-stage code (tens of seconds, flat,
    independent of data size or core count) — real clusters amortize that
    over long jobs, so steady-state is what we report.
    """
    for _ in range(warmup):
        df.write.format("noop").mode("overwrite").save()
    best = float("inf")
    for _ in range(runs):
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.time() - t0)
    return best


def compact_result(result: dict, budget: int = 1800) -> str:
    """Serialize ``result`` to one JSON line guaranteed ≤ ``budget`` bytes.

    Queries are ordered slowest-first and dropped from the tail until the
    line fits; ``queries_total`` always records how many were timed and
    ``queries_file`` points at the full dict on disk, so truncation is
    explicit rather than silent.
    """
    ordered = sorted(
        result.get("queries", {}).items(), key=lambda kv: -kv[1]
    )
    out = dict(result)
    out["queries_total"] = len(ordered)
    keep = len(ordered)
    while keep >= 0:
        out["queries"] = dict(ordered[:keep])
        line = json.dumps(out)
        if len(line) <= budget:
            return line
        keep -= max(1, keep // 10)
    # headline alone should always fit; last resort strips queries entirely
    out["queries"] = {}
    return json.dumps(out)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=0,
                    help="override measured runs per query (0 = default)")
    args = ap.parse_args()

    import pyspark.sql.functions as F  # noqa: F401

    from uncharted_ta1_pipeline_spark.operators.asof import asof_join_bucketed
    from uncharted_ta1_pipeline_spark.operators.salt import featurize_hybrid
    from uncharted_ta1_pipeline_spark.operators.sessionize import session_stats
    from uncharted_ta1_pipeline_spark.plans.queries import QUERIES
    from uncharted_ta1_pipeline_spark.plans.queries_docs import QUERIES_DOCS
    from uncharted_ta1_pipeline_spark.plans.queries_ops import QUERIES_OPS
    from uncharted_ta1_pipeline_spark.session import get_spark
    from uncharted_ta1_pipeline_spark.sources.transcripts import (
        load_transcripts,
        make_probes,
    )

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # SPARK_GRAFT_MASTER overrides (e.g. local-cluster[4,4,8192] for a true
    # multi-executor run; set SPARK_GRAFT_CPUS to the TOTAL core count so
    # shuffle partitioning matches).  session.py resolves the env var.
    master = os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    shuffle = int(
        os.environ.get("SPARK_GRAFT_SHUFFLE", "0")
    ) or max(int(cpus) * 2, 8)
    spark = get_spark(master=master, shuffle_partitions=shuffle)

    t = load_transcripts(spark, args.sf_dir)
    n_turns = t.count()

    timings: dict[str, float] = {}

    # headline: full leakage-free feature materialization (hybrid physical
    # strategy — hot conversations take the salted/chunked path)
    feats = featurize_hybrid(t)
    timings["featurize_full"] = materialize(feats, runs=args.runs or 3)

    # as-of join (salted/bucketed scale path); state derived from the
    # same salted feature pass
    probes = make_probes(t)
    used = F.col("tool").isNotNull() & (F.col("tool") != "")
    state = feats.select(
        "conv_id",
        "ts",
        "turn_idx",
        F.col("role").alias("last_role"),
        (F.col("turns_so_far") + 1).cast("long").alias("turns_incl"),
        (F.col("tools_so_far") + used.cast("long")).alias("tools_incl"),
        F.col("session_id").alias("last_session_id"),
    )
    timings["asof_bucketed"] = materialize(
        asof_join_bucketed(probes, state, state_cols=[
            "turn_idx", "last_role", "turns_incl", "tools_incl",
            "last_session_id"])
    )
    timings["session_stats"] = materialize(session_stats(t))
    for name, fn in QUERIES.items():
        if name == "featurize_full":
            continue  # already the headline timing above
        timings[f"q_{name}"] = materialize(fn(spark, args.sf_dir))
    # full operator surface, one timed run each (coverage over precision)
    for name, fn in {**QUERIES_OPS, **QUERIES_DOCS}.items():
        timings[f"q_{name}"] = materialize(
            fn(spark, args.sf_dir), warmup=1, runs=1
        )

    total = sum(timings.values())
    result = {
        "metric": "turns_per_sec_featurize",
        "value": round(n_turns / timings["featurize_full"], 1),
        "unit": "turns/sec",
        "total_sec": round(total, 2),
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "sf": args.sf_dir,
        "n_turns": n_turns,
        "cpus": int(cpus),
    }
    spark.stop()
    # full record to disk (committed with the repo), short line to stdout —
    # the driver's 2000-char tail capture must contain the whole line.
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "BENCH", "bench_full_latest.json")
    try:
        with open(full_path, "w") as f:
            json.dump(result, f, indent=1)
        result["queries_file"] = "BENCH/bench_full_latest.json"
    except OSError:
        pass
    print(compact_result(result))


if __name__ == "__main__":
    main()
