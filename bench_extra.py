"""Extra benchmarks for the optimization round (bench.py is FROZEN for
measurement; this file carries the noop-sink isolation runs of guide §1.4
and the .explain("formatted") captures the plan audit cites).

Usage:
    python bench_extra.py --queries q_span_dedup,q_semdedup --sf-dir /root/testdata/sf1.0
    python bench_extra.py --all --runs 1 --warmup 1
    python bench_extra.py --queries q_span_dedup --explain-dir plans/r06 --suffix before

Names accept either the bench key (``q_span_dedup``) or the registry name
(``span_dedup``); ``featurize_full``/``asof_bucketed``/``session_stats``
time the same composite frames bench.py does.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import materialize  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0"))
    ap.add_argument("--queries", default="")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--warmup", type=int, default=1)
    ap.add_argument("--explain-dir", default="")
    ap.add_argument("--suffix", default="", help="explain file suffix, e.g. before/after")
    ap.add_argument("--out", default="")
    args = ap.parse_args()

    import pyspark.sql.functions as F  # noqa: F401

    from uncharted_ta1_pipeline_spark.plans.queries import QUERIES
    from uncharted_ta1_pipeline_spark.plans.queries_docs import QUERIES_DOCS
    from uncharted_ta1_pipeline_spark.plans.queries_ops import QUERIES_OPS
    from uncharted_ta1_pipeline_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    shuffle = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "0")) or max(int(cpus) * 2, 8)
    spark = get_spark(master=master, shuffle_partitions=shuffle)

    registry = {**QUERIES, **QUERIES_OPS, **QUERIES_DOCS}
    wanted = []
    if args.all:
        wanted = [f"q_{n}" for n in registry]
    else:
        for raw in args.queries.split(","):
            raw = raw.strip()
            if not raw:
                continue
            wanted.append(raw if raw.startswith("q_") else f"q_{raw}")

    timings: dict[str, float] = {}
    for qname in wanted:
        name = qname[2:]
        if name not in registry:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        df = registry[name](spark, args.sf_dir)
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            sfx = f"_{args.suffix}" if args.suffix else ""
            path = os.path.join(args.explain_dir, f"{name}{sfx}.txt")
            with open(path, "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        spark.sparkContext.setJobDescription(qname)
        timings[qname] = round(materialize(df, args.warmup, args.runs), 3)
        spark.sparkContext.setJobDescription(None)
        print(f"{qname}: {timings[qname]}", file=sys.stderr)

    result = {"sf": args.sf_dir, "cpus": int(cpus),
              "runs": args.runs, "warmup": args.warmup, "queries": timings,
              "total_sec": round(sum(timings.values()), 2)}
    line = json.dumps(result)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
