"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship end-to-end feature materialization at sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2).
``oracle_sql()`` — DuckDB twins, run by the driver at sf0.01.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: full leakage-free per-turn feature materialization
    (sessionize + lag/lead + cumulative + rolling + ffill) at sf0.001."""
    import pyspark.sql.functions as F

    from uncharted_ta1_pipeline_spark.operators.salt import featurize_hybrid
    from uncharted_ta1_pipeline_spark.sources.transcripts import load_transcripts

    t = load_transcripts(spark, "/root/testdata/sf0.001")
    out = featurize_hybrid(t)
    return out.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.unix_micros("ts").alias("ts_us"),
        "session_id",
        "prev_role",
        "next_role",
        "role_transition",
        "secs_since_prev",
        "turns_so_far",
        "tools_so_far",
        "distinct_tools_so_far",
        "rolling_turns_5",
        "rolling_tools_5",
        "rolling_signal_mean_5",
        "ffill_tool",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from uncharted_ta1_pipeline_spark.plans.queries import QUERIES
    from uncharted_ta1_pipeline_spark.plans.queries_docs import QUERIES_DOCS
    from uncharted_ta1_pipeline_spark.plans.queries_ops import QUERIES_OPS

    return {**QUERIES, **QUERIES_OPS, **QUERIES_DOCS}


def oracle_sql() -> dict[str, str]:
    from uncharted_ta1_pipeline_spark.plans.oracles import ORACLES
    from uncharted_ta1_pipeline_spark.plans.oracles_docs import ORACLES_DOCS
    from uncharted_ta1_pipeline_spark.plans.oracles_ops import ORACLES_OPS

    return {**ORACLES, **ORACLES_OPS, **ORACLES_DOCS}
