"""Typed terminal outputs — the reference's OutputCreator surface
(SURVEY.md §2.1) re-expressed as Spark terminal projections + writers.

The reference models every pipeline product as one of nine ``Output``
kinds (/root/reference/tasks/common/pipeline.py:48-135: TabularOutput,
ObjectOutput, ImageOutput, ImageDictOutput, ListOutput, BytesOutput,
BaseModelOutput, BaseModelListOutput, EmptyOutput) produced by per-pipeline
``OutputCreator``s (pipelines/geo_referencing/output.py:87-343).  Spark-first
each kind is a TERMINAL PROJECTION — a declared column set and shape the
writer can rely on — not a Python object:

| reference kind        | here                                            |
|-----------------------|-------------------------------------------------|
| TabularOutput         | ordered ``select`` of declared fields           |
| ObjectOutput          | non-key columns nested into a struct + to_json  |
| ListOutput            | per-key ordered ``collect_list``                |
| ImageOutput/ImageDict | not reproduced (no media inputs)                |
| BytesOutput           | binary payload + content sha / length           |
| BaseModelOutput       | nested struct record + schema_version           |
| BaseModelListOutput   | per-key ``collect_list`` of structs             |
| EmptyOutput           | empty DataFrame with the declared schema        |

Everything is pure Catalyst (codegen; no UDFs), so creators compose with
any upstream operator and Spark prunes unused columns through them.

Two reference creators are materialized as oracle-checked queries:
``scoring_output`` (ScoringOutput, output.py:87-147: per-query-point
tabular, base + extended error/confidence field set) and
``summary_output`` (SummaryOutput, output.py:150-225: one row per map with
per-source contribution strings + rmse + confidence).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from uncharted_ta1_pipeline_spark.operators.aggregates import (
    confidence_product,
    rmse_score,
    source_histogram,
)

SCHEMA_VERSION = "1.0"


# ---------------------------------------------------------------------------
# the nine output kinds
# ---------------------------------------------------------------------------
def tabular_output(
    df: DataFrame, fields: list[str], pipeline_id: str = "", pipeline_name: str = ""
) -> DataFrame:
    """TabularOutput: the declared fields in declared order, tagged with the
    producing pipeline (pipeline.py:57-66)."""
    return df.select(
        F.lit(pipeline_id).alias("pipeline_id"),
        F.lit(pipeline_name).alias("pipeline_name"),
        *fields,
    )


def object_output(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """ObjectOutput: every non-key column nested into one struct, serialized
    to a JSON document per row (pipeline.py:67-73 — the blackboard dict)."""
    value_cols = [c for c in df.columns if c not in key_cols]
    return df.select(
        *key_cols,
        F.to_json(F.struct(*[F.col(c) for c in value_cols])).alias("object_json"),
    )


def list_output(
    df: DataFrame, key: str, order_cols: list[str], value_col: str
) -> DataFrame:
    """ListOutput: per-key list in a deterministic order (pipeline.py:91-97).
    sort_array over (order, value) structs keeps the op partial-aggregable —
    no window, one shuffle on the key."""
    return (
        df.groupBy(key)
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(*[F.col(c) for c in order_cols], F.col(value_col))
                )
            ).alias("_sorted")
        )
        .select(
            key, F.col(f"_sorted.{value_col}").alias(f"{value_col}_list")
        )
    )


def bytes_output(df: DataFrame, payload_col: str, key_cols: list[str]) -> DataFrame:
    """BytesOutput: opaque binary payload + integrity metadata
    (pipeline.py:99-105)."""
    return df.select(
        *key_cols,
        F.col(payload_col).alias("payload"),
        F.length(F.col(payload_col)).alias("payload_len"),
        F.sha2(F.col(payload_col), 256).alias("payload_sha256"),
    )


def model_output(
    df: DataFrame, key_cols: list[str], version: str = SCHEMA_VERSION
) -> DataFrame:
    """BaseModelOutput: a versioned nested record per row — the pydantic
    model dump becomes a typed struct column (pipeline.py:107-113); readers
    dispatch on schema_version exactly like the CDR schema id."""
    value_cols = [c for c in df.columns if c not in key_cols]
    return df.select(
        *key_cols,
        F.lit(version).alias("schema_version"),
        F.struct(*[F.col(c) for c in value_cols]).alias("record"),
    )


def model_list_output(
    df: DataFrame, key: str, order_cols: list[str], version: str = SCHEMA_VERSION
) -> DataFrame:
    """BaseModelListOutput: per-key ordered list of versioned records
    (pipeline.py:115-121)."""
    value_cols = [c for c in df.columns if c != key]
    return (
        df.groupBy(key)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(*[F.col(c) for c in value_cols]))
            ).alias("records")
        )
        .select(key, F.lit(version).alias("schema_version"), "records")
    )


def empty_output(spark: SparkSession, like: DataFrame) -> DataFrame:
    """EmptyOutput (pipeline.py:123-126): schema-stable empty frame — halted
    documents still emit a well-typed (zero-row) output
    (pipeline.py:207-211)."""
    return spark.createDataFrame([], like.schema)


def write_output(df: DataFrame, kind: str, path: str) -> None:
    """Writer dispatch (run_pipeline.py:188-247 writes JSON/CSV per kind).
    Parquet is the default sink; 'tabular' adds a CSV mirror, 'object'
    writes JSON lines."""
    if kind == "object":
        df.write.mode("overwrite").json(path)
    elif kind == "tabular":
        df.write.mode("overwrite").option("header", True).csv(path)
    else:
        df.write.mode("overwrite").parquet(path)


# ---------------------------------------------------------------------------
# reference creators as oracle-checked queries
# ---------------------------------------------------------------------------
def scoring_output(fit: DataFrame, extended: bool = True) -> DataFrame:
    """ScoringOutput (output.py:87-147): per-query-point tabular over the
    fit-predict result — base fields (id, coordinates, prediction), plus the
    extended error/confidence set when requested.  ``error`` is the fit's
    trend adjustment at the probe (prediction minus the running-mean
    baseline ``intercept`` — the analog of error vs the gtruth-free
    baseline); ``confidence`` grows with observation support.  Inputs are
    the already-rounded fit columns, so both engines difference identical
    doubles; "+ 0.0" sign-normalizes results that round to zero."""
    base = [
        F.col("probe_id"),
        F.col("conv_id"),
        F.col("probe_ts_us"),
        F.col("pred"),
    ]
    if not extended:
        return fit.select(*base)
    err = F.round(F.col("pred") - F.col("intercept"), 6) + F.lit(0.0)
    return fit.select(
        *base,
        F.col("n_obs"),
        err.alias("error"),
        F.abs(err).alias("abs_error"),
        F.round(F.lit(1.0) - F.lit(1.0) / (F.col("n_obs") + F.lit(1)), 6).alias(
            "confidence"
        ),
    )


def summary_output(t: DataFrame) -> DataFrame:
    """SummaryOutput (output.py:150-225): ONE row per conversation — a
    '<count>;<distinct-tools>' contribution string per source (the
    latlon/utm/state_plane/... columns, here the role vocabulary), missing
    sources as '', plus the conversation's rmse and confidence.  Three
    per-conv partial aggregations joined on conv_id (co-partitioned — the
    join keys share one exchange)."""
    hist = source_histogram(t)
    cell = F.concat(
        F.col("n").cast("string"), F.lit(";"), F.col("n_distinct_tools").cast("string")
    )

    def src(role: str) -> F.Column:
        return F.coalesce(
            F.max(F.when(F.col("role") == role, cell)), F.lit("")
        ).alias(f"{role}_src")

    piv = hist.groupBy("conv_id").agg(src("user"), src("assistant"), src("tool"))
    rm = rmse_score(t).select("conv_id", "rmse")
    cp = confidence_product(t).select("conv_id", "confidence")
    return piv.join(rm, on="conv_id", how="left").join(cp, on="conv_id", how="left")
