"""Source/sink readers (SURVEY.md §2.1).

≈ the reference's IO layer (/root/reference/tasks/common/io.py):
ImageFileInputIterator (sorted recursive scan, :34-145) becomes an ordered
ingest with a densified stable turn index; JSONFileReader/Writer (:148-204,
:345-391) become spark.read/write.json; the per-task result cache
(:188-212 in task.py) is plans/manifest.py."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp, signal double"
)

# JSON's default timestamp format truncates to milliseconds; the transcript
# ts axis is microsecond-resolution, so pin a lossless format on both sides.
JSON_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


def read_transcripts(
    spark: SparkSession, path: str, fmt: str = "parquet"
) -> DataFrame:
    """Read a transcript table from parquet/json/csv with schema
    enforcement (≈ pydantic validation at stage boundaries,
    reference coordinates_extractor.py:158-160)."""
    if fmt == "parquet":
        df = spark.read.parquet(path)
    elif fmt == "json":
        df = (
            spark.read.schema(TRANSCRIPT_SCHEMA)
            .option("timestampFormat", JSON_TS_FMT)
            .json(path)
        )
    elif fmt == "csv":
        df = spark.read.schema(TRANSCRIPT_SCHEMA).option("header", "true").csv(path)
    else:
        raise ValueError(f"unsupported format: {fmt}")
    required = {"conv_id", "turn_idx", "role", "text", "tool", "ts"}
    missing = required - set(df.columns)
    if missing:
        raise ValueError(f"transcript table missing columns: {sorted(missing)}")
    if "signal" not in df.columns:
        df = df.withColumn("signal", F.lit(None).cast("double"))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def densify_turn_idx(df: DataFrame) -> DataFrame:
    """Re-derive a dense 0-based stable turn index from (ts, turn_idx)
    order — the sorted-ingest invariant (≈ the reference's sorted file
    listing, io.py:104,132).  Required before the salted/chunked path."""
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    return df.withColumn("turn_idx", (F.row_number().over(w) - 1).cast("int"))


def write_json(df: DataFrame, path: str, n_files: int | None = None) -> None:
    out = df.repartition(n_files) if n_files else df
    out.write.mode("overwrite").option("timestampFormat", JSON_TS_FMT).json(path)
