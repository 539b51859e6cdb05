"""Local data cache + broadcast dims (sources/cache.py) and the metrics
table (plans/pipeline.py)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from tests.conftest import SF_SMOKE


def _load(spark):
    from uncharted_ta1_pipeline_spark.sources.transcripts import load_transcripts

    return load_transcripts(spark, SF_SMOKE)


def test_local_data_cache(tmp_path):
    """Producer runs exactly once per key; a second cache instance over the
    same dir reuses the file (the per-host download-once semantic)."""
    from uncharted_ta1_pipeline_spark.sources.cache import LocalDataCache

    calls = []

    def make():
        calls.append(1)
        return b"weights-v1"

    c1 = LocalDataCache(str(tmp_path / "cache"))
    p1 = c1.fetch("model://weights?v=1", make)
    p2 = c1.fetch("model://weights?v=1", make)
    assert p1 == p2 and len(calls) == 1
    assert open(p1, "rb").read() == b"weights-v1"

    c2 = LocalDataCache(str(tmp_path / "cache"))  # new process analog
    assert c2.contains("model://weights?v=1")
    c2.fetch("model://weights?v=1", make)
    assert len(calls) == 1  # still one production

    assert c1.fetch("model://other", make) != p1
    assert len(calls) == 2


def test_broadcast_dim_guard(spark):
    """Small dims get the broadcast hint; an oversized dim is refused by a
    bounded probe (no full count of the big side)."""
    import pytest

    from uncharted_ta1_pipeline_spark.sources.cache import broadcast_dim

    t = _load(spark)
    dim = t.select("conv_id").distinct()
    hinted = broadcast_dim(dim, max_rows=10_000)
    plan = t.join(hinted, on="conv_id")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan

    with pytest.raises(ValueError, match="broadcast_dim"):
        broadcast_dim(t, max_rows=10)


def test_metrics_table(spark, tmp_path):
    """Pipeline metrics land as a schema-stable queryable table."""
    from uncharted_ta1_pipeline_spark.plans.pipeline import (
        Pipeline,
        Stage,
        metrics_table,
        write_feature_table,
    )

    t = _load(spark)
    wd = str(tmp_path / "wd")
    pipe = Pipeline(
        [Stage("s1", lambda d: d.withColumn("flag", F.lit(1)))], wd, n_buckets=4
    )
    final = pipe.run(spark, t, run_id="r1")
    m = metrics_table(spark, wd)
    rows = {r.stage_id: r for r in m.collect()}
    assert rows["s1"].run_id == "r1"
    assert rows["s1"].rows_out > 0 and rows["s1"].buckets_poisoned == 0

    fdir = str(tmp_path / "feat")
    write_feature_table(final.withColumn("part", F.lit("a")), fdir, ["part"])
    back = spark.read.parquet(fdir)
    assert back.count() == final.count()
    assert os.path.isdir(os.path.join(fdir, "part=a"))
