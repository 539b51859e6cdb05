"""Per-partition lineage manifests + checkpoint-resume.

Re-expresses the reference's content-addressed per-task cache
(/root/reference/tasks/common/task.py:188-212: ``fetch_cached_result`` /
``write_result_to_cache`` keyed by raster + model hash + params, e.g.
text_extractor.py:188,295 and metadata_extraction.py:453-476) as
Spark-native per-(stage, config_hash, partition) manifests:

- each stage output is hash-bucketed by ``conv_id`` into ``n_buckets``
  partitions and written as partitioned parquet (``bucket=K/``);
- a manifest row ``{stage_id, config_hash, bucket, row_count, checksum,
  committed_at}`` is committed ATOMICALLY (tmp file + rename) per bucket,
  only after the bucket's data is fully written;
- on re-run, committed buckets are anti-joined away (a pushed-down
  partition filter) and only missing/uncommitted buckets recompute —
  the north_rule's "resumable from the last committed checkpoint";
- a config change flips ``config_hash`` and invalidates everything,
  mirroring the reference's model-hash keys;
- the row checksum is an order-insensitive sum of xxhash64 over all
  columns, so a resumed run can be byte-verified against a clean run.

In production the same protocol writes to Iceberg (overwritePartitions +
a manifest table); this sandbox has no Iceberg runtime jar, so the layer
uses plain partitioned parquet + JSON manifests with identical semantics.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

DEFAULT_BUCKETS = 32


def config_hash(config: dict) -> str:
    """sha256 of the canonical-JSON config (≈ sha256 cache keys,
    metadata_extraction.py:465-476)."""
    blob = json.dumps(config, sort_keys=True, separators=(",", ":"))
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def _stage_hash(stage_id: str, config: dict | None, n_buckets: int) -> str:
    """The config hash a stage's manifests are keyed by."""
    return config_hash(
        {**(config or {}), "_stage_id": stage_id, "_n_buckets": n_buckets}
    )


def _manifest_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest")


def _commit_json(out_dir: str, name: str, obj: dict) -> None:
    """Write ``obj`` to ``_manifest/<name>`` atomically (tmp file + rename),
    so a reader never sees a half-written record."""
    mdir = _manifest_dir(out_dir)
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".{name}.tmp")
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, os.path.join(mdir, name))  # atomic commit point


def _records(out_dir: str, cfg_hash: str, prefix: str) -> dict[int, dict]:
    """Per-bucket ``<prefix>-<b>.json`` records matching the config hash.
    Commit (``bucket-``) and quarantine (``poison-``) records share the
    directory and the config hash; the prefix keeps them apart."""
    mdir = _manifest_dir(out_dir)
    out: dict[int, dict] = {}
    if not os.path.isdir(mdir):
        return out
    for name in os.listdir(mdir):
        if not (name.startswith(f"{prefix}-") and name.endswith(".json")):
            continue
        with open(os.path.join(mdir, name)) as f:
            row = json.load(f)
        if row.get("config_hash") == cfg_hash:
            out[int(row["bucket"])] = row
    return out


def committed_buckets(out_dir: str, cfg_hash: str) -> dict[int, dict]:
    """Read committed manifest rows matching the config hash."""
    return _records(out_dir, cfg_hash, "bucket")


def poisoned_buckets(out_dir: str, cfg_hash: str) -> dict[int, dict]:
    """Read poison records matching the config hash."""
    return _records(out_dir, cfg_hash, "poison")


def _has_bucket_dirs(out_dir: str) -> bool:
    """Whether any ``bucket=K/`` data partition was written."""
    return os.path.isdir(out_dir) and any(
        name.startswith("bucket=") for name in os.listdir(out_dir)
    )


def _bucketed(df: DataFrame, n_buckets: int) -> DataFrame:
    # bucket on conv_id when present (the engine's canonical key); side-input
    # dims keyed otherwise bucket on their first column
    key = "conv_id" if "conv_id" in df.columns else df.columns[0]
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")
    )


def _bucket_checksums(df: DataFrame) -> dict[int, dict]:
    """Order-insensitive per-bucket row_count + checksum."""
    cols = [c for c in df.columns if c != "bucket"]
    rows = (
        df.withColumn("_h", F.xxhash64(*[F.col(c) for c in cols]))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            # xor: order-insensitive and overflow-free under ANSI mode
            F.expr("bit_xor(_h)").alias("checksum"),
        )
        .collect()
    )
    return {
        int(r["bucket"]): {"row_count": r["row_count"], "checksum": str(r["checksum"])}
        for r in rows
    }


@dataclass
class StageResult:
    stage_id: str
    config_hash: str
    out_dir: str
    buckets_total: int
    buckets_skipped: int
    buckets_computed: int
    rows_out: int
    wall_ms: int
    buckets_poisoned: int = 0


def write_stage(
    df: DataFrame,
    out_dir: str,
    stage_id: str,
    config: dict | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
    restrict_to: list[int] | None = None,
) -> StageResult:
    """Write a stage output through the manifest layer, skipping buckets
    already committed under the same config hash (resume).  ``restrict_to``
    limits the write to a subset of pending buckets (the per-bucket
    fault-isolation path of ``write_stage_resilient``)."""
    t0 = time.time()
    h = _stage_hash(stage_id, config, n_buckets)
    done = committed_buckets(out_dir, h)
    pending = [
        b
        for b in range(n_buckets)
        if b not in done and (restrict_to is None or b in restrict_to)
    ]
    spark = df.sparkSession
    rows_out = 0
    if pending:
        # persist the stage schema beside the manifests (atomically, keyed
        # by the same config hash) so a stage that legitimately produces
        # ZERO rows — no bucket=K/ dirs, nothing for parquet to infer —
        # still reads back as an empty frame with the right schema instead
        # of UNABLE_TO_INFER_SCHEMA killing the resume path
        _commit_json(out_dir, f"schema-{h}.json", df.schema.jsonValue())
        bdf = _bucketed(df, n_buckets)
        if len(pending) < n_buckets:
            bdf = bdf.filter(F.col("bucket").isin(pending))
        # idempotent per-partition overwrite: a killed run leaves no
        # manifest, so its partial partitions are rewritten on resume
        # (≡ the reference's all-or-nothing cached-tile join,
        # tasks/point_extraction/entities.py:133-159)
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        bdf.write.mode("overwrite").partitionBy("bucket").parquet(out_dir)
        # commit manifests only for fully-written buckets, atomically.
        # A stage may legitimately produce zero rows (no bucket=K/ dirs at
        # all) — only THAT case may commit row_count=0 manifests; any other
        # read-back failure must propagate so unverified buckets are never
        # marked committed.
        if _has_bucket_dirs(out_dir):
            sums = _bucket_checksums(
                spark.read.parquet(out_dir).filter(F.col("bucket").isin(pending))
            )
        else:
            sums = {}  # stage produced zero rows: every bucket is empty
        now = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        for b in pending:
            meta = sums.get(b, {"row_count": 0, "checksum": "0"})
            rows_out += meta["row_count"]
            row = {
                "stage_id": stage_id,
                "config_hash": h,
                "bucket": b,
                "committed_at": now,
                **meta,
            }
            _commit_json(out_dir, f"bucket-{b}.json", row)
    return StageResult(
        stage_id=stage_id,
        config_hash=h,
        out_dir=out_dir,
        buckets_total=n_buckets,
        buckets_skipped=len(done),
        buckets_computed=len(pending),
        rows_out=rows_out,
        wall_ms=int((time.time() - t0) * 1000),
    )


def _clear_poison(out_dir: str, bucket: int) -> None:
    p = os.path.join(_manifest_dir(out_dir), f"poison-{bucket}.json")
    if os.path.exists(p):
        os.remove(p)


def write_stage_resilient(
    df_fn,
    out_dir: str,
    stage_id: str,
    config: dict | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
    max_attempts: int = 3,
) -> StageResult:
    """``write_stage`` with the reference's queue retry/poison-pill
    semantics (/root/reference/tasks/common/request_client.py:253-262:
    quorum queue, ``x-delivery-limit`` 3 — a message failing three
    deliveries is dropped and the worker moves on).

    Fast path: one job over all pending buckets (zero overhead when the
    stage is healthy).  On failure it falls back to PER-BUCKET isolation —
    the analog of the reference's one-document-in-flight redelivery
    (prefetch_count=1): each pending bucket is attempted up to
    ``max_attempts`` times; a bucket that keeps failing is QUARANTINED with
    its error as ``_manifest/poison-<b>.json`` and the run continues.  A
    later run sees poisoned buckets as pending again (fresh delivery
    budget, ≈ queue redelivery after reconnect) and clears the poison
    record on success.

    ``df_fn``: the stage DataFrame or a zero-arg callable producing it
    (re-invoked per attempt so transient failures can heal)."""
    t0 = time.time()
    h = _stage_hash(stage_id, config, n_buckets)
    make = df_fn if callable(df_fn) else (lambda: df_fn)

    try:
        res = write_stage(make(), out_dir, stage_id, config, n_buckets)
        for b in range(n_buckets):
            _clear_poison(out_dir, b)
        return res
    except Exception:
        pass  # fall into per-bucket isolation

    done = committed_buckets(out_dir, h)
    pending = [b for b in range(n_buckets) if b not in done]
    computed, rows_out, poisoned = 0, 0, 0
    for b in pending:
        last_err: str | None = None
        for _ in range(max_attempts):
            try:
                res = write_stage(
                    make(), out_dir, stage_id, config, n_buckets, restrict_to=[b]
                )
                rows_out += res.rows_out
                computed += 1
                _clear_poison(out_dir, b)
                last_err = None
                break
            except Exception as ex:  # noqa: BLE001 — any stage error counts
                last_err = f"{type(ex).__name__}: {ex}"
        if last_err is not None:
            poisoned += 1
            row = {
                "stage_id": stage_id,
                "config_hash": h,
                "bucket": b,
                "attempts": max_attempts,
                "error": last_err[:2000],
                "poisoned_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
            _commit_json(out_dir, f"poison-{b}.json", row)
    return StageResult(
        stage_id=stage_id,
        config_hash=h,
        out_dir=out_dir,
        buckets_total=n_buckets,
        buckets_skipped=len(done),
        buckets_computed=computed,
        rows_out=rows_out,
        wall_ms=int((time.time() - t0) * 1000),
        buckets_poisoned=poisoned,
    )


def read_stage(
    spark: SparkSession,
    out_dir: str,
    stage_id: str,
    config: dict | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
    require_complete: bool = True,
) -> DataFrame:
    """Read back a committed stage (only manifest-committed buckets)."""
    h = _stage_hash(stage_id, config, n_buckets)
    done = committed_buckets(out_dir, h)
    if require_complete and len(done) < n_buckets:
        missing = sorted(set(range(n_buckets)) - set(done))
        raise RuntimeError(
            f"stage {stage_id}: {len(missing)} uncommitted buckets {missing[:8]}..."
        )
    schema_path = os.path.join(_manifest_dir(out_dir), f"schema-{h}.json")
    if not _has_bucket_dirs(out_dir) and os.path.isfile(schema_path):
        # all committed buckets are empty (write_stage commits row_count=0
        # manifests): reconstruct the empty frame from the saved schema
        from pyspark.sql.types import StructType

        with open(schema_path) as f:
            return spark.createDataFrame([], StructType.fromJson(json.load(f)))
    df = spark.read.parquet(out_dir)
    if len(done) < n_buckets:
        df = df.filter(F.col("bucket").isin(list(done)))
    return df.drop("bucket")


def verify_stage(out_dir: str, cfg_hash: str, spark: SparkSession) -> bool:
    """Recompute checksums and compare to the committed manifests."""
    done = committed_buckets(out_dir, cfg_hash)
    actual = _bucket_checksums(spark.read.parquet(out_dir))
    for b, row in done.items():
        got = actual.get(b)
        if not got or str(got["checksum"]) != str(row["checksum"]):
            return False
        if got["row_count"] != row["row_count"]:
            return False
    return True
