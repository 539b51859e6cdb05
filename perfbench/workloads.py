"""The benchmark's workloads.  Each one generates its inputs from the seed,
runs one closed-loop iteration at a time (an operation starts only after
the previous one finished) and checks every output it times.

An iteration has two timed parts, which give the two end-to-end timings:

- ``build``: materialize the features of every input turn;
- ``followup``: the operations that come after the build.

Layer calls are wrapped in tracer spans; with tracing off they cost
nothing.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import traceback

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from perfbench import inputs
from uncharted_ta1_pipeline_spark.operators.asof import (
    asof_join,
    asof_join_bucketed,
)
from uncharted_ta1_pipeline_spark.operators.outliers import ransac_slope
from uncharted_ta1_pipeline_spark.operators.salt import featurize_hybrid
from uncharted_ta1_pipeline_spark.operators.windows import featurize
from uncharted_ta1_pipeline_spark.plans import manifest
from uncharted_ta1_pipeline_spark.plans.pipeline import Pipeline, Stage
from uncharted_ta1_pipeline_spark.sources.readers import (
    densify_turn_idx,
    read_transcripts,
)
from uncharted_ta1_pipeline_spark.sources.transcripts import (
    load_transcripts,
    make_probes,
    synth_transcripts,
)

ASOF_STATE_COLS = [
    "turn_idx", "last_role", "turns_incl", "tools_incl", "last_session_id",
]


def digest(df: DataFrame) -> tuple[int, int]:
    """Row count and order-insensitive ``bit_xor(xxhash64(all columns))``.
    Used as the sink of every timed operation: it reads every output
    column, so the whole result is computed inside the timed region."""
    row = df.select(F.xxhash64(*df.columns).alias("_h")).agg(
        F.count(F.lit(1)).alias("n"), F.expr("bit_xor(_h)").alias("x")
    ).collect()[0]
    return int(row["n"]), int(row["x"] or 0)


def attempt(fn):
    """Run one timed operation.  One that raises returns an error marker
    in place of its digest, so its check fails and the run goes on."""
    try:
        return fn()
    except Exception as e:  # the run reports the failure and goes on
        traceback.print_exc()
        return f"error: {type(e).__name__}"


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def asof_state(feats: DataFrame) -> DataFrame:
    """Per-turn inclusive state probed by the as-of join (the shape of the
    engine's ``asof_bucketed`` bench entry)."""
    used = F.col("tool").isNotNull() & (F.col("tool") != "")
    return feats.select(
        "conv_id",
        "ts",
        "turn_idx",
        F.col("role").alias("last_role"),
        (F.col("turns_so_far") + 1).cast("long").alias("turns_incl"),
        (F.col("tools_so_far") + used.cast("long")).alias("tools_incl"),
        F.col("session_id").alias("last_session_id"),
    )


class Workload:
    """Holds a workload's inputs and the digests its outputs must match.

    ``iteration()`` returns ``(build_s, followup_s, checks)``, where each
    check is ``(what, got, want)`` for one timed operation's output."""

    name = ""
    # warm-up input size, relative to the timed input: the first execution
    # of each plan pays for code generation and JIT compilation, which
    # hardly depends on input size, while later ones still drift as the
    # JIT sees more rows
    WARMUP_SCALE = 0.1

    def __init__(self, spark, work_dir: str, seed: int, tracer):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.tracer = tracer
        self.want: dict = {}
        self.rows: list[dict] = []  # metrics.jsonl rows of timed iterations

    def warm_up(self) -> None:
        """Unmeasured work before timing starts."""
        self.iteration()

    def references(self) -> None:
        """Reference digests, computed once before timing starts."""

    def finish(self) -> list:
        """Checks made once, after the timed iterations."""
        return []


class Flat(Workload):
    """Events of many users with at most a few hundred turns each, ingested
    through ``load_transcripts``: no conversation is hot, so the salted path
    is bypassed and ingest plus the plain window path do the work."""

    name = "flat"
    EVENTS = 100_000
    TURNS_PER_USER = 100

    def generate(self, path: str, scale: float) -> int:
        n = max(1_000, int(self.EVENTS * scale))
        inputs.write_events(os.path.join(path, "events.parquet"), self.seed, n,
                            max(10, n // self.TURNS_PER_USER))
        return n

    def open(self, path: str) -> None:
        self.t = load_transcripts(self.spark, path)
        self.probes = make_probes(self.t)

    def references(self) -> None:
        """Digests of the plain-path results the timed outputs must equal."""
        self.want = {
            "featurize": digest(featurize(self.t)),
            "asof": digest(
                asof_join(self.probes, asof_state(featurize(self.t)),
                          state_cols=ASOF_STATE_COLS)
            ),
        }

    def iteration(self) -> tuple:
        tr = self.tracer
        if tr.enabled:
            with tr.span("sources.ingest"):
                noop(self.t)
        t0 = time.perf_counter()
        with tr.span("salt.route"):
            feats = featurize_hybrid(self.t)
        with tr.span("featurize"):
            got_f = attempt(lambda: digest(feats))
        t1 = time.perf_counter()
        with tr.span("asof"):
            got_a = attempt(lambda: digest(
                asof_join_bucketed(self.probes, asof_state(feats),
                                   state_cols=ASOF_STATE_COLS)
            ))
        t2 = time.perf_counter()
        return t1 - t0, t2 - t1, [
            ("featurize_hybrid vs featurize", got_f, self.want.get("featurize")),
            ("asof_join_bucketed vs asof_join", got_a, self.want.get("asof")),
        ]


class Resume(Workload):
    """A transcript table with no hot conversation through the resumable
    two-stage pipeline: a cold run, a resume after a quarter of each
    stage's bucket manifests were lost, and a re-run with every bucket
    committed.  The only workload that writes, and the only one that
    crosses the Python/Arrow boundary."""

    name = "resume"
    CONVS = 600
    MEAN_TURNS = 67  # synth_transcripts draws lengths in [mean, 2 * mean)
    BUCKETS = 32

    def generate(self, path: str, scale: float) -> int:
        """``synth_transcripts`` with no hot conversation, written as parquet
        and read back by the pipeline's input, as ``bench.py`` does."""
        out = os.path.join(path, "transcripts.parquet")
        synth_transcripts(
            self.spark, n_convs=max(10, int(self.CONVS * scale)),
            mean_turns=self.MEAN_TURNS, hot_convs=0, seed=self.seed,
        ).repartition(inputs.FILES).write.mode("overwrite").parquet(out)
        return self.spark.read.parquet(out).count()

    def open(self, path: str) -> None:
        self.t = densify_turn_idx(
            read_transcripts(self.spark, os.path.join(path, "transcripts.parquet"))
        )
        tr = self.tracer

        def features(df: DataFrame) -> DataFrame:
            tr.phase("pipeline.features")
            with tr.span("salt.route"):
                return featurize_hybrid(df)

        def fits(df: DataFrame) -> DataFrame:
            tr.phase("pipeline.fits")
            return ransac_slope(df)

        # the stages of cli.py's pipeline plus a ransac fit over its output
        self.stages = [
            Stage("features", features, {"gap_s": 1800, "rolling_width": 5}),
            Stage("fits", fits, {"n_iter": 32, "max_obs_per_group": 512}),
        ]
        # a fixed, seed-chosen quarter of each stage's buckets is lost
        rng = np.random.default_rng([self.seed, 3])
        self.lost = {
            st.stage_id: sorted(
                int(b) for b in rng.choice(self.BUCKETS, self.BUCKETS // 4, replace=False)
            )
            for st in self.stages
        }
        self.runs = 0
        self.wd = os.path.join(self.work_dir, "pipe")

    def warm_up(self) -> None:
        """A cold run only: the resume and re-run execute the same plans
        (the resume adds a bucket filter), and the per-run time limit
        leaves no room for a whole unmeasured iteration."""
        shutil.rmtree(self.wd, ignore_errors=True)
        with self.tracer.span("warm-up"):
            digest(self._run("warm-up"))

    def _run(self, run_id: str) -> DataFrame:
        p = Pipeline(self.stages, self.wd, n_buckets=self.BUCKETS)
        return p.run(self.spark, self.t, run_id=run_id)

    def _outputs(self, fits: DataFrame) -> tuple:
        """Digests of both stages' committed outputs: the ``fits`` output
        reads only columns that ``features`` passes through, so a wrong
        ``features`` stage shows only in its own output."""
        st = self.stages[0]
        feats = manifest.read_stage(
            self.spark, os.path.join(self.wd, st.stage_id), st.stage_id,
            st.config, self.BUCKETS,
        )
        return attempt(lambda: digest(feats)), attempt(lambda: digest(fits))

    def references(self) -> None:
        """The plain-path features the cold run's ``features`` stage must
        equal (no conversation is short enough to be quarantined)."""
        self.want = {"features": digest(featurize(self.t))}

    def iteration(self) -> tuple:
        tr = self.tracer
        self.runs += 1
        shutil.rmtree(self.wd, ignore_errors=True)
        if tr.enabled:
            with tr.span("sources.ingest"):
                noop(self.t)
        # the pipeline's parquet writes are the sinks; digesting the
        # committed outputs afterwards is a check, outside the timings.  The
        # cold outputs are the reference for the resumed and re-run outputs;
        # ``finish`` checks them against their manifests.
        t0 = time.perf_counter()
        with tr.span("pipeline.cold"):
            out = self._run("cold")
        build_s = time.perf_counter() - t0
        cold = self._outputs(out)
        for stage_id, lost in self.lost.items():
            mdir = os.path.join(self.wd, stage_id, "_manifest")
            for b in lost:
                os.remove(os.path.join(mdir, f"bucket-{b}.json"))
        t0 = time.perf_counter()
        with tr.span("pipeline.resume"):
            out = self._run("resume")
        followup_s = time.perf_counter() - t0
        resumed = self._outputs(out)
        t0 = time.perf_counter()
        with tr.span("pipeline.warm"):
            out = self._run("warm")
        followup_s += time.perf_counter() - t0
        warm = self._outputs(out)
        with open(os.path.join(self.wd, "metrics.jsonl")) as f:
            rows = [json.loads(line) for line in f]
        for r in rows:
            r["iteration"] = self.runs
        self.rows += rows
        checks = [("cold features vs featurize", cold[0], self.want.get("features"))]
        for i, stage in enumerate(("features", "fits")):
            checks += [
                (f"resumed {stage} vs cold {stage}", resumed[i], cold[i]),
                (f"all-committed re-run {stage} vs cold {stage}", warm[i], cold[i]),
            ]
        return build_s, followup_s, checks

    def finish(self) -> list:
        """verify_stage on the last iteration's committed stages."""
        hashes = {r["stage_id"]: r["config_hash"] for r in self.rows
                  if r["iteration"] == self.runs}
        return [
            (f"verify_stage({stage_id})",
             manifest.verify_stage(os.path.join(self.wd, stage_id), h, self.spark),
             True)
            for stage_id, h in hashes.items()
        ]


WORKLOADS = {w.name: w for w in (Flat, Resume)}
