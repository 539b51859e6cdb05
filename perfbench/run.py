#!/usr/bin/env python3
"""The repository's benchmark: end-to-end and per-layer metrics of the
feature engine on ``local[<nproc>]``, with every timed output checked.

    python3 perfbench/run.py --workload flat --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload resume --seed 1 --seconds 15 --trace 1
    python3 perfbench/run.py --smoke

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
``--smoke`` runs every workload at a tiny size, with and without tracing,
and checks that every metric is printed with its unit.  See NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# import as the ``perfbench`` package from the checkout root; the script's
# own directory first on sys.path would shadow standard modules
sys.path[0] = ROOT

END_TO_END = {
    "build_turns_per_s": "turns/s",
    "followup_s": "s",
    "setup_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "sources.gen_s": "s",
    "sources.ingest_s": "s",
    "sources.ingest_exchanges": "count",
    "sources.ingest_shuffle_bytes": "bytes",
    "salt.route_s": "s",
    "featurize.exec_s": "s",
    "featurize.exchanges": "count",
    "featurize.shuffle_write_bytes": "bytes",
    "featurize.spill_bytes": "bytes",
    "featurize.task_skew": "ratio",
    "featurize.gc_share": "share",
    "asof.exec_s": "s",
    "asof.exchanges": "count",
    "asof.shuffle_write_bytes": "bytes",
    "asof.task_skew": "ratio",
    "ransac.stage_s": "s",
    "ransac.python_bytes_sent": "bytes",
    "ransac.python_bytes_received": "bytes",
    "manifest.write_s": "s",
    "manifest.bytes_written": "bytes",
    "manifest.buckets_computed": "count",
    "manifest.buckets_skipped": "count",
    "manifest.resume_waste": "ratio",
    "pipeline.warm_s": "s",
    "trace.overhead_share": "share",
}

GEN_REPEATS = 3  # input generation runs this often; setup_s takes the median
WARMUP = 1  # unmeasured iterations before timing starts
TINY_SCALE = 0.02  # input size factor of ``--tiny`` runs, which skip warm-up
# checks that fail in ``--tiny`` runs because of a known defect: committed
# empty buckets fail ``verify_stage`` (NOTES.md)
TINY_KNOWN_FAILURES = {
    "flat": set(),
    "resume": {"verify_stage(features)", "verify_stage(fits)"},
}
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")


def isolate(work: str) -> None:
    """Keep every file the run writes (Spark scratch, temp files, Python
    workers' imports) inside the checkout, and pin the session settings
    that environment variables could otherwise change."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # no JVM performance-counter files in /tmp (spark-submit's launcher JVM)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_SHM"] = "0"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    for var in ("SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_MASTER"):
        os.environ.pop(var, None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def start_session(work: str, trace: bool):
    from uncharted_ta1_pipeline_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))  # what ``nproc`` prints
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,  # as bench.py
        extra_conf=conf,
    )


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def run(workload: str, seed: int, seconds: float, trace: bool, tiny: bool) -> dict:
    work = os.path.join(WORK, f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    isolate(work)
    try:
        return _run(work, workload, seed, seconds, trace,
                    scale=TINY_SCALE if tiny else 1.0, warmup=0 if tiny else WARMUP)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(work, workload, seed, seconds, trace, scale, warmup) -> dict:
    from perfbench.layers import median, per_layer
    from perfbench.spans import Tracer, event_log_file, parse_event_log
    from perfbench.workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = start_session(work, trace)
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark.sparkContext if trace else None)
        wl = WORKLOADS[workload](spark, work, seed, tracer)
        gen = []
        main_in = os.path.join(work, "in")
        for _ in range(GEN_REPEATS):
            g0 = time.perf_counter()
            turns = wl.generate(main_in, scale)
            gen.append(time.perf_counter() - g0)
        w0 = time.perf_counter()
        warm_in = os.path.join(work, "in-warm")
        wl.generate(warm_in, scale * wl.WARMUP_SCALE)
        wl.open(warm_in)
        for _ in range(warmup):
            wl.warm_up()
        warmup_s = time.perf_counter() - w0
        wl.open(main_in)

        c0 = time.perf_counter()
        wl.references()
        print(f"perfbench: references {time.perf_counter() - c0:.2f}s",
              file=sys.stderr)

        attempted = failed = 0

        def tally(checks) -> None:
            nonlocal attempted, failed
            for what, got, want in checks:
                attempted += 1
                if got != want:
                    failed += 1
                    print(f"perfbench: FAILED {what}: got {got}, want {want}",
                          file=sys.stderr)

        builds, follows = [], []
        wl.rows.clear()
        first_span = len(tracer.spans)
        l0 = time.perf_counter()
        # closed loop, one client: the next iteration starts when the last
        # one finished, until ``seconds`` have passed
        while time.perf_counter() - l0 < seconds:
            try:
                build_s, follow_s, checks = wl.iteration()
            except Exception:  # an operation failed: count it, keep going
                traceback.print_exc()
                print("perfbench: FAILED iteration: raised", file=sys.stderr)
                attempted += 1
                failed += 1
                continue
            builds.append(build_s)
            follows.append(follow_s)
            tally(checks)
        loop_s = time.perf_counter() - l0
        tally(wl.finish())
        print(
            f"perfbench: {workload} seed={seed} turns={turns} "
            f"iterations={len(builds)} build={[round(b, 3) for b in builds]} "
            f"followup={[round(f, 3) for f in follows]} session={session_s:.2f}s "
            f"gen={[round(g, 3) for g in gen]} warmup={warmup_s:.2f}s",
            file=sys.stderr,
        )
        rss = peak_rss_mb(spark)
    finally:
        stop_session(spark)

    if not builds:
        raise RuntimeError("no iteration completed")
    if trace:
        p0 = time.perf_counter()
        stats = parse_event_log(event_log_file(os.path.join(work, "eventlog")))
        tracer.cost_s += time.perf_counter() - p0
        metrics = per_layer(
            tracer, stats, wl, first_span, loop_s,
            session_s=session_s, gen_s=median(gen), rss_mb=rss,
        )
        os.makedirs(OUT, exist_ok=True)
        with open(os.path.join(OUT, f"{workload}-trace.json"), "w") as f:
            json.dump({"spans": [s.__dict__ for s in tracer.spans],
                       "metrics": metrics}, f, indent=1)
        units = PER_LAYER
    else:
        metrics = {
            "build_turns_per_s": turns / median(builds),
            "followup_s": median(follows),
            "setup_s": session_s + median(gen) + warmup_s,
        }
        units = END_TO_END
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def check_result(line: str, units: dict) -> list[str]:
    """Problems with one result line: keys, counts, every metric present
    with its unit and a finite number as value."""
    res = json.loads(line)
    problems = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"keys {sorted(res)}")
    if not isinstance(res.get("attempted"), int) or res["attempted"] < 1:
        problems.append("attempted < 1")
    if set(res.get("metrics", {})) != set(units):
        problems.append(f"metrics {sorted(res.get('metrics', {}))}")
    for name, unit in units.items():
        m = res.get("metrics", {}).get(name, {})
        v = m.get("value")
        if (m.get("unit") != unit or not isinstance(v, (int, float))
                or not math.isfinite(v)):
            problems.append(f"{name}: {m}")
    return problems


def smoke() -> int:
    """Every workload end to end at a tiny size, traced and untraced.  A
    run passes if it prints every metric with its unit and exactly the
    checks in ``TINY_KNOWN_FAILURES`` fail."""
    from perfbench.workloads import WORKLOADS

    bad = 0
    for name in WORKLOADS:
        for trace, units in ((0, END_TO_END), (1, PER_LAYER)):
            cmd = [
                sys.executable, os.path.abspath(__file__), "--workload", name,
                "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny",
            ]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                problems = [f"exit {proc.returncode}: {proc.stderr[-2000:]}"]
            else:
                problems = check_result(lines[-1], units)
                res = json.loads(lines[-1])
                failed = [
                    line.split("FAILED ", 1)[1].split(":", 1)[0]
                    for line in proc.stderr.splitlines()
                    if line.startswith("perfbench: FAILED ")
                ]
                if res["failed"] != len(failed) or set(failed) != TINY_KNOWN_FAILURES[name]:
                    problems.append(f"failed={res['failed']}, checks {failed}")
            print(f"smoke {name} trace={trace}: {problems or 'ok'}")
            bad += bool(problems)
    return 1 if bad else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["flat", "resume"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs and no warm-up (used by --smoke)")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    try:
        import uncharted_ta1_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is missing: {e}", file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace),
                 args.tiny)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
