"""Per-layer metrics of a traced run: spans joined with the Spark work the
event log attributes to them.  Each value is the median over the timed
iterations; a layer a workload never calls reads 0."""

from __future__ import annotations

import statistics

from perfbench.spans import SpanStats, Tracer, merged


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(tracer: Tracer, stats: dict, wl, first_span: int, loop_s: float,
              session_s: float, gen_s: float, rss_mb: float) -> dict:
    timed = [s for s in tracer.spans if s.id >= first_span]

    def named(name, parent=None):
        return [
            s for s in timed
            if s.name == name
            and (parent is None or tracer.spans[s.parent].name == parent)
        ]

    def own(spans) -> list[SpanStats]:
        return [stats.get(s.id, SpanStats()) for s in spans]

    def subtree(sp) -> SpanStats:
        ids, frontier = {sp.id}, [sp.id]
        while frontier:
            kids = [s.id for s in tracer.spans if s.parent in frontier]
            ids.update(kids)
            frontier = kids
        return merged(stats, ids)

    ingest = named("sources.ingest")
    # flat times featurize as its own call; the pipeline as its features stage
    feat = named("featurize") or named("pipeline.features", "pipeline.cold")
    asof = named("asof")
    fits = named("pipeline.fits", "pipeline.cold")
    cold = named("pipeline.cold")
    resume = named("pipeline.resume")
    rows = wl.rows
    iters = sorted({r["iteration"] for r in rows})

    def rows_of(run_id):
        return [[r for r in rows if r["iteration"] == i and r["run_id"] == run_id]
                for i in iters]

    resumed_rows = rows_of("resume")
    waste = [
        subtree(sp).records_read / sum(r["rows_out"] for r in rr)
        for sp, rr in zip(resume, resumed_rows)
        if sum(r["rows_out"] for r in rr)
    ]
    return {
        "session.start_s": session_s,
        "session.peak_rss_mb": rss_mb,
        "sources.gen_s": gen_s,
        "sources.ingest_s": median(s.wall for s in ingest),
        "sources.ingest_exchanges": median(s.exchanges for s in own(ingest)),
        "sources.ingest_shuffle_bytes": median(
            s.shuffle_write_bytes for s in own(ingest)),
        "salt.route_s": median(s.wall for s in named("salt.route")),
        "featurize.exec_s": median(tracer.self_time(s) for s in feat),
        "featurize.exchanges": median(s.exchanges for s in own(feat)),
        "featurize.shuffle_write_bytes": median(
            s.shuffle_write_bytes for s in own(feat)),
        "featurize.spill_bytes": median(s.spill_bytes for s in own(feat)),
        "featurize.task_skew": median(s.task_skew for s in own(feat)),
        "featurize.gc_share": median(s.gc_share for s in own(feat)),
        "asof.exec_s": median(s.wall for s in asof),
        "asof.exchanges": median(s.exchanges for s in own(asof)),
        "asof.shuffle_write_bytes": median(s.shuffle_write_bytes for s in own(asof)),
        "asof.task_skew": median(s.task_skew for s in own(asof)),
        "ransac.stage_s": median(s.python_stage_s() for s in own(fits)),
        "ransac.python_bytes_sent": median(s.py_sent for s in own(fits)),
        "ransac.python_bytes_received": median(s.py_received for s in own(fits)),
        "manifest.write_s": median(
            sum(r["wall_ms"] for r in rr) / 1000.0 for rr in rows_of("cold")),
        "manifest.bytes_written": median(subtree(s).bytes_written for s in cold),
        "manifest.buckets_computed": median(
            sum(r["buckets_computed"] for r in rr) for rr in resumed_rows),
        "manifest.buckets_skipped": median(
            sum(r["buckets_skipped"] for r in rr) for rr in resumed_rows),
        "manifest.resume_waste": median(waste),
        "pipeline.warm_s": median(s.wall for s in named("pipeline.warm")),
        "trace.overhead_share": tracer.cost_s / loop_s,
    }
