"""Physical-plan assertions — the scale contract, checked as code.

A correct result with a bad plan fails at 100 TB; these tests pin the plan
properties that matter: bounded exchange counts (windows share one
partitioning), predicate/column pushdown into the parquet scan, broadcast
joins for small sides, and whole-stage codegen coverage."""

from __future__ import annotations

import re

import pyspark.sql.functions as F

from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_featurize_single_partitioning_exchanges(spark):
    """Plain featurize over the ingest is one sorted pass per conversation:
    every window is keyed on conv_id, so the ingest's conv_id exchange is
    the only one.  Sorts: ingest (ts, event_id), the (conv_id, tool)
    first-use flag, and the fused (ts, turn_idx) run.  Windows: those
    three plus the session count, which needs a second level over the
    fused run's lag but no new sort.  Lags: one each of role, tool and ts;
    role_transition, secs_since_prev and the session flag read the lagged
    columns instead of lagging again.  ``with_sessions`` shares the session
    builder and lags ts once too."""
    from uncharted_ta1_pipeline_spark.operators.sessionize import with_sessions
    from uncharted_ta1_pipeline_spark.operators.windows import featurize
    from uncharted_ta1_pipeline_spark.sources.transcripts import load_transcripts

    sessions = _plan(with_sessions(load_transcripts(spark, SF_SMOKE)))
    n_session_lags = len(re.findall(r"\blag\(", sessions))
    assert n_session_lags == 1, f"with_sessions lags: {n_session_lags}\n{sessions[:3000]}"
    df = featurize(load_transcripts(spark, SF_SMOKE))
    plan = _plan(df)
    n_exchanges = plan.count("Exchange hashpartitioning")
    n_sorts = len(re.findall(r"\bSort \[", plan))
    n_windows = len(re.findall(r"\bWindow \[", plan))
    n_lags = len(re.findall(r"\blag\(", plan))
    assert n_exchanges == 1, f"exchanges: {n_exchanges}\n{plan[:3000]}"
    assert n_sorts <= 3, f"sorts: {n_sorts}\n{plan[:3000]}"
    assert n_windows <= 4, f"window operators: {n_windows}\n{plan[:3000]}"
    assert n_lags == 3, f"lags: {n_lags}\n{plan[:3000]}"
    # codegen coverage is only visible on the finalized adaptive plan of
    # THIS DataFrame's QueryExecution — run an action through it first
    df.collect()
    executed = _plan(df)
    assert "isFinalPlan=true" in executed
    # '*(n)' prefixes mark WholeStageCodegen stages in the plan string
    assert "*(" in executed, executed[:1500]


def test_scan_pushdown(spark):
    """Filters and projections reach the parquet scan."""
    from uncharted_ta1_pipeline_spark.sources.transcripts import load_events

    df = load_events(spark, SF_SMOKE).filter(F.col("user_id") == 7).select("ts")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(user_id), EqualTo(user_id,7)]" in plan, plan
    # column pruning: scan reads only the needed columns
    assert "ReadSchema: struct<ts:timestamp" in plan, plan


def test_small_side_broadcasts(spark):
    """The coalesce-ladder dim join broadcasts (no shuffle of the big side
    for a tiny dim)."""
    from uncharted_ta1_pipeline_spark.operators.joins import coalesce_ladder
    from uncharted_ta1_pipeline_spark.sources.transcripts import load_transcripts

    plan = _plan(coalesce_ladder(load_transcripts(spark, SF_SMOKE)))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan[:2000]


def test_asof_no_cross_join(spark):
    """The as-of join compiles to sort+window, never a cartesian/range
    cross join."""
    from uncharted_ta1_pipeline_spark.operators.asof import asof_join
    from uncharted_ta1_pipeline_spark.plans.queries import asof_state
    from uncharted_ta1_pipeline_spark.sources.transcripts import (
        load_transcripts,
        make_probes,
    )

    t = load_transcripts(spark, SF_SMOKE)
    plan = _plan(asof_join(make_probes(t), asof_state(t)))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_fit_predict_no_cross_join(spark):
    """fit-predict-at-probe rides the as-of machinery: sort+window, never a
    cartesian or broadcast-nested-loop join."""
    from uncharted_ta1_pipeline_spark.operators.asof import fit_predict_at_probes
    from uncharted_ta1_pipeline_spark.sources.transcripts import (
        load_transcripts,
        make_probes,
    )

    t = load_transcripts(spark, SF_SMOKE)
    plan = _plan(fit_predict_at_probes(make_probes(t), t))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rank_suppress_no_cross_join_no_python(spark):
    """The greedy suppression folds JVM-side: no UDF eval, no cross join."""
    from uncharted_ta1_pipeline_spark.operators.runs import rank_suppress
    from uncharted_ta1_pipeline_spark.sources.transcripts import load_transcripts

    plan = _plan(rank_suppress(load_transcripts(spark, SF_SMOKE)))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_eval_match_uses_equi_join(spark):
    """Candidate generation for the eval harness is an equi-join on
    (conv_id, class) plus a pushed filter — not a theta/nested-loop join."""
    from uncharted_ta1_pipeline_spark.operators.evalm import (
        match_pairs,
        predictions,
        truths,
    )
    from uncharted_ta1_pipeline_spark.sources.transcripts import load_transcripts

    t = load_transcripts(spark, SF_SMOKE)
    plan = _plan(match_pairs(predictions(t), truths(t)))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pack_sequences_single_exchange_pruned_scan(spark):
    """Sequence packing is one (source, shard) exchange over a 3-column
    pruned scan — the whole corpus is touched exactly once."""
    from uncharted_ta1_pipeline_spark.operators.sampling import pack_sequences

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = _plan(pack_sequences(docs))
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    assert plan.count("FileScan") == 1
    assert "ReadSchema: struct<doc_id:bigint,text:string,source:string>" in plan


def test_regression_state_bucketed_fused_plan(spark):
    """The r5 fused state pass: first_us arrives via one broadcast per-key
    min (no second full-stream shuffle), and the totals aggregation shares
    the (key, chunk) exchange with the within-chunk window — visible as
    ReusedExchange in the finalized adaptive plan.  A regression here
    re-adds a full-stream pass that costs ~30% of the state stage
    (BENCH/FINDINGS.md r5 A/B)."""
    from uncharted_ta1_pipeline_spark.operators.asof import regression_state_bucketed
    from uncharted_ta1_pipeline_spark.sources.transcripts import load_transcripts

    df = regression_state_bucketed(load_transcripts(spark, SF_SMOKE), chunk_size=32)
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    # the adaptive plan string prints the final plan THEN the initial plan;
    # count only the final section or every exchange is double-counted
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final or "BroadcastExchange" in final, final[:2000]
    assert "ReusedExchange" in final, final[:2000]
    # measured 5: (key,chunk) stream + one-row-per-chunk offset window +
    # the firsts per-key min agg + the transcripts derivation's two
    # window exchanges; the fused claims ride the ReusedExchange nodes
    # (full-width stream + firsts broadcast dim).  More means a pass
    # stopped sharing its partitioning (the pre-fuse r4 shape carried two
    # more full-stream passes — BENCH/FINDINGS.md r5).
    n_exchanges = final.count("Exchange hashpartitioning(")
    n_reused = final.count("ReusedExchange")
    assert n_reused >= 2, f"fused reuse lost: {n_reused}\n{final[:2000]}"
    assert n_exchanges <= 5, f"state-pass exchanges regressed: {n_exchanges}\n{final[:2000]}"


def test_median_mad_no_python(spark):
    """grouped_median_mad is built-in frequency-weighted ``percentile``
    aggregates over a per-conv histogram: no Python node in its plan (it
    was a grouped-agg pandas UDF, dispatched once per group)."""
    from uncharted_ta1_pipeline_spark.functions.geof import grouped_median_mad
    from uncharted_ta1_pipeline_spark.sources.transcripts import load_transcripts

    plan = _plan(grouped_median_mad(load_transcripts(spark, SF_SMOKE)))
    assert "percentile(" in plan, plan[:2000]
    assert not re.search(r"Python|InPandas", plan), plan[:2000]


def test_ann_recall_truth_single_pass(spark):
    """ann_recall evaluates the brute-force truth subtree ONCE in the
    static plan: truth rows are replicated across the 2-row method dim and
    left-joined against the union-tagged approx lists with a hit marker,
    so one (method, query) aggregate yields both n_truth and n_hit.  The
    old per_q + hits shape listed the whole brute-force plan twice and
    relied on AQE runtime stage reuse to avoid re-executing it — this form
    guarantees the single evaluation statically.  Pinned via the
    parquet-scan count of the full plan: 14 with the single-pass truth
    (measured), 20+ if a second truth evaluation sneaks back in."""
    from uncharted_ta1_pipeline_spark.operators.similarity import ann_recall

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    plan = _plan(ann_recall(emb))
    n_scans = plan.count("Scan parquet")
    assert n_scans <= 15, f"truth subtree re-evaluated: {n_scans} scans\n{plan[:2000]}"
