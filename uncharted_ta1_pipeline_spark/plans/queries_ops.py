"""Operator-coverage queries (SURVEY.md §2.2-2.7) over the transcripts
derivation — each with a DuckDB twin in plans/oracles_ops.py."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from uncharted_ta1_pipeline_spark.functions.textf import extract_ladder, normalize_text
from uncharted_ta1_pipeline_spark.operators import aggregates as agg
from uncharted_ta1_pipeline_spark.operators import backfill as bf
from uncharted_ta1_pipeline_spark.operators import filters as flt
from uncharted_ta1_pipeline_spark.operators import joins as jn
from uncharted_ta1_pipeline_spark.operators.outliers import mad_outliers, ransac_slope
from uncharted_ta1_pipeline_spark.plans.pipeline import halt_predicate
from uncharted_ta1_pipeline_spark.sources.transcripts import load_transcripts


def _t(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_transcripts(spark, sf_dir)


def q_text_filter(spark, sf_dir):
    return flt.text_filter(_t(spark, sf_dir)).select("conv_id", "turn_idx", "role")


def q_argmax_source_filter(spark, sf_dir):
    return flt.argmax_source_filter(_t(spark, sf_dir)).select(
        "conv_id", "turn_idx", "tool"
    )


def q_range_filter_readd(spark, sf_dir):
    return flt.range_filter_readd(_t(spark, sf_dir)).select(
        "conv_id", "turn_idx", "status", "adj_signal"
    )


def q_token_budget_filter(spark, sf_dir):
    return flt.token_budget_filter(_t(spark, sf_dir)).select("conv_id", "turn_idx")


def q_conditional_enrich(spark, sf_dir):
    return flt.conditional_enrich(_t(spark, sf_dir))


def q_finalize_left_join(spark, sf_dir):
    return flt.finalize_left_join(_t(spark, sf_dir))


def q_coalesce_ladder(spark, sf_dir):
    return jn.coalesce_ladder(_t(spark, sf_dir))


def q_corner_join(spark, sf_dir):
    return jn.corner_join(_t(spark, sf_dir))


def q_corner_join_passthrough(spark, sf_dir):
    return jn.corner_join_passthrough(_t(spark, sf_dir))


def q_nearest_join(spark, sf_dir):
    return jn.nearest_join(_t(spark, sf_dir))


def q_confidence_product(spark, sf_dir):
    return agg.confidence_product(_t(spark, sf_dir))


def q_source_histogram(spark, sf_dir):
    return agg.source_histogram(_t(spark, sf_dir))


def q_rmse_score(spark, sf_dir):
    return agg.rmse_score(_t(spark, sf_dir))


def q_weighted_centroid(spark, sf_dir):
    return agg.weighted_centroid(_t(spark, sf_dir))


def q_topk_with_ties(spark, sf_dir):
    return agg.topk_with_ties(_t(spark, sf_dir))


def q_dedup_overlap(spark, sf_dir):
    return agg.dedup_overlap(_t(spark, sf_dir))


def q_quadrant_coverage(spark, sf_dir):
    return agg.quadrant_coverage(_t(spark, sf_dir))


def q_inference_backfill(spark, sf_dir):
    return bf.inference_backfill(_t(spark, sf_dir))


def q_anchor_fallback(spark, sf_dir):
    return bf.anchor_fallback(_t(spark, sf_dir))


def q_colinear_thirdpoint(spark, sf_dir):
    return bf.colinear_thirdpoint(_t(spark, sf_dir))


def q_mad_outliers(spark, sf_dir):
    return mad_outliers(_t(spark, sf_dir))


def q_ransac_slope(spark, sf_dir):
    return ransac_slope(_t(spark, sf_dir))


def q_extract_ladder(spark, sf_dir):
    t = _t(spark, sf_dir)
    return t.select(
        "conv_id",
        "turn_idx",
        extract_ladder(F.col("text")).alias("extracted"),
        normalize_text(F.col("text")).alias("normalized"),
    )


def q_denoise_segments(spark, sf_dir):
    from uncharted_ta1_pipeline_spark.operators.sessionize import denoise_segments

    return denoise_segments(_t(spark, sf_dir))


def q_text_with_segments(spark, sf_dir):
    from uncharted_ta1_pipeline_spark.operators.sessionize import text_with_segments

    return text_with_segments(_t(spark, sf_dir))


def q_color_level(spark, sf_dir):
    return agg.color_level(_t(spark, sf_dir))


def q_metadata_record(spark, sf_dir):
    return agg.metadata_record(_t(spark, sf_dir))


def q_monotone_best_run(spark, sf_dir):
    from uncharted_ta1_pipeline_spark.operators.runs import best_monotone_run

    return best_monotone_run(_t(spark, sf_dir))


def q_rank_suppress(spark, sf_dir):
    from uncharted_ta1_pipeline_spark.operators.runs import rank_suppress

    return rank_suppress(_t(spark, sf_dir))


def q_geocode_enrich(spark, sf_dir):
    from uncharted_ta1_pipeline_spark.operators.enrich import geocode_enrich

    dim = spark.createDataFrame(
        [("search", 12.5), ("bash", -44.25)], "key string, value double"
    )
    return geocode_enrich(_t(spark, sf_dir), dim)


def q_eval_f1(spark, sf_dir):
    from uncharted_ta1_pipeline_spark.operators.evalm import eval_f1_per_class

    return eval_f1_per_class(_t(spark, sf_dir))


def q_eval_deciles(spark, sf_dir):
    from uncharted_ta1_pipeline_spark.operators.evalm import eval_f1_deciles

    return eval_f1_deciles(_t(spark, sf_dir))


def q_meteor_fields(spark, sf_dir):
    from uncharted_ta1_pipeline_spark.operators.evalm import meteor_per_field

    return meteor_per_field(_t(spark, sf_dir))


def q_geodesic_scale(spark, sf_dir):
    from uncharted_ta1_pipeline_spark.functions.geof import geodesic_scale

    return geodesic_scale(_t(spark, sf_dir))


def q_median_mad(spark, sf_dir):
    from uncharted_ta1_pipeline_spark.functions.geof import grouped_median_mad

    return grouped_median_mad(_t(spark, sf_dir))


def q_point_geocoder(spark, sf_dir):
    return jn.point_geocoder(_t(spark, sf_dir))


def q_halt_predicate(spark, sf_dir):
    # threshold high enough to actually halt some conversations at sf0.01
    return halt_predicate(_t(spark, sf_dir), min_turns=50)


QUERIES_OPS = {
    "text_filter": q_text_filter,
    "argmax_source_filter": q_argmax_source_filter,
    "range_filter_readd": q_range_filter_readd,
    "token_budget_filter": q_token_budget_filter,
    "conditional_enrich": q_conditional_enrich,
    "finalize_left_join": q_finalize_left_join,
    "coalesce_ladder": q_coalesce_ladder,
    "corner_join": q_corner_join,
    "corner_join_passthrough": q_corner_join_passthrough,
    "nearest_join": q_nearest_join,
    "confidence_product": q_confidence_product,
    "source_histogram": q_source_histogram,
    "rmse_score": q_rmse_score,
    "weighted_centroid": q_weighted_centroid,
    "topk_with_ties": q_topk_with_ties,
    "dedup_overlap": q_dedup_overlap,
    "quadrant_coverage": q_quadrant_coverage,
    "inference_backfill": q_inference_backfill,
    "anchor_fallback": q_anchor_fallback,
    "colinear_thirdpoint": q_colinear_thirdpoint,
    "mad_outliers": q_mad_outliers,
    "ransac_slope": q_ransac_slope,
    "denoise_segments": q_denoise_segments,
    "text_with_segments": q_text_with_segments,
    "color_level": q_color_level,
    "metadata_record": q_metadata_record,
    "monotone_best_run": q_monotone_best_run,
    "rank_suppress": q_rank_suppress,
    "geocode_enrich": q_geocode_enrich,
    "eval_f1": q_eval_f1,
    "eval_deciles": q_eval_deciles,
    "meteor_fields": q_meteor_fields,
    "extract_ladder": q_extract_ladder,
    "halt_predicate": q_halt_predicate,
    "geodesic_scale": q_geodesic_scale,
    "median_mad": q_median_mad,
    "point_geocoder": q_point_geocoder,
}


def q_featurize_full(spark, sf_dir):
    """The flagship: the COMPLETE leakage-free per-turn feature vector
    (lag/lead + cumulative + rolling + ffill + sessions) — oracle-checked,
    including byte-identical text pass-through (the per-row invariant)."""
    from uncharted_ta1_pipeline_spark.operators.salt import featurize_hybrid

    t = load_transcripts(spark, sf_dir)
    out = featurize_hybrid(t)
    return out.select(
        "conv_id", "turn_idx", "role", "text", "tool",
        F.unix_micros("ts").alias("ts_us"),
        "session_id", "prev_role", "next_role", "role_transition",
        "secs_since_prev", "turns_so_far", "tools_so_far",
        "distinct_tools_so_far", "rolling_turns_5", "rolling_tools_5",
        "rolling_signal_mean_5", "ffill_tool",
    )


def q_asof_features_bucketed(spark, sf_dir):
    """Same as asof_features but through the explicitly salted/bucketed
    physical path — must hash-match the identical oracle."""
    from uncharted_ta1_pipeline_spark.operators.asof import asof_join_bucketed
    from uncharted_ta1_pipeline_spark.plans.queries import asof_state
    from uncharted_ta1_pipeline_spark.sources.transcripts import make_probes

    t = load_transcripts(spark, sf_dir)
    out = asof_join_bucketed(
        make_probes(t), asof_state(t),
        state_cols=["turn_idx", "last_role", "turns_incl", "tools_incl", "last_session_id"],
        bucket_s=86_400,
    )
    return out.select(
        "probe_id", "conv_id",
        F.unix_micros(F.col("probe_ts")).alias("probe_ts_us"),
        F.col("turn_idx").alias("matched_turn_idx"),
        "last_role", "turns_incl", "tools_incl", "last_session_id",
    )


QUERIES_OPS["featurize_full"] = q_featurize_full
QUERIES_OPS["asof_features_bucketed"] = q_asof_features_bucketed


def q_scoring_output(spark, sf_dir):
    """ScoringOutput creator over the fit-predict result: per-probe
    prediction + trend-adjustment error + support-based confidence
    (plans/outputs.py)."""
    from uncharted_ta1_pipeline_spark.operators.asof import fit_predict_at_probes
    from uncharted_ta1_pipeline_spark.plans.outputs import scoring_output
    from uncharted_ta1_pipeline_spark.sources.transcripts import make_probes

    t = _t(spark, sf_dir)
    return scoring_output(fit_predict_at_probes(make_probes(t), t))


def q_summary_output(spark, sf_dir):
    """SummaryOutput creator: one row per conversation with per-source
    contribution strings + rmse + confidence (plans/outputs.py)."""
    from uncharted_ta1_pipeline_spark.plans.outputs import summary_output

    return summary_output(_t(spark, sf_dir))


QUERIES_OPS["scoring_output"] = q_scoring_output
QUERIES_OPS["summary_output"] = q_summary_output


def q_datum_shift(spark, sf_dir):
    """Scalar pandas UDF applied after a join: query-point datum shift at
    the nearest user anchor (functions/geof.py)."""
    from uncharted_ta1_pipeline_spark.functions.geof import datum_shift

    return datum_shift(_t(spark, sf_dir))


QUERIES_OPS["datum_shift"] = q_datum_shift


def q_bleu_fields(spark, sf_dir):
    """BLEU modified 1/2-gram precisions per field (candidate = first
    assistant/tool turn, reference = first user turn), rational form."""
    from uncharted_ta1_pipeline_spark.operators.evalm import bleu_precisions

    return bleu_precisions(_t(spark, sf_dir))


QUERIES_OPS["bleu_fields"] = q_bleu_fields


def q_rouge_l(spark, sf_dir):
    """ROUGE-L (LCS) per field — pure-Catalyst nested-aggregate DP."""
    from uncharted_ta1_pipeline_spark.operators.evalm import rouge_l

    return rouge_l(_t(spark, sf_dir))


QUERIES_OPS["rouge_l"] = q_rouge_l
