"""Deduplication operators for large-scale training-data pipelines.

All hashing is built on md5 hex strings so that Spark and the DuckDB oracle
agree byte-for-byte (both engines emit identical lowercase hex, and hex
strings compare lexicographically the same way) — no engine-specific hash()
anywhere.

Scale design:
- exact: hash-groupBy, one shuffle on the digest.
- minhash LSH: shingle -> 64 affine min-hash perms (one md5 each) -> 16
  band keys -> self-join on band key.  The self-join is on the
  (small-cardinality) band buckets, never a full cross join; buckets larger
  than ``max_band_df`` are stop-listed before the join (skew guard).
- n-gram jaccard: candidate pairs via shared-shingle join (inverted index),
  counts aggregated, jaccard filtered.  Hot shingles should be
  stop-listed (df cap) at scale; parameterized here.
- simhash: 64-bit signature via md5-nibble votes; near-dup = small hamming
  distance, found by exact-match joins on four 16-bit bands.
"""

from __future__ import annotations

import random as _random

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# --- MinHash permutation family ---------------------------------------------
# One md5 per shingle parsed to a 32-bit integer, then 64 affine permutations
# (a*h + b) mod P — production-strength perm count at ~1/6 the hash cost of
# per-seed md5.  Constants are drawn once from a fixed seed and shared with
# the DuckDB oracle; a < 2^31 and h < 2^32 keep a*h + b < 2^63 (no ANSI
# overflow in either engine).
N_PERMS = 64
N_BANDS = 16
BAND_ROWS = 4  # 16 bands x 4 rows = 64 perms
MINHASH_P = 4_294_967_311  # smallest prime > 2^32
_r = _random.Random(911)
PERM_A = [_r.randrange(1, 2**31) for _ in range(N_PERMS)]
PERM_B = [_r.randrange(0, 2**31) for _ in range(N_PERMS)]
DEFAULT_MAX_BAND_DF = 200


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact dedup by content digest; the smallest doc_id survives
    (hash-groupBy — the canonical web-scale exact dedup)."""
    h = F.md5(F.col("text"))
    return (
        docs.withColumn("_h", h)
        .groupBy("_h")
        .agg(
            F.min("doc_id").alias("survivor_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("survivor_doc_id", "n_copies")
    )


def _word_shingles(text: F.Column) -> F.Column:
    """Adjacent word-bigram shingles (order-preserving).

    zip_with over two slices of the split array — O(words) per document.
    (A transform over indices with element_at(split(...), i) re-inlines the
    split into EVERY element access — O(words²) per doc, measured 10x
    slower at sf0.1.)"""
    words = F.split(text, " ")
    n1 = F.greatest(F.size(words) - 1, F.lit(0))
    return F.zip_with(
        F.slice(words, 1, n1),
        F.slice(words, 2, n1),
        lambda a, b: F.concat(a, F.lit("_"), b),
    )


def minhash_signature(docs: DataFrame, n_perms: int = N_PERMS) -> DataFrame:
    """Per-doc minhash signature: sig[s] = min over shingles of
    (a_s * h + b_s) mod P where h = first 32 md5 bits of the shingle.

    ONE md5 per shingle feeds all ``n_perms`` permutations (the classic
    affine family) — hashing cost is independent of the permutation count,
    so 64 perms is as cheap as 6."""
    sh = docs.select(
        "doc_id", F.explode(_word_shingles(F.col("text"))).alias("_sh")
    ).withColumn(
        "_h", F.conv(F.substring(F.md5(F.col("_sh")), 1, 8), 16, 10).cast("long")
    )
    aggs = [
        F.min(
            F.pmod(F.col("_h") * F.lit(PERM_A[s]) + F.lit(PERM_B[s]), F.lit(MINHASH_P))
        ).alias(f"sig{s}")
        for s in range(n_perms)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) rows: 16 bands x 4 signature rows.

    One explode of a 16-element band array — NOT a 16-way union, which
    would make Catalyst recompute the whole signature aggregation once per
    branch (measured 8x slower; DataFrame unions don't share subtrees)."""
    sig = minhash_signature(docs)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "#",
                    *[
                        F.col(f"sig{b * BAND_ROWS + i}").cast("string")
                        for i in range(BAND_ROWS)
                    ],
                )
            ).alias("band_key"),
        )
        for b in range(N_BANDS)
    ]
    return sig.select("doc_id", F.explode(F.array(*band_structs)).alias("_b")).select(
        "doc_id", F.col("_b.band").alias("band"), F.col("_b.band_key").alias("band_key")
    )


def minhash_lsh_pairs(
    docs: DataFrame, max_band_df: int = DEFAULT_MAX_BAND_DF
) -> DataFrame:
    """Candidate near-duplicate pairs: docs sharing any LSH band.

    Skew guard: a band bucket holding more than ``max_band_df`` documents is
    stop-listed before the self-join (the same document-frequency cap the
    shingle index uses).  A degenerate bucket — e.g. millions of empty or
    boilerplate documents landing on one band_key — would otherwise go
    quadratic on a single join key; documents that similar are exact-dedup's
    job (dedup_exact runs first in the pipeline), not LSH's."""
    from pyspark.sql import Window

    # bucket-size cap as a count-over-window filter (not a groupBy+join):
    # the window shuffles by the SAME (band, band_key) key the self-join
    # uses, so both join sides reuse one exchange and the signature
    # aggregation runs once, not three times (measured 2x faster at sf0.1).
    w_bucket = Window.partitionBy("band", "band_key")
    banded = (
        minhash_bands(docs)
        .withColumn("_bn", F.count(F.lit(1)).over(w_bucket))
        .filter(F.col("_bn") <= max_band_df)
        .drop("_bn")
    )
    l = banded.alias("l")
    r = banded.alias("r")
    return (
        l.join(
            r,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.band_key") == F.col("r.band_key"),
                F.col("l.doc_id") < F.col("r.doc_id"),
            ],
        )
        .select(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.5, max_shingle_df: int = 200
) -> DataFrame:
    """Near-duplicate pairs by word-bigram Jaccard similarity >= threshold.

    Inverted-index join on shared shingles; ``max_shingle_df`` stop-lists
    shingles appearing in more documents than the cap — they are
    non-discriminative AND they blow the candidate-pair count up
    quadratically (the skew guard that makes this viable at scale)."""
    from pyspark.sql import Window

    # df-cap and per-doc sizes as count-over-window columns on ONE distinct
    # shingle stream, carried through the self-join: the old shape
    # re-evaluated the explode+distinct+df-join subtree three times (a, b,
    # sizes) and paid two extra joins to attach the sizes; here each side
    # of the self-join already carries its doc's size (constant within a
    # (doc_a, doc_b) group, collapsed with min), and the two join sides
    # are the identical subtree shuffled on the same key, which Spark
    # reuses as one exchange.
    sh = (
        docs.select("doc_id", F.explode(_word_shingles(F.col("text"))).alias("_sh"))
        .distinct()
    )
    kept = (
        sh.withColumn("_df", F.count(F.lit(1)).over(Window.partitionBy("_sh")))
        .filter(F.col("_df") <= max_shingle_df)
        .withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
        .select("doc_id", "_sh", "_n")
    )
    a = kept.alias("a")
    b = kept.alias("b")
    common = (
        a.join(
            b,
            on=[
                F.col("a._sh") == F.col("b._sh"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("_common"),
            F.min(F.col("a._n")).alias("_na"),
            F.min(F.col("b._n")).alias("_nb"),
        )
    )
    return (
        common.withColumn(
            "jaccard",
            F.round(
                F.col("_common") / (F.col("_na") + F.col("_nb") - F.col("_common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def dedup_recall(
    docs: DataFrame, thresholds: tuple = (0.3, 0.5, 0.7)
) -> DataFrame:
    """Recall and precision of the MinHash-LSH candidate generator against
    the exact shingle-Jaccard truth set, per similarity threshold — the
    telemetry a user tuning bands/rows needs, and the LSH twin of
    ``ann_recall`` (quality-of-approximation reporting per the reference's
    eval harness, /root/reference/eval/18month_eval/fe_metrics_utils.py:18-104).

    For each threshold t:
      recall_at_t    = |cand ∩ {pairs with jaccard >= t}| / |{jaccard >= t}|
      precision_at_t = |cand ∩ {pairs with jaccard >= t}| / |cand|
    With 16 bands x 4 rows the theory curve is P(cand) = 1-(1-j^4)^16
    (~0.64 at j=0.5, ~0.99 at j=0.7) — this query measures the realized
    curve on the corpus.

    Determinism: both inputs are exact, oracle-backed sets, so the
    intersection counts are exact integers; the ratios are small-integer
    quotients, safe under round(6).  The threshold grid enters as double
    literals on both engines.

    Scale: the truth set is the near-duplicate pair set (output-bounded —
    at web scale near-dup pairs are a vanishing fraction of n²; both
    generators carry their own df-cap skew guards), and the per-threshold
    rollup joins a 3-row broadcast grid against it.  |cand| rides along as
    one crossJoin'd aggregate scalar.  min(thresholds) must equal the truth
    query's threshold so the truth window is explicit, not implied."""
    truth = ngram_jaccard_pairs(docs, threshold=min(thresholds))
    cand = minhash_lsh_pairs(docs)
    # FULL-outer join + ONE global aggregate instead of the old
    # (truth LEFT JOIN cand) + broadcast-grid theta join + separate
    # count(cand): the old shape evaluated the whole LSH candidate
    # pipeline TWICE (once for the hit flags, once for |cand|) and
    # re-scanned every flagged row once per grid threshold.  Here cand
    # rows ride the same stream (_hit = 1, jaccard NULL — NULL >= t is
    # never true, so they enter n_cand but no per-threshold count), the
    # per-threshold counts become 2 x |grid| conditional aggregates over
    # one pass, and the 3-row output is an explode of the aggregate row.
    # Values are identical: n_truth_t = #(jaccard >= t), n_hit_t =
    # #(jaccard >= t AND hit), n_cand = sum(_hit) (pairs are unique on
    # both sides, so the full join never duplicates a row).
    grid = [(int(round(t * 100)), float(t)) for t in sorted(thresholds)]
    joined = truth.join(
        cand.withColumn("_hit", F.lit(1)), on=["doc_a", "doc_b"], how="full"
    ).select("jaccard", F.coalesce(F.col("_hit"), F.lit(0)).alias("_hit"))
    aggs = [F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_cand")]
    for i, (_pct, t) in enumerate(grid):
        ge = F.col("jaccard") >= F.lit(t)
        aggs.append(
            F.coalesce(
                F.sum(F.when(ge, F.lit(1)).otherwise(F.lit(0))), F.lit(0)
            ).cast("long").alias(f"_nt{i}")
        )
        aggs.append(
            F.coalesce(
                F.sum(F.when(ge, F.col("_hit")).otherwise(F.lit(0))), F.lit(0)
            ).cast("long").alias(f"_nh{i}")
        )
    row = joined.agg(*aggs)
    per_t = F.array(
        *[
            F.struct(
                F.lit(pct).cast("long").alias("threshold_pct"),
                F.col(f"_nt{i}").alias("n_truth"),
                F.col(f"_nh{i}").alias("n_hit"),
            )
            for i, (pct, _t) in enumerate(grid)
        ]
    )
    return (
        row.select(F.explode(per_t).alias("_g"), "n_cand")
        .select("_g.threshold_pct", "_g.n_truth", "_g.n_hit", "n_cand")
        .select(
            "threshold_pct",
            "n_truth",
            "n_hit",
            "n_cand",
            F.when(
                F.col("n_truth") > 0,
                F.round(F.col("n_hit").cast("double") / F.col("n_truth"), 6),
            ).alias("recall_at_t"),
            F.when(
                F.col("n_cand") > 0,
                F.round(F.col("n_hit").cast("double") / F.col("n_cand"), 6),
            ).alias("precision_at_t"),
        )
    )


HEX = "0123456789abcdef"


# slot width for the packed vote sums: each hex nibble's 4 per-bit ONES
# counts ride one long in base 2^15 (4 x 15 = 60 bits, carry-free while a
# document stays under 32,767 tokens — enforced by _SIMHASH_MAX_TOKENS
# below; the pre-pack shape, one sum per bit, is the fallback for corpora
# of larger monolithic documents).
_SIMHASH_PACK_SHIFT = 15
_SIMHASH_PACK_BASE = 1 << _SIMHASH_PACK_SHIFT
_SIMHASH_MAX_TOKENS = _SIMHASH_PACK_BASE - 1


def _simhash_votes(docs: DataFrame, n_bits: int) -> DataFrame:
    """Per-document PACKED bit-vote sums for an ``n_bits``-wide SimHash.

    Each token votes the first ``n_bits/4`` hex nibbles of its md5; a
    signature bit is 1 when the majority of tokens set it (2*ones > n —
    identical to the classic ±1 vote-sum-positive rule).  Instead of one
    aggregate per BIT (64 sums whose per-token expression trees dominated
    the r4 profile), each nibble position contributes ONE long sum of a
    constant-folded 16-entry lookup: entry[nib] packs the nibble's 4 bits
    into base-2^15 slots, so the per-(doc,nibble) sum carries the 4 ones-
    counts carry-free (n_bits/4 aggregates + a token count).  Decode is a
    shift/mask — pure integer, bit-identical at any parallelism.  Nibble ->
    int is strpos over a hex alphabet so Spark and DuckDB agree exactly;
    one md5 per token feeds every bit; the groupBy map-side-combines, so
    the shuffle carries one row per (doc, n_bits/4 longs)."""
    n_nib = n_bits // 4
    B = _SIMHASH_PACK_BASE
    # entry[nib] = sum over slot m of bit_(3-m)(nib) * B^m  (slot m holds
    # the ones-count of bit index i with i%4 == m, MSB-first nibble order)
    pack = [
        sum((((nib >> (3 - m)) & 1) * B**m) for m in range(4))
        for nib in range(16)
    ]
    arr = F.array(*[F.lit(v).cast("long") for v in pack])
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("_tok")
    ).withColumn("_hx", F.substring(F.md5(F.col("_tok")), 1, n_nib))
    aggs = [F.count(F.lit(1)).alias("_ntok")]
    for j in range(n_nib):
        nib = F.position(F.substring(F.col("_hx"), j + 1, 1), F.lit(HEX)) - 1
        aggs.append(
            F.sum(F.element_at(arr, (nib + 1).cast("int"))).alias(f"_p{j}")
        )
    return toks.groupBy("doc_id").agg(*aggs)


def _bit_is_set(i: int) -> F.Column:
    """Majority vote for global bit index ``i`` from the packed sums:
    ones_i = (p[i//4] >> 15*(i%4)) & (2^15-1); set iff 2*ones_i > n."""
    j, m = i // 4, i % 4
    ones = F.shiftright(
        F.col(f"_p{j}"), _SIMHASH_PACK_SHIFT * m
    ).bitwiseAND(F.lit(_SIMHASH_MAX_TOKENS))
    return ones * 2 > F.col("_ntok")


def _band_exprs(n_bits: int, band_bits: int) -> list:
    """Band-int columns from the packed vote sums: band ``b`` packs bits
    [b*band_bits, (b+1)*band_bits) little-endian.  Band ints (<= 2^16)
    stay comfortably inside INT on both engines — the reason the 64-bit
    signature is represented as 4 band ints + a hex string instead of one
    BIGINT (bit 63 would need signed two's-complement gymnastics that
    Spark's ANSI mode and DuckDB handle differently)."""
    cols = []
    for b in range(n_bits // band_bits):
        term = None
        for i in range(b * band_bits, (b + 1) * band_bits):
            t = F.when(
                _bit_is_set(i), F.lit(2 ** (i - b * band_bits))
            ).otherwise(F.lit(0))
            term = t if term is None else term + t
        cols.append(term.cast("int").alias(f"_band{b}"))
    return cols


SIMHASH_BITS = 64
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 16
SIMHASH_MAX_HAMMING = 3
SIMHASH_MAX_BAND_DF = 200


def simhash64(docs: DataFrame) -> DataFrame:
    """Production-width 64-bit SimHash: (doc_id, _band0.._band3,
    simhash_hex) where ``simhash_hex`` is the 16-hex-char signature
    MSB-first and ``_bandN`` are the 4x16-bit band ints ``simhash_pairs``
    buckets on."""
    sig = _simhash_votes(docs, SIMHASH_BITS).select(
        "doc_id", *_band_exprs(SIMHASH_BITS, SIMHASH_BAND_BITS)
    )
    hex_parts = [
        F.lpad(F.lower(F.hex(F.col(f"_band{b}"))), 4, "0")
        for b in range(SIMHASH_BANDS - 1, -1, -1)
    ]
    return sig.withColumn("simhash_hex", F.concat(*hex_parts))


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    max_band_df: int = SIMHASH_MAX_BAND_DF,
) -> DataFrame:
    """Near-duplicate pairs from 64-bit SimHash signatures via bit-band
    bucketing — the standard sublinear construction (same band-join +
    df-cap pattern as ``minhash_lsh_pairs``).

    The 64-bit signature splits into 4 bands of 16 bits (production
    widths); two signatures with hamming distance <= 3 must agree EXACTLY
    on at least one band (pigeonhole: d errors can ruin at most d of the 4
    bands), so the band-bucket join has full recall for ``max_hamming <=
    3``.  Candidates are deduped across bands, then the exact hamming
    distance — the per-band bit_count(xor) summed over the 4 band ints —
    filters.  Skew guard: a (band, value) bucket holding more than
    ``max_band_df`` documents is stop-listed before the self-join —
    identically mirrored in the DuckDB oracle.
    """
    from pyspark.sql import Window

    band_cols = [f"_band{b}" for b in range(SIMHASH_BANDS)]
    sig = simhash64(docs).select("doc_id", *band_cols)
    bands = [
        F.struct(F.lit(b).alias("band"), F.col(f"_band{b}").alias("band_val"))
        for b in range(SIMHASH_BANDS)
    ]
    banded = sig.select(
        "doc_id", *band_cols, F.explode(F.array(*bands)).alias("_b")
    ).select(
        "doc_id",
        *band_cols,
        F.col("_b.band").alias("band"),
        F.col("_b.band_val").alias("band_val"),
    )
    w_bucket = Window.partitionBy("band", "band_val")
    kept = (
        banded.withColumn("_bn", F.count(F.lit(1)).over(w_bucket))
        .filter(F.col("_bn") <= max_band_df)
        .drop("_bn")
    )
    left, right = kept.alias("l"), kept.alias("r")
    cand = (
        left.join(
            right,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.band_val") == F.col("r.band_val"),
                F.col("l.doc_id") < F.col("r.doc_id"),
            ],
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            *[F.col(f"l._band{b}").alias(f"_la{b}") for b in range(SIMHASH_BANDS)],
            *[F.col(f"r._band{b}").alias(f"_rb{b}") for b in range(SIMHASH_BANDS)],
        )
        .distinct()
    )
    hamming = None
    for b in range(SIMHASH_BANDS):
        t = F.bit_count(F.col(f"_la{b}").bitwiseXOR(F.col(f"_rb{b}")))
        hamming = t if hamming is None else hamming + t
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def embedding_cosine_pairs(
    emb: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    block_size: int = 2048,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine similarity >= threshold.

    Blocked brute force: vectors are packed into id-range blocks, block
    PAIRS are joined (upper triangle), and each block-pair is scored with
    one vectorized numpy matmul inside ``mapInPandas`` — O(n^2 d) flops but
    BLAS-vectorized and distributed by block pair, with memory bounded by
    block_size^2.  (Per-pair Catalyst higher-order functions don't codegen
    and are ~50x slower.)  The LSH-bucketed sublinear variant is
    operators/similarity.py:ann_lsh."""
    from collections.abc import Iterator

    v = emb.select(
        F.col(id_col).alias("_id"), F.col("embedding").cast("array<double>").alias("_v")
    ).withColumn("_blk", F.floor(F.col("_id") / block_size).cast("int"))
    packed = v.groupBy("_blk").agg(
        F.collect_list(F.struct("_id", "_v")).alias("_rows")
    )
    bp = (
        packed.alias("a")
        .join(packed.alias("b"), F.col("a._blk") <= F.col("b._blk"))
        .select(
            F.col("a._blk").alias("blk_a"),
            F.col("b._blk").alias("blk_b"),
            F.col("a._rows").alias("rows_a"),
            F.col("b._rows").alias("rows_b"),
        )
    )

    def score(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for _, row in pdf.iterrows():
                ida = np.array([r["_id"] for r in row.rows_a])
                idb = np.array([r["_id"] for r in row.rows_b])
                va = np.array([r["_v"] for r in row.rows_a])
                vb = np.array([r["_v"] for r in row.rows_b])
                va = va / np.linalg.norm(va, axis=1, keepdims=True)
                vb = vb / np.linalg.norm(vb, axis=1, keepdims=True)
                sim = np.round(va @ vb.T, 6)
                ia, ib = np.where(sim >= threshold)
                keep = ida[ia] < idb[ib]
                out_a.append(ida[ia][keep])
                out_b.append(idb[ib][keep])
                out_c.append(sim[ia[keep], ib[keep]])
            yield pd.DataFrame(
                {
                    "vec_a": np.concatenate(out_a) if out_a else [],
                    "vec_b": np.concatenate(out_b) if out_b else [],
                    "cosine": np.concatenate(out_c) if out_c else [],
                }
            )

    return bp.mapInPandas(score, "vec_a long, vec_b long, cosine double")


# --- Cluster resolution over near-dup pairs ---------------------------------
# The pair generators above (LSH / jaccard / simhash) emit edges; turning
# edges into KEEP/DROP decisions needs connected components + a canonical
# representative per component.  Reference analog: the per-map duplicate
# ranking in /root/reference/tasks/point_extraction/point_extractor_pipeline.py
# (_rank_duplicates) resolves local duplicate groups; at corpus scale the
# groups span documents, hence a graph pass.


def dedup_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components of the (undirected) near-duplicate pair graph:
    every document in a component gets ``cluster_id`` = the component's
    minimum doc_id.

    Algorithm: hash-min label propagation with pointer jumping —
    each iteration (a) takes the min label over the node's neighbourhood
    (one shuffle join + a map-side-combinable min aggregate), then
    (b) jumps ``label <- min(label, label(label))`` (a second join on the
    label key), giving O(log diameter) convergence instead of
    O(diameter).  Near-dup components are dense and shallow (LSH bands
    produce near-cliques), so this converges in 2-4 iterations in
    practice.

    Scale design: the driver loop carries ONE scalar per iteration — the
    monotone-decreasing sum of labels (labels only ever decrease, so an
    unchanged sum <=> a fixed point; no row data reaches the driver).
    ``localCheckpoint`` truncates lineage each iteration so the plan stays
    constant-size instead of doubling per pass (executor-local blocks; on
    a real cluster with executor churn use ``spark.sparkContext.
    setCheckpointDir`` + reliable ``checkpoint`` — same call shape).
    """
    fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("label")).first()[0]
    if prev_sum is not None:
        for _ in range(max_iter):
            nbr_min = (
                edges.join(
                    labels.select(F.col("node").alias("dst"), "label"), on="dst"
                )
                .groupBy("src")
                .agg(F.min("label").alias("_nl"))
                .select(F.col("src").alias("node"), "_nl")
            )
            stepped = labels.join(nbr_min, on="node", how="left").select(
                "node",
                F.least(F.col("label"), F.col("_nl")).alias("label"),
            )
            parent = stepped.select(
                F.col("node").alias("label"), F.col("label").alias("_gl")
            )
            labels = (
                stepped.join(parent, on="label", how="left")
                .select(
                    "node", F.least(F.col("label"), F.col("_gl")).alias("label")
                )
                .localCheckpoint()
            )
            cur_sum = labels.agg(F.sum("label")).first()[0]
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
    edges.unpersist()
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def dedup_clusters(docs: DataFrame, pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Full KEEP/DROP resolution: component assignment for every document
    (singletons form their own cluster), cluster size, and a canonical
    representative per cluster — the document with the longest text
    (``n_chars``), ties broken by smallest doc_id (the standard
    keep-longest near-dup policy).

    One output row per document: (doc_id, cluster_id, cluster_size,
    is_canonical).  ``stats``/``canon`` are one row per CLUSTER — tiny
    relative to the corpus — so AQE broadcasts the final enrichment joins;
    the only corpus-sized shuffles are the component join on doc_id and
    the groupBy(cluster_id)."""
    comp = dedup_components(pairs, max_iter=max_iter)
    base = (
        docs.select("doc_id", "n_chars")
        .join(comp, on="doc_id", how="left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("doc_id")))
    )
    stats = base.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.max("n_chars").alias("_maxc"),
    )
    canon = (
        base.join(stats, on="cluster_id")
        .filter(F.col("n_chars") == F.col("_maxc"))
        .groupBy("cluster_id")
        .agg(F.min("doc_id").alias("_canonical"))
    )
    return (
        base.join(stats.select("cluster_id", "cluster_size"), on="cluster_id")
        .join(canon, on="cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            (F.col("doc_id") == F.col("_canonical")).cast("long").alias(
                "is_canonical"
            ),
        )
    )


# --- Benchmark decontamination ----------------------------------------------

BENCH_SALT = "bench-v1|"


def benchmark_flag(doc_id: F.Column) -> F.Column:
    """Deterministic benchmark membership (~1/16 of the corpus): first
    nibble of md5('bench-v1|' || doc_id) == '0'.  Stands in for a real
    held-out eval suite; any (doc_id -> bool) predicate or an explicit
    benchmark table slots into :func:`contamination` the same way."""
    return (
        F.substring(
            F.md5(F.concat(F.lit(BENCH_SALT), doc_id.cast("string"))), 1, 1
        )
        == "0"
    )


def contamination(docs: DataFrame, threshold: float = 0.2) -> DataFrame:
    """Benchmark-contamination check: for every non-benchmark document, the
    fraction of its distinct word-bigram shingles that appear anywhere in
    the benchmark set (the standard n-gram-overlap decontamination used
    before training-set release).

    Scale design: the benchmark shingle vocabulary is SMALL (eval suites
    are millions of n-grams, not trillions), so it is distinct-ed and
    broadcast — the corpus side is touched exactly twice (explode +
    per-doc aggregate) with NO corpus-vs-corpus shuffle join.  The only
    corpus-sized exchange is the distinct/groupBy on (doc_id, shingle).
    """
    marked = docs.withColumn("_bench", benchmark_flag(F.col("doc_id")))
    bench_sh = (
        marked.filter(F.col("_bench"))
        .select(F.explode(_word_shingles(F.col("text"))).alias("_sh"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    cand_sh = (
        marked.filter(~F.col("_bench"))
        .select("doc_id", F.explode(_word_shingles(F.col("text"))).alias("_sh"))
        .distinct()
    )
    hits = (
        cand_sh.join(F.broadcast(bench_sh), on="_sh", how="left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hits"),
        )
    )
    frac = F.when(
        F.col("n_shingles") > 0, F.col("n_hits") / F.col("n_shingles")
    ).otherwise(F.lit(0.0))
    return (
        hits.withColumn("overlap_frac", F.round(frac, 6))
        .withColumn(
            "contaminated",
            (F.col("overlap_frac") >= F.lit(threshold)).cast("long"),
        )
        .select("doc_id", "n_shingles", "n_hits", "overlap_frac", "contaminated")
    )


def line_dedup(
    docs: DataFrame, max_df: int = 1, sep: str = "\n", text_col: str = "text"
) -> DataFrame:
    """Line-level boilerplate removal (the CCNet/RefinedWeb pass): a line
    appearing in more than ``max_df`` DISTINCT documents is dropped from
    every document; surviving lines are re-assembled in original order.

    Output: (doc_id, clean_text, n_lines, n_removed) — one row per doc,
    including docs whose every line was removed (clean_text = '').

    Scale: the line-frequency table is one shuffle on the line value (the
    inverted index); re-assembly is a per-doc sort of an already-grouped
    small array (array_sort over collect_list, NOT a window) — no
    corpus-wide ordering anywhere.  A df stop-list cap bounds the join
    key skew the same way the shingle caps do.
    """
    lines = docs.select(
        "doc_id", F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line")
    )
    dfc = (
        lines.select("doc_id", "line")
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    j = lines.join(dfc, on="line").withColumn("_keep", F.col("_df") <= max_df)
    kept_struct = F.when(F.col("_keep"), F.struct("pos", "line"))
    return (
        j.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["line"],
                ),
                sep,
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_lines"),
            F.sum((~F.col("_keep")).cast("long")).alias("n_removed"),
        )
        .select("doc_id", "clean_text", "n_lines", "n_removed")
    )


def span_dedup(
    docs: DataFrame, k: int = 8, min_df: int = 2, text_col: str = "text"
) -> DataFrame:
    """Cross-document repeated-span detection (the exact-substring dedup
    signal of Lee et al. 2022, at word-k-gram granularity): a k-word span
    whose hash occurs in >= ``min_df`` DISTINCT documents is duplicated
    text; each document reports how much of it is made of such spans.

    Output: (doc_id, n_spans, n_dup_spans, dup_span_share) — one row per
    document, including docs shorter than ``k`` words (n_spans = 0,
    share NULL).  Positions are counted per-occurrence, so a boilerplate
    footer pasted twice in one doc counts twice — the share measures text
    mass, not vocabulary.

    Scale: explode is O(total words) rows of fixed-width md5 keys; the
    span-frequency table is one hash-groupBy (inverted index, map-side
    combined after the per-doc distinct) — the same linear shape as
    ``line_dedup``, no pair generation at all.  In-doc-only repetition is
    deliberately excluded (df counts distinct docs); ``repetition_features``
    owns that signal.  Reference analog re-expressed: cross-tile duplicate
    suppression keyed on content identity,
    /root/reference/tasks/point_extraction/tiling.py:277-413.
    """
    words = F.split(F.col(text_col), " ")
    base = docs.select(
        "doc_id",
        words.alias("_w"),
        F.greatest(F.size(words) - k + 1, F.lit(0)).alias("_n"),
    )
    # sequence(1, 0) descends in Spark — guard zero-span docs explicitly
    idx = F.when(F.col("_n") >= 1, F.sequence(F.lit(1), F.col("_n"))).otherwise(
        F.array().cast("array<int>")
    )
    sp = base.select(
        "doc_id",
        F.explode(
            F.transform(
                idx, lambda i: F.md5(F.array_join(F.slice(F.col("_w"), i, k), " "))
            )
        ).alias("_h"),
    )
    # One explode/md5 pass instead of two: reduce to per-(doc, span)
    # OCCURRENCE counts first (map-side combined), then the span's
    # document frequency is a count-over-window on that aggregate — the
    # window shuffles by the SAME _h key the old distinct+groupBy+join
    # shape needed THREE exchanges (and a second full explode) for.
    # n_spans = sum of occurrences ≡ the old per-occurrence count;
    # n_dup_spans = occurrences whose span df >= min_df ≡ the old
    # sum((_df >= min_df)::long) over occurrence rows.
    from pyspark.sql import Window

    g = sp.groupBy("doc_id", "_h").agg(F.count(F.lit(1)).alias("_occ"))
    w_df = Window.partitionBy("_h")
    perdoc = (
        g.withColumn("_df", F.count(F.lit(1)).over(w_df))
        .groupBy("doc_id")
        .agg(
            F.sum("_occ").cast("long").alias("n_spans"),
            F.sum(
                F.when(F.col("_df") >= min_df, F.col("_occ")).otherwise(F.lit(0))
            ).alias("n_dup_spans"),
        )
    )
    return (
        base.select("doc_id")
        .join(perdoc, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
            F.when(
                F.col("n_spans") > 0,
                F.round(F.col("n_dup_spans") / F.col("n_spans"), 6),
            ).alias("dup_span_share"),
        )
    )


def conv_digest_dedup(transcripts: DataFrame) -> DataFrame:
    """Conversation-level exact dedup: one md5 digest per conversation over
    its turns in canonical (ts, turn_idx) order, then the same
    smallest-id-survives rule as ``dedup_exact`` — the transcript analog of
    document exact dedup (two sessions are duplicates iff every turn's
    (role, text) matches in order).

    Output per conversation: conv_id, n_turns, conv_digest,
    canonical_conv_id (smallest conv_id sharing the digest), is_dup (1 if
    conv_id != canonical).

    Digest construction is engine-portable by the module contract (md5 hex
    only): each turn serializes to ``role:text``, turns joined with the
    0x1f unit separator after an ``array_sort`` over (us, turn_idx)-keyed
    structs — array_sort on structs orders by fields left-to-right, which
    is exactly the oracle's ``string_agg(... ORDER BY ts, turn_idx)``.

    Scale: one groupBy(conv_id) with map-side combine builds the digests
    (per-group state is the turn list — bounded by the same hot-
    conversation threshold every per-conv op shares; a 10^8-turn outlier
    routes through chunked pre-digesting like featurize_hybrid), then one
    tiny groupBy(digest) for the survivor map, broadcast back.  No
    corpus×corpus anything.
    Reference analog re-expressed: content-digest task cache keys,
    /root/reference/tasks/common/task.py:188-212.
    """
    per_turn = F.struct(
        F.unix_micros("ts").alias("us"),
        F.col("turn_idx").alias("ti"),
        F.concat_ws(":", "role", "text").alias("s"),
    )
    digests = transcripts.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(per_turn)), lambda t: t["s"]
                ),
                "\x1f",
            )
        ).alias("conv_digest"),
    )
    canon = digests.groupBy("conv_digest").agg(
        F.min("conv_id").alias("canonical_conv_id")
    )
    return (
        digests.join(F.broadcast(canon), on="conv_digest")
        .select(
            "conv_id",
            "n_turns",
            "conv_digest",
            "canonical_conv_id",
            (F.col("conv_id") != F.col("canonical_conv_id"))
            .cast("long")
            .alias("is_dup"),
        )
    )
