"""Pair scoring — batched similarity batteries + the reference's confidence
formulas over blocked candidate pairs (SURVEY.md §2.8 F6–F12, §2.10).

Blocking carries both sides' names onto the pair row; the batteries
(Jaro-Winkler, token-set Levenshtein — Arrow-batched pandas UDFs) and the
F7 Wikidata confidence formula (pure Column expr) run in a single
projection. Jaccard / exact / initials-subset round out the composite.

Scale: the UDFs see only blocked pairs. With the F7 formula and Jaccard as
pure Column exprs, the Python-side work per pair is two string kernels —
the rest stays in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.confidence import (
    composite_match_score,
    confidence_band_5,
    source_boost,
    wikidata_confidence,
)
from ..functions.normalize import token_sort
from ..functions.similarity import make_scoring_batteries_arrow_udf

DEFAULT_MATCH_THRESHOLD = 0.70


def cap_persisted_scores(
    scored: DataFrame, pruned_dict_top_k: int | None = 10
) -> DataFrame:
    """Persistence policy for a scored-pair frame (round-4 verdict item 5):
    96.5% of the sf0.1 stage rows are PRUNED — null kernel columns, upper-
    bound scores below every decision bar — yet they dominated the stage
    write (measured: 34.2M rows / 993 MB full vs 2.0M rows / 61 MB under
    this policy, identical decisions).

    - pruned ``self`` rows are DROPPED: no consumer exists. Clusters read
      only ``is_match`` edges (a pruned row's score < prune cutoff ≤
      threshold can never satisfy it) and review is entity↔authority only.
      The filter is row-local, so it commutes with any batching — full and
      incremental runs persist identical self rows.
    - pruned ``dict`` rows are CAPPED at ``pruned_dict_top_k`` per entity
      (score desc, right_key asc — total order, deterministic/resumable),
      mirroring the reference's own storage bound (max_results=10,
      reconciliation_engine.py:394): a reviewer dropping the confidence
      filter still sees the entity's best below-bar candidates. An
      entity's dictionary pairs are scored exactly once (bootstrap or its
      first batch), so the per-entity cap also commutes with batching.
    - non-pruned rows always persist in full, bit-identical.

    ``pruned_dict_top_k=None`` disables the policy (persist everything).
    The self-drop runs BEFORE the cap's shuffle, so the window moves only
    kept + pruned-dict rows, never the full pair stream.
    """
    if pruned_dict_top_k is None:
        return scored
    pruned = F.col("score_pruned")
    is_self = F.col("pair_kind") == F.lit("self")
    slim = scored.filter(~(pruned & is_self))
    w = Window.partitionBy("left_key", "pair_kind", "score_pruned").orderBy(
        F.desc("score"), F.asc("right_key")
    )
    return (
        slim.withColumn("_rn", F.row_number().over(w))
        .filter((~pruned) | (F.col("_rn") <= pruned_dict_top_k))
        .drop("_rn")
    )


def score_pairs(
    named_pairs: DataFrame,
    threshold: float = DEFAULT_MATCH_THRESHOLD,
    prefilter: bool = True,
    success_threshold: float = 0.5,
) -> DataFrame:
    """named_pairs(left_key,right_key,block_pass,block_key,left_name,
    right_name,right_description[,left_sorted,right_sorted]) → SCORES
    schema + is_match + score_pruned.

    JVM-side economics at 10^12 pairs: token splitting/sorting and the
    distinct-token arrays are computed ONCE per pair into temp columns and
    reused by every formula — profiling showed the JVM expression work
    (regex splits + array set-ops repeated per formula) costing as much CPU
    as the Python batteries. Blocking can pass the token-sorted forms
    through the pair table (left_sorted/right_sorted) to skip even that.

    **Prefilter contract** (``prefilter=True``, the default): pairs whose
    composite score is PROVABLY below the prune cutoff — computed with the
    sound bound :func:`..functions.prefilter.na_upper_bound_py` (~7 µs)
    substituted for the alignment kernel (~34 µs), with the JVM-computed
    exact components (token-Levenshtein, F7, boost) fed into the decision —
    skip the Jaro-Winkler/alignment kernels (the bound runs inside the same
    single Arrow crossing; a Catalyst HOF formulation measured ~20× slower
    than the kernels it replaces — see functions/prefilter.py).
    The cutoff is ``min(threshold, success_threshold)``: it must sit at
    or below EVERY decision bar a consumer applies — ``is_match``
    (>= threshold) and the best-match/job-status filters
    (> ``success_threshold``, the reference's P6 "successful match" bar,
    0.5 at api.py:150, configurable below it) — so every decision is
    identical with the prefilter on or off (parity-tested). For pruned
    rows the emitted ``score`` is the upper bound itself (< the cutoff,
    marked ``score_pruned=true``) and
    ``jaro_winkler``/``name_align`` are null; all other columns
    (token_lev_ratio, jaccard, wikidata_confidence, bands-of-emitted-score)
    are exact. Rows with ``score_pruned=false`` are bit-identical to a
    ``prefilter=False`` run."""
    if "left_sorted" in named_pairs.columns:
        named_pairs = named_pairs.withColumnRenamed(
            "left_sorted", "_ls"
        ).withColumnRenamed("right_sorted", "_rs")
    else:
        named_pairs = named_pairs.withColumn(
            "_ls", token_sort(F.col("left_name"))
        ).withColumn("_rs", token_sort(F.col("right_name")))
    if "left_toks" in named_pairs.columns:
        # blocking computed the distinct-token arrays ONCE per entity row
        # and carried them through the pair join (round 6): reusing them
        # here removes the per-pair split + array_remove + array_distinct
        # (×2 sides × every pair — measured ~11 s of the sf0.1 local[8]
        # scoring wall). The carried value is the identical expression
        # over the identical token-sorted string.
        named_pairs = named_pairs.withColumnRenamed(
            "left_toks", "_lt"
        ).withColumnRenamed("right_toks", "_rt")
    else:
        # distinct-token arrays from the already-sorted forms: split on
        # single space (no regex), already deduped-adjacent —
        # array_distinct still needed for repeated tokens but no second
        # regex pass
        named_pairs = named_pairs.withColumn(
            "_lt", F.array_distinct(F.array_remove(F.split(F.col("_ls"), " "), ""))
        ).withColumn(
            "_rt", F.array_distinct(F.array_remove(F.split(F.col("_rs"), " "), ""))
        )
    # ONE token-set intersect per pair (round 6): jaccard and the F7
    # formula both need |A ∩ B| and |A ∪ B|; the intersect is computed
    # into a shared column and the union is the exact integer
    # |A| + |B| − |A ∩ B| — the second per-pair set operation (and any
    # repeat of the first under imperfect subexpression elimination)
    # disappears from the 34M-row projection.
    named_pairs = (
        named_pairs.withColumn("_nl", F.size("_lt"))
        .withColumn("_nr", F.size("_rt"))
        .withColumn("_inter", F.size(F.array_intersect(F.col("_lt"), F.col("_rt"))))
        .withColumn("_union", F.col("_nl") + F.col("_nr") - F.col("_inter"))
    )
    lt, rt = F.col("_lt"), F.col("_rt")
    jaccard = F.when(
        (F.col("_nl") > 0) & (F.col("_nr") > 0),
        F.col("_inter").cast("double") / F.col("_union").cast("double"),
    ).otherwise(F.lit(0.0))
    # equal token-sorted strings short-circuit the levenshtein DP: distance
    # 0 → ratio exactly 1.0 (1 − 0/max), the identical value
    token_lev_ratio = (
        F.when((F.col("_ls") == "") & (F.col("_rs") == ""), F.lit(1.0))
        .when(F.col("_ls") == F.col("_rs"), F.lit(1.0))
        .otherwise(
            1.0
            - F.levenshtein(F.col("_ls"), F.col("_rs")).cast("double")
            / F.greatest(F.length("_ls"), F.length("_rs"), F.lit(1))
        )
    )
    wconf = wikidata_confidence(
        F.col("left_name"),
        F.col("right_name"),
        F.col("right_description"),
        search_tokens=F.col("_lt"),
        label_tokens=F.col("_rt"),
        overlap_count=F.col("_inter"),
        total_count=F.col("_union"),
    )
    has_source = "right_source" in named_pairs.columns

    def apply_boost(score_col):
        """F9 VIAF source-count / F10 Getty preferred-term boosts, capped at
        1.0 (self pairs carry a null source and boost nothing). Monotone in
        the base score, so applying it to the upper bound keeps the bound
        sound."""
        if not has_source:
            return score_col
        boost = source_boost(
            F.col("right_source"), F.col("right_n_sources"), F.col("right_term_type")
        )
        return F.when(
            F.col("right_source").isNotNull(),
            F.least(score_col + boost, F.lit(1.0)),
        ).otherwise(score_col)

    passthrough = [
        c for c in ("pair_kind", "right_source") if c in named_pairs.columns
    ]
    out_cols = [
        "left_key",
        "right_key",
        *passthrough,
        "block_pass",
        "block_key",
        "jaro_winkler",
        "token_lev_ratio",
        "name_align",
        "jaccard",
        "wikidata_confidence",
        "score",
        "confidence",
        "is_match",
        "score_pruned",
    ]

    if has_source:
        boost_in = F.when(
            F.col("right_source").isNotNull(),
            source_boost(
                F.col("right_source"),
                F.col("right_n_sources"),
                F.col("right_term_type"),
            ),
        ).otherwise(F.lit(0.0))
    else:
        boost_in = F.lit(0.0)
    # prefilter=False is expressed as an unreachable cutoff (-1): the same
    # single fused UDF serves both modes, and nothing can score below -1,
    # so every row takes the exact kernel path
    cutoff = min(threshold, success_threshold) if prefilter else -1.0
    # ONE projection, ONE Arrow crossing: the JVM computes the exact
    # composite components (token-Levenshtein via built-in levenshtein on
    # the token-sorted forms — whole-stage codegen — plus F7 and the
    # boost), feeds them into the fused UDF where the ~7 µs sound bound
    # gates the ~34 µs kernels per pair; the composite expression then
    # substitutes the bound for the kernel value on pruned rows (same IEEE
    # expression → pruned implies score < cutoff, and non-pruned rows are
    # bit-identical to a prefilter=False run).
    scored = (
        named_pairs.withColumn("_tlr", token_lev_ratio)
        .withColumn("_wc", wconf)
        .withColumn(
            "_b",
            make_scoring_batteries_arrow_udf(float(cutoff))(
                F.col("_ls"),
                F.col("_rs"),
                F.col("_tlr"),
                F.col("_wc"),
                boost_in,
            ),
        )
        .withColumn("jaro_winkler", F.col("_b.jaro_winkler"))
        .withColumn("name_align", F.col("_b.name_align"))
        .withColumn("token_lev_ratio", F.col("_tlr"))
        .withColumn("jaccard", jaccard)
        .withColumn("wikidata_confidence", F.col("_wc"))
        .withColumn(
            "score",
            composite_match_score(
                F.coalesce(F.col("_b.name_align"), F.col("_b.na_ub")),
                F.col("token_lev_ratio"),
                F.col("wikidata_confidence"),
                F.col("_ls") == F.col("_rs"),
            ),
        )
        .withColumn("score", apply_boost(F.col("score")))
        .withColumn("confidence", confidence_band_5(F.col("score")))
        .withColumn("is_match", F.col("score") >= threshold)
        .withColumn("score_pruned", F.col("_b.pruned"))
    )
    return scored.select(*out_cols)
