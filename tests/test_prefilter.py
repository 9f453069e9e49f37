"""Scoring prefilter: the JVM-side name_align upper bound must NEVER fall
below the Python kernel (soundness — a violation could prune a true match),
and score_pairs(prefilter=True) must be decision-identical and
exact-row-bit-identical to prefilter=False."""

from __future__ import annotations

import random

import pyspark.sql.functions as F


def _random_name_pairs(n: int, seed: int = 7) -> list[tuple[str, str]]:
    """Adversarial generator: shared surnames, typos, initials, titles,
    duplicates, empties — token-sorted like the real scoring inputs."""
    rng = random.Random(seed)
    surnames = ["blackwood", "stawickkel", "ingolhil", "smith", "smyth", "li", "o"]
    firsts = ["oliver", "olivia", "quentin", "ann", "anne", "a", "o", "jon", "john"]
    titles = ["dr", "mr", "prof", ""]

    def mutate(t: str) -> str:
        if not t or rng.random() < 0.5:
            return t
        i = rng.randrange(len(t))
        op = rng.random()
        if op < 0.33:
            return t[:i] + t[i + 1 :]  # drop
        if op < 0.66:
            return t[:i] + chr(rng.randrange(97, 123)) + t[i:]  # insert
        return t[:i] + chr(rng.randrange(97, 123)) + t[i + 1 :]  # substitute

    def name() -> str:
        toks = [rng.choice(titles), rng.choice(firsts), rng.choice(surnames)]
        if rng.random() < 0.3:
            toks.append(rng.choice(firsts))  # extra token
        if rng.random() < 0.15:
            toks.append(toks[-1])  # duplicate token
        toks = [mutate(t) for t in toks if t]
        return " ".join(sorted(t for t in toks if t))

    out = []
    for _ in range(n):
        a = name()
        b = name() if rng.random() < 0.6 else a  # mix in identical pairs
        if rng.random() < 0.1:
            b = ""  # empty side
        out.append((a, b))
    out += [
        ("", ""),
        ("dr", "dr"),
        ("a b", "b a"),
        ("ann smith", "anne smith"),
        ("o blackwood", "q blackwood"),
        ("o blackwood", "blackwood oliver"),
        ("ann ann", "ann bob"),
        ("ann anne", "ann ann"),
        ("dr maria de la cruz", "maria de la cruz"),
        ("x", "xavier yellow zed"),
    ]
    return out


def test_name_align_upper_bound_sound():
    """The bound is pure Python (see prefilter.py module docstring for why
    not Catalyst), so the fuzz runs kernel-speed: 20k adversarial pairs."""
    from metadata_reconciliation_tool_spark.functions.prefilter import (
        na_upper_bound_py,
    )
    from metadata_reconciliation_tool_spark.functions.similarity import name_align_py

    pairs = _random_name_pairs(20_000)
    violations = [
        (a, b, na_upper_bound_py(a, b), name_align_py(a, b))
        for a, b in pairs
        if na_upper_bound_py(a, b) < name_align_py(a, b) - 1e-12
    ]
    assert violations == [], f"bound below kernel for: {violations[:5]}"


def test_vectorized_bound_bit_identical_to_spec():
    """make_na_upper_bound_vectorized (the batch-flattened numpy evaluator
    the fused UDF runs since round 5) must return EXACTLY na_upper_bound_py
    for every pair — including names whose alphabet overflows the 63-bit
    char mask (the scalar-fallback path) and duplicate/initial/title
    cases. Same exact-equality bar as the scalar-batch test above."""
    import random

    from metadata_reconciliation_tool_spark.functions.prefilter import (
        make_na_upper_bound_vectorized,
        na_upper_bound_py,
    )

    pairs = _random_name_pairs(20_000, seed=13)
    # wide-alphabet adversaries: >63 distinct chars forces the overflow
    # fallback; mixed with ascii so both paths run inside one batch
    rng = random.Random(99)
    wide = [chr(0x100 + i) for i in range(80)] + list("abcdefghij")

    def wname() -> str:
        return " ".join(
            "".join(rng.choice(wide) for _ in range(rng.randint(1, 6)))
            for _ in range(rng.randint(1, 3))
        )

    pairs += [(wname(), wname()) for _ in range(3_000)]
    ev = make_na_upper_bound_vectorized()
    got = ev([a for a, _ in pairs], [b for _, b in pairs])
    mism = [
        (a, b, na_upper_bound_py(a, b), got[k])
        for k, (a, b) in enumerate(pairs)
        if na_upper_bound_py(a, b) != got[k]
    ]
    assert mism == [], f"vectorized evaluator diverged: {mism[:5]}"


def test_arrow_scoring_udf_matches_pandas_twin():
    """make_scoring_batteries_arrow_udf (the fused UDF the scoring
    projection runs) must return EXACTLY the rows the scalar specs give —
    same prune set, same kernel values, same nulls — on the adversarial
    name distribution plus null/empty/title/boost edges, at both an active
    cutoff and the disabled (-1) cutoff. Spec per pair: a non-equal pair
    prunes iff min(0.55·na_upper_bound_py + 0.25·tlr + 0.2·wc + boost, 1)
    < cutoff (null tlr/wc never prune, null boost is 0); pruned rows are
    (null, null, bound, true), kept rows (jaro_winkler_py, name_align_py,
    null, false). The pandas twin the test is named after is gone; the
    scalar specs are its reference now."""
    import random

    import pyarrow as pa

    from metadata_reconciliation_tool_spark.functions.prefilter import (
        na_upper_bound_py,
    )
    from metadata_reconciliation_tool_spark.functions.similarity import (
        jaro_winkler_py,
        make_scoring_batteries_arrow_udf,
        name_align_py,
    )

    rng = random.Random(31)
    pairs = _random_name_pairs(5_000, seed=31)
    pairs += [(None, None), (None, "x y"), ("", ""), ("dr", "dr"), ("a", "a")]
    n = len(pairs)
    tlr = [None if rng.random() < 0.01 else rng.random() for _ in range(n)]
    wc = [None if rng.random() < 0.01 else rng.random() for _ in range(n)]
    boost = [
        None if rng.random() < 0.3 else rng.choice([0.0, 0.05, 0.1]) for _ in range(n)
    ]
    args = [
        pa.array([a for a, _ in pairs], type=pa.string()),
        pa.array([b for _, b in pairs], type=pa.string()),
        *(pa.array(v, type=pa.float64()) for v in (tlr, wc, boost)),
    ]
    nan = float("nan")

    def spec(k: int, cutoff: float) -> tuple:
        a, b = pairs[k]
        if cutoff > 0 and a != b:
            ub = na_upper_bound_py(a, b)
            t = nan if tlr[k] is None else tlr[k]
            w = nan if wc[k] is None else wc[k]
            blend = 0.55 * ub + 0.25 * t + 0.2 * w
            if min(blend + (boost[k] or 0.0), 1.0) < cutoff:
                return (None, None, ub, True)
        return (jaro_winkler_py(a or "", b or ""), name_align_py(a, b), None, False)

    cols = ("jaro_winkler", "name_align", "na_ub", "pruned")
    pruned_any = False
    for cutoff in (0.5, 0.7, -1.0):
        got = make_scoring_batteries_arrow_udf(cutoff).func(*args)
        rows = list(zip(*(got.field(c).to_pylist() for c in cols)))
        mism = [
            (pairs[k], rows[k], spec(k, cutoff))
            for k in range(n)
            if rows[k] != spec(k, cutoff)
        ]
        assert mism == [], f"cutoff={cutoff}: {mism[:5]}"
        pruned_any |= any(r[3] for r in rows)
        if cutoff < 0:
            assert not any(r[3] for r in rows)
    assert pruned_any


def test_arrow_scoring_udf_all_null_names():
    """A batch whose name column is entirely null (no dictionary entries on
    that side) must score every row as the empty name would, not fail."""
    import pyarrow as pa

    from metadata_reconciliation_tool_spark.functions.prefilter import (
        na_upper_bound_py,
    )
    from metadata_reconciliation_tool_spark.functions.similarity import (
        make_scoring_batteries_arrow_udf,
    )

    ls = pa.array([None, None, None], type=pa.string())
    rs = pa.array(["john smith", None, "a"], type=pa.string())
    tlr, wc, boost = (pa.array([0.0, 0.0, 0.0]) for _ in range(3))
    fn = make_scoring_batteries_arrow_udf(0.7).func
    for a, b in ((ls, rs), (rs, ls), (ls, ls)):
        got = fn(a, b, tlr, wc, boost)
        pruned = got.field("pruned").to_pylist()
        ub = got.field("na_ub").to_pylist()
        for k, (x, y) in enumerate(zip(a.to_pylist(), b.to_pylist())):
            if x == y:  # equal (both null) never prunes
                assert not pruned[k]
            else:
                assert pruned[k] and ub[k] == na_upper_bound_py(x, y)


def test_arrow_scoring_udf_combines_each_chunked_argument():
    """Any argument may arrive as a ChunkedArray, not only the first: a plain
    ``s1`` with chunked ``s2``/``tlr`` must give the all-plain result."""
    import pyarrow as pa

    from metadata_reconciliation_tool_spark.functions.similarity import (
        make_scoring_batteries_arrow_udf,
    )

    s1 = pa.array(["john smith", "j smith", "dr anne li", "x"])
    s2 = ["jon smith", "john smith", "anne lee", "x"]
    tlr = [0.9, 0.5, 0.1, 1.0]
    wc = pa.array([0.5, 0.5, 0.2, 0.95])
    boost = pa.array([0.0, 0.0, 0.0, 0.0])
    fn = make_scoring_batteries_arrow_udf(0.7).func
    want = fn(s1, pa.array(s2), pa.array(tlr), wc, boost)
    got = fn(
        s1,
        pa.chunked_array([s2[:1], s2[1:]]),
        pa.chunked_array([tlr[:3], tlr[3:]]),
        wc,
        boost,
    )
    assert got.equals(want)


def test_vectorized_bound_dense_fallback_edges():
    """Round-6 dense evaluator edge paths: names with MORE distinct tokens
    than the dense slot width (_MAXD) must route to the exact scalar
    fallback, None names must behave as empty strings (the factorize
    sentinel path), and many-token × few-token mixes must stay
    bit-identical to the spec inside one batch."""
    import random

    from metadata_reconciliation_tool_spark.functions.prefilter import (
        _MAXD,
        make_na_upper_bound_vectorized,
        na_upper_bound_py,
    )

    rng = random.Random(41)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
             "theta", "al", "be", "ga", "x", "dr", "mr"]

    def name(k_min: int, k_max: int) -> str:
        k = rng.randint(k_min, k_max)
        toks = rng.sample(words, min(k, len(words)))
        if rng.random() < 0.3:
            toks.append(rng.choice(toks))  # duplicate
        return " ".join(sorted(toks))

    pairs: list[tuple[str | None, str | None]] = []
    for _ in range(3000):
        # force plenty of sides past _MAXD distinct tokens
        pairs.append((name(1, _MAXD + 3), name(1, _MAXD + 3)))
    pairs += [(None, "alpha beta"), ("alpha", None), (None, None),
              ("", "alpha"), (" ".join(words), "alpha")]
    ev = make_na_upper_bound_vectorized()
    got = ev([a for a, _ in pairs], [b for _, b in pairs])
    mism = [
        (a, b, na_upper_bound_py(a or "", b or ""), got[k])
        for k, (a, b) in enumerate(pairs)
        if na_upper_bound_py(a or "", b or "") != got[k]
    ]
    assert mism == [], f"dense evaluator diverged: {mism[:5]}"


def test_popcount_table_fallback_matches_bitwise_count():
    """_popcount64 uses np.bitwise_count when available (numpy>=2) and a
    byte-table fallback otherwise; the fallback branch never runs in this
    container, so its equivalence is pinned directly against a pure-Python
    popcount over adversarial masks (all-ones, sign bit, random)."""
    import random

    import numpy as np

    from metadata_reconciliation_tool_spark.functions.prefilter import _POP8

    rng = random.Random(5)
    vals = [0, 1, (1 << 63), (1 << 64) - 1, 0x5555555555555555]
    vals += [rng.getrandbits(64) for _ in range(2000)]
    x = np.array(vals, dtype=np.uint64)
    table = _POP8[x.view(np.uint8).reshape(len(x), 8)].sum(axis=1, dtype=np.int64)
    expect = [bin(v).count("1") for v in vals]
    assert table.tolist() == expect
    if hasattr(np, "bitwise_count"):
        assert np.bitwise_count(x).astype(np.int64).tolist() == expect


def test_name_align_upper_bound_sound_long_tokens():
    """ADVICE r3 (high): the old `best > 0.99` early break in
    na_upper_bound_py stopped the per-token max before a later residual
    token with a strictly higher bound AND true score — only reachable when
    per-token bounds exceed 0.99, i.e. tokens >20 chars (long org /
    transliterated names). This fuzz drives 20–150-char tokens with heavy
    shared prefixes so multiple residual bounds land above 0.99."""
    from metadata_reconciliation_tool_spark.functions.prefilter import (
        na_upper_bound_py,
    )
    from metadata_reconciliation_tool_spark.functions.similarity import name_align_py

    rng = random.Random(23)

    def long_tok() -> str:
        n = rng.choice([20, 40, 80, 120, 150])
        base = "a" * n
        # 0–3 point mutations near the tail keep the Winkler prefix long
        out = list(base)
        for _ in range(rng.randrange(0, 4)):
            i = rng.randrange(n // 2, n)
            out[i] = chr(rng.randrange(97, 100))
        return "".join(out)

    pairs = []
    for _ in range(3000):
        na, nb = rng.randrange(1, 4), rng.randrange(1, 4)
        a = " ".join(sorted(long_tok() for _ in range(na)))
        b = " ".join(sorted(long_tok() for _ in range(nb)))
        pairs.append((a, b))
    # the advisor's shape: one small token vs several near-identical long
    # residuals whose bounds all clear 0.99 — order must not matter
    t150 = "a" * 150
    variants = [t150[:-k] + "b" * k for k in (1, 2, 3, 5)]
    for i in range(len(variants)):
        for j in range(len(variants)):
            pairs.append((variants[i], " ".join(sorted([variants[j], t150]))))
    bad = [
        (a[:40], b[:40], na_upper_bound_py(a, b), name_align_py(a, b))
        for a, b in pairs
        if na_upper_bound_py(a, b) < name_align_py(a, b) - 1e-12
    ]
    assert bad == [], f"long-token bound below kernel: {bad[:5]}"


def test_token_pair_upper_bound_sound():
    from metadata_reconciliation_tool_spark.functions.prefilter import (
        token_pair_upper_bound_py,
    )
    from metadata_reconciliation_tool_spark.functions.similarity import (
        jaro_winkler_py,
    )

    def pair_score(t: str, u: str) -> float:
        # the alignment kernel's per-token score (similarity.py name_align_py)
        if t == u:
            return 1.0
        if len(t) == 1 or len(u) == 1:
            return 0.95 if (u.startswith(t) or t.startswith(u)) else 0.0
        return jaro_winkler_py(t, u)

    rng = random.Random(11)
    toks = ["smith", "smyth", "jon", "john", "quentin", "a", "ab", "blackwood",
            "aab", "aba", "xyzzy", "martha", "marhta", "dixon", "dicksonx"]
    pairs = [(rng.choice(toks), rng.choice(toks)) for _ in range(2000)]
    # plus random mutated strings to fuzz the Jaro char-multiset bound
    for _ in range(20_000):
        n1, n2 = rng.randrange(2, 9), rng.randrange(2, 9)
        a = "".join(chr(rng.randrange(97, 103)) for _ in range(n1))
        b = "".join(chr(rng.randrange(97, 103)) for _ in range(n2))
        pairs.append((a, b))
    bad = [
        (a, b, token_pair_upper_bound_py(a, b), pair_score(a, b))
        for a, b in pairs
        if token_pair_upper_bound_py(a, b) < pair_score(a, b) - 1e-12
    ]
    assert bad == [], f"token pair bound below kernel: {bad[:5]}"


def test_duckdb_jaro_winkler_float_parity():
    """Pins the claim __spark_entry__._recon_sql relies on: DuckDB's
    jaro_winkler_similarity is float-parity with jaro_winkler_py, so the
    SQL-decomposed flagship's oracle compares like with like (ADVICE r3
    low: the docstring cited this test before it existed)."""
    import duckdb

    from metadata_reconciliation_tool_spark.functions.similarity import (
        jaro_winkler_py,
    )

    rng = random.Random(31)
    toks = ["martha", "marhta", "dixon", "dicksonx", "smith", "smyth",
            "jon", "john", "blackwood", "stawickkel", "a", "ab", ""]
    pairs = [(rng.choice(toks), rng.choice(toks)) for _ in range(500)]
    for _ in range(2000):
        a = "".join(chr(rng.randrange(97, 103)) for _ in range(rng.randrange(0, 12)))
        b = "".join(chr(rng.randrange(97, 103)) for _ in range(rng.randrange(0, 12)))
        pairs.append((a, b))
    con = duckdb.connect()
    # the ONE known divergence: both-empty → DuckDB 0.0, kernel 1.0. It can
    # never reach the SQL-variant comparison (P1 drops null/empty names
    # before any pair exists), so parity is asserted on everything else.
    assert con.execute("SELECT jaro_winkler_similarity('', '')").fetchone()[0] == 0.0
    assert jaro_winkler_py("", "") == 1.0
    mismatches = []
    for a, b in pairs:
        if a == "" and b == "":
            continue
        got = con.execute(
            "SELECT jaro_winkler_similarity(?, ?)", [a, b]
        ).fetchone()[0]
        want = jaro_winkler_py(a, b)
        if got != want:  # exact float equality — the oracle hashes values
            mismatches.append((a, b, got, want))
    assert mismatches == [], f"DuckDB JW diverges: {mismatches[:5]}"


def test_score_pairs_prefilter_parity(spark, bundle, tmp_path):
    """Full blocking output of the fixture bundle, scored with and without
    the prefilter: is_match sets identical; non-pruned rows bit-identical;
    pruned rows' emitted score is an upper bound strictly below the cutoff
    that also dominates the exact score."""
    from metadata_reconciliation_tool_spark.operators import blocking as B
    from metadata_reconciliation_tool_spark.operators import extract as E
    from metadata_reconciliation_tool_spark.operators import scoring as S

    ents = E.distinct_entities(E.extract_entities(bundle["transcripts"]))
    ekeyed = B.add_block_keys(ents)
    dkeyed = B.add_block_keys(E.prepare_dictionary(bundle["dictionary"]), "norm_label")
    pairs = (
        B.dictionary_candidates(ekeyed, dkeyed)
        .withColumn("pair_kind", F.lit("dict"))
        .unionByName(
            B.self_candidates(ekeyed, 1000)[0].withColumn("pair_kind", F.lit("self")),
            allowMissingColumns=True,
        )
        .localCheckpoint()
    )
    on = S.score_pairs(pairs, prefilter=True).cache()
    off = S.score_pairs(pairs, prefilter=False).cache()

    n_pairs = pairs.count()
    n_pruned = on.filter("score_pruned").count()
    assert on.count() == n_pairs == off.count()
    assert n_pruned > 0, "prefilter pruned nothing on the fixture"

    key = ["left_key", "right_key"]
    # decision parity: identical is_match sets
    mismatch = (
        on.select(*key, "is_match")
        .join(off.select(*key, F.col("is_match").alias("im2")), key)
        .filter(F.col("is_match") != F.col("im2"))
        .count()
    )
    assert mismatch == 0

    # non-pruned rows: bit-identical full row
    exact_cols = key + [
        "jaro_winkler", "token_lev_ratio", "name_align", "jaccard",
        "wikidata_confidence", "score", "confidence", "is_match",
    ]
    kept_on = on.filter(~F.col("score_pruned")).select(*exact_cols)
    kept_off = off.join(
        on.filter(~F.col("score_pruned")).select(*key), key, "semi"
    ).select(*exact_cols)
    assert kept_on.exceptAll(kept_off).count() == 0
    assert kept_off.exceptAll(kept_on).count() == 0

    # pruned rows: ub dominates the exact score; both below every decision bar
    joined = (
        on.filter("score_pruned")
        .select(*key, F.col("score").alias("ub"))
        .join(off.select(*key, F.col("score").alias("exact")), key)
    )
    bad = joined.filter(
        (F.col("ub") < F.col("exact") - 1e-12) | (F.col("ub") >= 0.5)
    ).count()
    assert bad == 0
    on.unpersist()
    off.unpersist()


def test_prefilter_prunes_majority_of_self_pairs(spark, bundle):
    """The economics check: most blocked self pairs are same-block
    non-matches and must be provably prunable (this is the 100 TB win)."""
    from metadata_reconciliation_tool_spark.operators import blocking as B
    from metadata_reconciliation_tool_spark.operators import extract as E
    from metadata_reconciliation_tool_spark.operators import scoring as S

    ents = E.distinct_entities(E.extract_entities(bundle["transcripts"]))
    ekeyed = B.add_block_keys(ents)
    self_pairs, _ = B.self_candidates(ekeyed, 1000)
    scored = S.score_pairs(self_pairs.withColumn("pair_kind", F.lit("self")))
    total = scored.count()
    pruned = scored.filter("score_pruned").count()
    assert pruned / total > 0.3, f"only {pruned}/{total} pruned"


def test_prune_cutoff_respects_lower_decision_bar(spark, bundle):
    """A consumer bar below 0.5 (configurable success_threshold) must be
    respected: with success_threshold=0.45 no pruned row may carry a score at or
    above 0.45, and the >0.45 filter set must match a prefilter-off run —
    the emitted upper bound must never push a pruned pair over the bar."""
    from metadata_reconciliation_tool_spark.operators import blocking as B
    from metadata_reconciliation_tool_spark.operators import extract as E
    from metadata_reconciliation_tool_spark.operators import scoring as S

    ents = E.distinct_entities(E.extract_entities(bundle["transcripts"]))
    ekeyed = B.add_block_keys(ents)
    pairs, _ = B.self_candidates(ekeyed, 1000)
    pairs = pairs.withColumn("pair_kind", F.lit("self")).localCheckpoint()

    bar = 0.45
    on = S.score_pairs(pairs, success_threshold=bar).cache()
    off = S.score_pairs(pairs, prefilter=False).cache()
    assert on.filter(F.col("score_pruned") & (F.col("score") >= bar)).count() == 0
    key = ["left_key", "right_key"]
    over_on = set(map(tuple, on.filter(F.col("score") > bar).select(*key).collect()))
    over_off = set(map(tuple, off.filter(F.col("score") > bar).select(*key).collect()))
    assert over_on == over_off
    on.unpersist()
    off.unpersist()
