"""Similarity kernels and the Arrow-batched UDFs that run them.

The reference scores per-row inside ``iterrows()`` loops with plain-Python
tier formulas (SURVEY.md §2.10). Here every UDF operates on whole Arrow
batches; the scalar ``*_py`` functions are the specifications they are
pinned against. The pure-Python kernels below are
original implementations written for this engine from the published
algorithm definitions (Jaro 1989 / Winkler 1990; Wagner–Fischer DP;
Philips' Metaphone family; Broder MinHash) — NOT ports of any reference
code (the reference has no fuzzy-string engine at all; its only similarity
is word-set overlap, reconciliation_engine.py:193-199).

Scale note: these run only on *blocked candidate pairs*, never the cross
product — blocking (operators/blocking.py) is what keeps the pair count
linear-ish at 10^12 turns, and these kernels are the per-pair constant.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from functools import lru_cache as _lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .normalize import TITLE_WORDS

# --------------------------------------------------------------------------
# Jaro-Winkler (standard definition; winkler prefix scaling p=0.1, max l=4)
# --------------------------------------------------------------------------


def _jaro(s1: str, s2: str) -> float:
    if s1 == s2:
        return 1.0
    len1, len2 = len(s1), len(s2)
    if not len1 or not len2:
        return 0.0
    match_window = max(len1, len2) // 2 - 1
    if match_window < 0:
        match_window = 0
    flags1 = [False] * len1
    flags2 = [False] * len2
    matches = 0
    for i, c in enumerate(s1):
        lo = max(0, i - match_window)
        hi = min(len2, i + match_window + 1)
        for j in range(lo, hi):
            if not flags2[j] and s2[j] == c:
                flags1[i] = flags2[j] = True
                matches += 1
                break
    if not matches:
        return 0.0
    transpositions = 0
    j = 0
    for i in range(len1):
        if flags1[i]:
            while not flags2[j]:
                j += 1
            if s1[i] != s2[j]:
                transpositions += 1
            j += 1
    transpositions //= 2
    m = float(matches)
    return (m / len1 + m / len2 + (m - transpositions) / m) / 3.0


@_lru_cache(maxsize=1 << 18)
def jaro_winkler_py(s1: str, s2: str, prefix_weight: float = 0.1) -> float:
    """Memoized (round 4, measured on 500k real bench pairs): inside the
    alignment kernel this is called per TOKEN pair, and the token pairs of
    KERNEL-SURVIVING rows (the ~3.5% the prefilter can't refute — i.e.
    genuinely similar names) repeat heavily: 60% hit rate, kernel 3.6×
    faster warm, bit-identical results (pure function; bounded LRU keeps
    worker memory fixed). The prefilter's own per-token bound is NOT
    cached — its vocabulary is unbounded and a cache measured slower
    (prefilter.py note)."""
    j = _jaro(s1, s2)
    if j <= 0.7:
        return j
    prefix = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a != b:
            break
        prefix += 1
    return j + prefix * prefix_weight * (1.0 - j)


# --------------------------------------------------------------------------
# Levenshtein ratio (Wagner–Fischer, two-row DP)
# --------------------------------------------------------------------------


def levenshtein_py(s1: str, s2: str) -> int:
    if s1 == s2:
        return 0
    if not s1:
        return len(s2)
    if not s2:
        return len(s1)
    if len(s1) > len(s2):
        s1, s2 = s2, s1
    prev = list(range(len(s1) + 1))
    for j, c2 in enumerate(s2, 1):
        cur = [j]
        for i, c1 in enumerate(s1, 1):
            cur.append(min(prev[i] + 1, cur[i - 1] + 1, prev[i - 1] + (c1 != c2)))
        prev = cur
    return prev[-1]


def lev_ratio_py(s1: str, s2: str) -> float:
    m = max(len(s1), len(s2))
    if m == 0:
        return 1.0
    return 1.0 - levenshtein_py(s1, s2) / m


# --------------------------------------------------------------------------
# Phonetic key — compact double-metaphone-style encoder.
#
# Original implementation of the common English sound-folding rules
# (Philips 1990/2000 family): enough to make {shakespeare, shakespear,
# shakspere}, {smith, smyth}, {catherine, katherine} collide while keeping
# distinct names apart. Primary + secondary codes like double metaphone.
# --------------------------------------------------------------------------

_VOWELS = set("aeiouy")


def metaphone_py(word: str, max_len: int = 6) -> str:
    w = "".join(ch for ch in word.lower() if ch.isalpha())
    if not w:
        return ""
    # leading-letter adjustments
    if w[:2] in ("kn", "gn", "pn", "wr", "ps"):
        w = w[1:]
    elif w[:1] == "x":
        w = "s" + w[1:]
    elif w[:2] == "wh":
        w = "w" + w[2:]
    out: list[str] = []
    i = 0
    n = len(w)
    while i < n and len(out) < max_len:
        c = w[i]
        nxt = w[i + 1] if i + 1 < n else ""
        prv = w[i - 1] if i > 0 else ""
        if c in _VOWELS:
            if i == 0:
                out.append("a")  # all initial vowels fold to A
            i += 1
            continue
        if c == prv and c != "c":  # collapse doubles
            i += 1
            continue
        if c == "b":
            if not (i == n - 1 and prv == "m"):  # silent b in -mb
                out.append("p")
        elif c == "c":
            if nxt == "h":
                out.append("x")  # ch → X (match 'sh')
                i += 1
            elif nxt in ("i", "e", "y"):
                out.append("s")
            else:
                out.append("k")
        elif c == "d":
            if nxt == "g" and i + 2 < n and w[i + 2] in ("e", "i", "y"):
                out.append("j")
                i += 1
            else:
                out.append("t")
        elif c == "g":
            if nxt == "h":
                if i + 2 >= n or w[i + 2] in _VOWELS:
                    out.append("k")
                i += 1  # gh before consonant / at end: silent
            elif nxt == "n":
                out.append("k")  # keep simple: gn mid-word → K + N
            elif nxt in ("i", "e", "y"):
                out.append("j")
            else:
                out.append("k")
        elif c == "h":
            if prv in _VOWELS and nxt not in _VOWELS:
                pass  # silent
            elif prv in ("c", "s", "p", "t", "g"):
                pass  # consumed by digraph
            else:
                out.append("h")
        elif c == "j":
            out.append("j")
        elif c in ("f", "l", "m", "n", "r"):
            out.append(c)
        elif c == "k":
            if prv != "c":
                out.append("k")
        elif c == "p":
            if nxt == "h":
                out.append("f")
                i += 1
            else:
                out.append("p")
        elif c == "q":
            out.append("k")
        elif c == "s":
            if nxt == "h":
                out.append("x")
                i += 1
            elif nxt == "c" and i + 2 < n and w[i + 2] == "h":
                out.append("x")
                i += 2
            else:
                out.append("s")
        elif c == "t":
            if nxt == "h":
                out.append("0")  # th
                i += 1
            else:
                out.append("t")
        elif c == "v":
            out.append("f")
        elif c == "w":
            if nxt in _VOWELS:
                out.append("w")
        elif c == "x":
            out.append("k")
            out.append("s")
        elif c == "y":
            if nxt in _VOWELS:
                out.append("j")
        elif c == "z":
            out.append("s")
        i += 1
    return "".join(out[:max_len])


# --------------------------------------------------------------------------
# MinHash (Broder) over character shingles — deterministic, numpy-vectorized
# --------------------------------------------------------------------------

_MERSENNE = (1 << 61) - 1


def _minhash_params(num_perm: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    # a, b < 2^32 so a*x + b (x = crc32 < 2^32) fits uint64 exactly — no
    # wrap-around before the Mersenne mod, keeping the (a*x+b) mod p family
    # genuinely universal (a wrap would silently weaken MinHash uniformity)
    rng = np.random.RandomState(seed)
    a = rng.randint(1, 1 << 32, size=num_perm, dtype=np.int64).astype(np.uint64)
    b = rng.randint(0, 1 << 32, size=num_perm, dtype=np.int64).astype(np.uint64)
    return a, b


def shingles_py(text: str, k: int = 3) -> set[int]:
    """k-char shingles hashed with crc32 (stable across processes/runs —
    python's builtin hash() is salted and must never appear in a semantic
    path)."""
    t = text if len(text) >= k else text + " " * (k - len(text))
    return {zlib.crc32(t[i : i + k].encode("utf-8")) for i in range(len(t) - k + 1)}


def minhash_signature_py(
    text: str, num_perm: int, a: np.ndarray, b: np.ndarray, k: int = 3
) -> np.ndarray:
    sh = np.fromiter(shingles_py(text, k), dtype=np.uint64)
    if sh.size == 0:
        return np.zeros(num_perm, dtype=np.uint64)
    # (a*x + b) mod p for all perms × shingles at once
    vals = (a[:, None] * sh[None, :] + b[:, None]) % _MERSENNE
    return vals.min(axis=1)


def lsh_band_keys_py(
    sig: np.ndarray, bands: int, rows: int
) -> list[str]:
    """Hash each band of the signature into a compact hex bucket key."""
    keys = []
    for bi in range(bands):
        band = sig[bi * rows : (bi + 1) * rows]
        h = hashlib.md5(struct.pack(f"<{rows}Q", *band)).hexdigest()[:16]
        keys.append(f"{bi}:{h}")
    return keys


# --------------------------------------------------------------------------
# Arrow-batched UDFs (the only JVM↔Python crossings)
# --------------------------------------------------------------------------


@F.pandas_udf(T.DoubleType())
def jaro_winkler_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    return pd.Series(
        [jaro_winkler_py(a or "", b or "") for a, b in zip(s1, s2)], dtype="float64"
    )


# LSH layout: 16 bands × 2 rows. For short names the shingle-set Jaccard of
# a 1-char typo sits around 0.7; P(≥1 band collides) = 1-(1-J²)^16 ≈ 0.9999
# at J=0.7 vs ≈0.95 with 8×4 bands. The extra spurious candidates are scored
# and rejected — recall is the scarce resource, precision comes from scoring.
LSH_NUM_PERM, LSH_BANDS, LSH_ROWS = 32, 16, 2


_LSH_KEYS_SIGS_SCHEMA = T.StructType(
    [
        T.StructField("keys", T.ArrayType(T.StringType())),
        T.StructField("sigs", T.ArrayType(T.LongType())),
    ]
)


@F.pandas_udf(_LSH_KEYS_SIGS_SCHEMA)
def lsh_keys_sigs_udf(s: pd.Series) -> pd.DataFrame:
    """norm_name → (band keys, band signatures) in ONE minhash pass.

    ``keys`` is exactly :func:`lsh_keys_py` (parity-pinned). ``sigs[i]``
    is band i's md5 first-8-bytes as a signed int64 — a BIJECTION of the
    16-hex-char hash embedded in ``keys[i]`` (same bytes), so for two
    names of the same entity type: keys[i] equal ⟺ sigs[i] equal, with
    no collision risk. Blocking's local winner filter compares the 8-byte
    longs instead of ~25-char typed key strings."""
    import hashlib as _hashlib
    import struct as _struct

    num_perm, bands, rows = LSH_NUM_PERM, LSH_BANDS, LSH_ROWS
    a, b = _minhash_params(num_perm)

    keys_out: list[list[str]] = []
    sigs_out: list[list[int]] = []
    for text in s:
        if not text:
            keys_out.append([])
            sigs_out.append([])
            continue
        sig = minhash_signature_py(text, num_perm, a, b)
        keys = []
        sigs = []
        for bi in range(bands):
            band = sig[bi * rows : (bi + 1) * rows]
            digest = _hashlib.md5(_struct.pack(f"<{rows}Q", *band)).digest()
            h = digest[:8].hex()
            keys.append(f"{bi}:{h}")
            v = int.from_bytes(digest[:8], "big")
            sigs.append(v - (1 << 64) if v >= (1 << 63) else v)
        keys_out.append(keys)
        sigs_out.append(sigs)
    return pd.DataFrame({"keys": keys_out, "sigs": sigs_out})


_TITLES = set(TITLE_WORDS)


def name_align_py(a: str, b: str) -> float:
    """Token-aligned name similarity (Monge-Elkan-style) with initials
    handling and a weakest-link penalty.

    - titles stripped (F11, data_sources.py:296-305)
    - each token of the shorter side greedily aligned to its best unused
      partner on the longer side: exact=1.0, single-letter initial
      compatibility=0.95 (extends U4, data_sources.py:294-310), else
      Jaro-Winkler
    - score = mean(aligned) × (0.5 + 0.5·min(aligned)) × (1 − 0.1·extra)

    The weakest-link factor is the discriminator between abbreviation
    variants of the SAME name ('o blackwood' ↔ 'oliver blackwood', min
    pair 0.95) and DIFFERENT people sharing a surname ('o blackwood' ↔
    'q blackwood', min pair 0.0 → heavy penalty).
    """
    ta = [t for t in (a or "").split() if t not in _TITLES]
    tb = [t for t in (b or "").split() if t not in _TITLES]
    if not ta or not tb:
        return 0.0
    small, big = (ta, tb) if len(ta) <= len(tb) else (tb, ta)

    def pair_score(t: str, u: str) -> float:
        if t == u:
            return 1.0
        if len(t) == 1 or len(u) == 1:
            # single-letter tokens: initial compatibility or nothing — JW on
            # 1-char strings degenerates ('a' fuzzy-matches inside
            # 'shakespeare' via the Jaro window)
            return 0.95 if (u.startswith(t) or t.startswith(u)) else 0.0
        return jaro_winkler_py(t, u)

    # best-pair-first assignment (not left-to-right greedy): after token
    # sorting, a left-to-right pass binds an initial 'f' to the surname
    # 'fornoran' before 'fornoran'='fornoran' gets the exact match —
    # assigning strongest pairs first makes the alignment order-independent
    cand = sorted(
        ((pair_score(t, u), si, bi) for si, t in enumerate(small) for bi, u in enumerate(big)),
        key=lambda x: (-x[0], x[1], x[2]),
    )
    assigned: dict[int, float] = {}
    used_big: set[int] = set()
    for s, si, bi in cand:
        if si in assigned or bi in used_big:
            continue
        assigned[si] = s
        used_big.add(bi)
        if len(assigned) == len(small):
            break
    aligned = [assigned.get(i, 0.0) for i in range(len(small))]
    mean = sum(aligned) / len(aligned)
    weakest = min(aligned)
    # weakest-link penalty, piecewise: compatible tokens (exact / initial /
    # near-typo, ≥0.9) are barely penalized; anything weaker — two genuinely
    # different tokens sharing syllables, the signature of same-surname
    # siblings — is punished quadratically
    factor = 0.5 + 0.5 * weakest if weakest >= 0.9 else 0.9 * weakest * weakest
    extra = len(big) - len(small)
    return mean * factor * max(0.0, 1.0 - 0.1 * extra)


_SCORING_BATTERIES_SCHEMA = T.StructType(
    [
        T.StructField("jaro_winkler", T.DoubleType()),
        T.StructField("name_align", T.DoubleType()),
        T.StructField("na_ub", T.DoubleType()),
        T.StructField("pruned", T.BooleanType()),
    ]
)


def make_scoring_batteries_arrow_udf(cutoff: float):
    """The scoring UDF: Jaro-Winkler and token-aligned similarity of each
    blocked pair, with the scoring prefilter fused in.

    Per pair, the sound upper bound on ``name_align`` (functions/prefilter.py)
    is combined with the JVM-computed exact composite components passed in
    as columns (token-Levenshtein ratio, F7 confidence, source boost) exactly
    as the JVM combines them; only when the bounded composite could still
    reach ``cutoff`` do the Jaro-Winkler/alignment kernels run. Pruned rows
    return (null, null, bound, true); kept rows return the kernels
    (``jaro_winkler_py``, ``name_align_py``) with a null bound. The prune
    comparison replicates the JVM score expression IEEE-op-for-op
    (0.55·na + 0.25·tlr + 0.20·wc, then min(score+boost, 1)), so ``pruned``
    implies the emitted score is < cutoff. Equal-name pairs never prune (the
    JVM's exact-equality branch scores them 1.0 regardless of the kernels);
    null names compare equal iff both are null, like Python ``None == None``.
    Identical names with a non-title token skip the kernels: both return
    exactly 1.0 for them. Title-only and blank identical names fall through,
    since ``name_align_py`` strips titles and returns 0.0.

    The name columns never materialize as per-row Python strings.
    ``pyarrow.compute.dictionary_encode`` (C++) maps each batch's names to
    (codes, uniques); only the unique names become Python strings, the bound
    evaluates over the codes (``prefilter.evaluate_encoded``), the kernels
    rebuild strings from the unique lists for surviving rows only, and the
    outputs return as numpy-backed Arrow arrays with explicit null masks.

    ``cutoff`` is baked into the UDF closure (a factory, not a column): at
    34M pairs a lit column is 274 MB of constant doubles through Arrow. A
    cutoff <= 0 disables the prefilter and never prunes.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from .prefilter import get_na_upper_bound_evaluator

    can_prune = cutoff > 0.0

    def _codes_uniq(arr: "pa.Array"):
        enc = pc.dictionary_encode(arr)
        codes = pc.fill_null(enc.indices, -1).to_numpy(zero_copy_only=False)
        return codes.astype(np.int64, copy=False), enc.dictionary.to_pylist()

    def fn(s1, s2, tlr, wc, boost):
        # each argument on its own: any one of them may arrive chunked
        s1, s2, tlr, wc, boost = (
            x.combine_chunks() if isinstance(x, pa.ChunkedArray) else x
            for x in (s1, s2, tlr, wc, boost)
        )
        n = len(s1)
        codes1, uniq1 = _codes_uniq(s1)
        codes2, uniq2 = _codes_uniq(s2)
        # a == b with Python None semantics: None == None is True
        eq = pc.or_kleene(
            pc.equal(s1, s2), pc.and_(pc.is_null(s1), pc.is_null(s2))
        )
        eq_np = pc.fill_null(eq, False).to_numpy(zero_copy_only=False)
        tlr_v = pc.fill_null(tlr, float("nan")).to_numpy(zero_copy_only=False)
        wc_v = pc.fill_null(wc, float("nan")).to_numpy(zero_copy_only=False)
        boost_v = pc.fill_null(boost, 0.0).to_numpy(zero_copy_only=False)
        jw = np.ones(n, dtype=np.float64)
        al = np.ones(n, dtype=np.float64)
        ub = np.zeros(n, dtype=np.float64)
        pruned = np.zeros(n, dtype=bool)
        if can_prune and n:
            bounds = get_na_upper_bound_evaluator().evaluate_encoded(
                codes1, uniq1, codes2, uniq2
            )
            # same IEEE op order as the JVM composite expression; equal
            # pairs never prune (the JVM's exact-equality branch scores
            # them 1.0 regardless of the kernels)
            blend = 0.55 * bounds + 0.25 * tlr_v + 0.2 * wc_v
            pruned = (np.minimum(blend + boost_v, 1.0) < cutoff) & ~eq_np
            ub = bounds
        for i in np.flatnonzero(~pruned).tolist():
            c1, c2 = codes1[i], codes2[i]
            a = uniq1[c1] if c1 >= 0 else None
            b = uniq2[c2] if c2 >= 0 else None
            if eq_np[i] and a and any(t not in _TITLES for t in a.split()):
                continue  # identical, non-title token: exact (1.0, 1.0)
            jw[i] = jaro_winkler_py(a or "", b or "")
            al[i] = name_align_py(a, b)
        return pa.StructArray.from_arrays(
            [
                pa.array(jw, type=pa.float64(), mask=pruned),
                pa.array(al, type=pa.float64(), mask=pruned),
                pa.array(ub, type=pa.float64(), mask=~pruned),
                pa.array(pruned),
            ],
            names=["jaro_winkler", "name_align", "na_ub", "pruned"],
        )

    from pyspark.sql.functions import ArrowUDFType, arrow_udf

    # asNondeterministic is an OPTIMIZER FENCE, not a semantic change (the
    # function is pure): without it, cap_persisted_scores' self-drop filter
    # references the UDF's `pruned` output and Catalyst pushes the filter
    # BELOW the projection by DUPLICATING the UDF — the self branch ran
    # ArrowEvalPython twice (once over the full 18.6M-row pre-filter
    # stream to evaluate the filter, once more over the ~0.6M survivors —
    # exactly the rows whose kernels are the expensive path), with the
    # levenshtein/F7 argument expressions re-inlined into the duplicate
    # (guide §4.4; plan evidence in plans/r06/). The fence keeps ONE
    # evaluation with the filter above it. Cluster note: a nondeterministic
    # stage is "indeterminate" to the scheduler, so a fetch failure retries
    # the whole stage rather than single tasks — a resilience cost on rare
    # retries, never a correctness one (the function is pure; any recompute
    # yields identical bytes). Wall-neutral at local[32] (interleaved A/B
    # det 21.8–22.5 vs nondet 22.3–23.0 s); the win is the removed
    # duplicate evaluation (~0.6M kernel-path rows/run) and the fence.
    return arrow_udf(fn, _SCORING_BATTERIES_SCHEMA, ArrowUDFType.SCALAR).asNondeterministic()


def surname_key_py(norm_name: str) -> str:
    """Phonetic blocking key: metaphone of the longest token (surname-ish).

    Robust to initials ('w shakespeare' and 'william shakespeare' share the
    longest token). Tie on length broken alphabetically-last for
    determinism under any parallelism.
    """
    toks = (norm_name or "").split()
    if not toks:
        return ""
    t = max(toks, key=lambda x: (len(x), x))
    return metaphone_py(t)


@F.pandas_udf(T.StringType())
def surname_key_udf(s: pd.Series) -> pd.Series:
    return s.map(surname_key_py)


def lsh_keys_py(text: str) -> list[str]:
    """Spec of :func:`lsh_keys_sigs_udf`'s ``keys`` (same params/seed —
    parity-pinned)."""
    if not text:
        return []
    a, b = _minhash_params(LSH_NUM_PERM)
    sig = minhash_signature_py(text, LSH_NUM_PERM, a, b)
    return lsh_band_keys_py(sig, LSH_BANDS, LSH_ROWS)


@F.pandas_udf(T.BooleanType())
def initials_subset_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    """U4 names_are_similar (data_sources.py:294-310) extended for initials:
    token sets match if one side's tokens are a subset of the other's, where
    a single-letter token matches any token sharing its first letter."""
    def covers(small: list[str], big: list[str]) -> bool:
        used: set[int] = set()
        for t in small:
            hit = None
            for i, u in enumerate(big):
                if i in used:
                    continue
                if t == u or (len(t) == 1 and u.startswith(t)) or (
                    len(u) == 1 and t.startswith(u)
                ):
                    hit = i
                    break
            if hit is None:
                return False
            used.add(hit)
        return True

    def one(a: str, b: str) -> bool:
        ta = [t for t in (a or "").split() if t not in _TITLES]
        tb = [t for t in (b or "").split() if t not in _TITLES]
        if not ta or not tb:
            return False
        return covers(ta, tb) if len(ta) <= len(tb) else covers(tb, ta)

    return pd.Series([one(a, b) for a, b in zip(s1, s2)], dtype="bool")
