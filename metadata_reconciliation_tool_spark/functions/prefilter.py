"""Provably-sound upper bound on the token-aligned name similarity — the
scoring prefilter that keeps most candidate pairs away from the expensive
string kernels (round-2 verdict: scoring is 60% of pipeline wall and the
Python crossing is THE cost at 100 TB).

Contract: for token-sorted, normalized name strings ``ls``/``rs``,

    na_upper_bound_py(ls, rs)  >=  name_align_py(ls, rs)

always (fuzz-tested in tests/test_prefilter.py against the per-row kernel).
A pair whose best-possible composite score — the bound substituted for the
alignment kernel, every other composite input exact — falls below every
decision threshold skips the Jaro-Winkler/alignment kernels entirely.

Where the bound runs (an explicit engineering decision, measured): the
bound is evaluated INSIDE the one fused Arrow crossing (operators/
scoring.py), vectorized over the batch, not as a Catalyst expression. A
faithful Catalyst formulation needs token-nested higher-order functions
(transform/filter/aggregate with per-token char intersections), and Spark
evaluates HOF lambdas with the interpreted expression evaluator — measured
at ~20× the cost of the Python kernels it was meant to skip (65.7 s vs
3.5 s for 473k pairs at local[32]; see PLANS.md). Since round 5 the bound
runs through :func:`make_na_upper_bound_vectorized` — a batch-flattened
numpy sweep measured ~2× the scalar loop on the real 34M-pair bench
distribution (~4 µs vs ~8 µs/pair; the scalar :func:`na_upper_bound_py`
stays as the executable spec and parity twin). The JVM still contributes
what it computes cheaply: the token-Levenshtein ratio, the F7 confidence,
and the source boost are Column expressions whose values are PASSED INTO
the UDF, so the prune decision uses exact JVM-computed components and the
kernels run only where the bound cannot refute a match.

Soundness argument, mirroring ``name_align_py`` (functions/similarity.py):

1. Titles are stripped on both sides (duplicates kept); ``small``/``big``
   are chosen exactly like the kernel (left wins ties). Empty sides → 0.0
   (exact, not a bound).
2. The kernel assigns strongest pairs first, so every token value present
   on both sides pairs exactly (1.0): an exact pair is only ever blocked by
   another exact pair using the same element, making the exact pairs formed
   a maximum matching among equal values. Hence a big token that occurs in
   small and exactly ONCE in big is certainly consumed by an exact pair and
   is excluded from the fuzzy candidates (``residual``); if big contains
   ANY duplicate value the exclusion is skipped entirely (a surplus copy
   may legally serve a fuzzy alignment — exclusion would be unsound).
3. Mean bound: with ``ns`` = len(small) (duplicates included) and
   ``small_nc`` = the DISTINCT small values absent from big, the numerator
   ``(ns - |small_nc|)·1.0 + Σ_{t∈small_nc} ub(t)`` dominates the true
   aligned sum: every small token whose value occurs in big is credited
   1.0 ≥ its true score; duplicated non-common values are credited 1.0 for
   every copy beyond the first and ub(t) once, and 1.0 ≥ ub(t) ≥ each
   copy's true score.
4. Per-token bound ub(t) = max over residual of a per-pair bound that is
   EXACT for the kernel's single-letter initials rule (0.95/0.0) and
   otherwise a Jaro-Winkler bound from (i) the char-multiset intersection —
   Jaro's match count m ≤ |distinct char ∩| + min(len−|distinct chars|)
   surplus repeats — and (ii) a distinctness bound 1−J ≥ max(|l1−l2|,1)/
   (3·lmax) (distinct equal-length strings force a missed match or a
   transposition), Winkler-scaled by the TRUE common prefix length.
5. The weakest-link factor is monotone nondecreasing in the weakest aligned
   score (both branches increase; the 0.9-boundary jump is upward), the
   weakest over ``small_nc`` bounds the true weakest from above (common
   values score 1.0; duplicates share their value's bound), and the
   extra-token penalty uses exact sizes — so plugging upper bounds into the
   formula yields an upper bound on the whole formula.

Reference anchor: the formulas being bounded replicate
reconciliation_engine.py:178-201 / wikidata_cultural_client.py:263-322
semantics; the alignment kernel itself is this engine's own (similarity.py).
"""

from __future__ import annotations

from .normalize import TITLE_WORDS

_TITLES = set(TITLE_WORDS)


# NOT memoized (round 4, measured): on the real 34M-pair bench
# distribution the (t, u) vocabulary seen by the BOUND is effectively
# unbounded — an lru_cache(2^18) measured a 69% miss rate and made the
# bound 33% SLOWER (thrash: insert+evict per miss). The kernel-side
# jaro_winkler_py IS memoized (similarity.py): only ~3.5% of pairs reach
# the kernels and their surviving token pairs repeat (60% hit, 3.6×).
def token_pair_upper_bound_py(t: str, u: str) -> float:
    """Upper bound on the alignment kernel's per-token ``pair_score(t, u)``
    (name_align_py). Exact 1.0 for equal tokens; exact 0.95/0.0 for the
    single-letter initials rule (which overrides Jaro-Winkler there); else
    the char-multiset/length Jaro-Winkler bound with true-prefix Winkler
    scaling (module docstring, point 4)."""
    if t == u:
        return 1.0
    lt, lu = len(t), len(u)
    if lt == 1 or lu == 1:
        return 0.95 if (u.startswith(t) or t.startswith(u)) else 0.0
    st, su = set(t), set(u)
    inter = len(st & su)
    if inter == 0:
        return 0.0
    m_ub = inter + min(lt - len(st), lu - len(su))
    j = min(
        (m_ub / lt + m_ub / lu + 1.0) / 3.0,
        1.0 - max(abs(lt - lu), 1) / (3.0 * max(lt, lu)),
    )
    if j <= 0.7:
        return j
    p = 0
    for k in range(min(4, lt, lu)):
        if t[k] != u[k]:
            break
        p += 1
    return 1.0 - (1.0 - j) * (1.0 - 0.1 * p)


def make_na_upper_bound_vectorized():
    """Vectorized per-batch evaluator: computes EXACTLY ``na_upper_bound_py``
    over a whole Arrow batch of pairs at once (bit-parity fuzz-pinned in
    tests/test_prefilter.py), replacing the per-pair scalar bound that
    profiling put at ~8 µs/pair — ~37% of the engine's TOTAL parallel
    cpu·s at sf0.1 (the single largest component; BENCH.md round 5).

    Round 6 rewrite (measured: 3.4 → 1.7 µs/pair on the real 34M-pair
    bench stream, mismatches 0): the former PER-PAIR Python loop that
    built the alignment structure (small/big assignment, common-token
    exclusion, flat combo table) was ~78% of the bound's cost — pure
    bookkeeping, no arithmetic. It is replaced by a DENSE formulation
    over fixed-width slot matrices:

    1. names → info ids via ``pd.factorize`` (one C pass per column; the
       Python memo is consulted once per UNIQUE name per batch, not once
       per row). Per-info attributes (≤``_MAXD`` distinct filtered-token
       ids padded with -1, token counts, has-duplicates, fallback flag)
       live in append-only arrays mirrored to numpy when they grow.
    2. pair-level structure as (m, D, D) boolean algebra: slot equality
       (pad-safe via validity masks) gives the common-token masks; the
       combo table (small-side non-common × residual) falls out of
       ``np.nonzero`` on the mask product — no per-pair Python at all.
    3. the per-combo token bound is numpy, unchanged from round 5: char
       intersection as a popcount over 63-bit char masks (char→bit map
       INJECTIVE by construction — a 64th distinct character routes the
       whole pair through the exact scalar fallback, so collisions can
       never loosen or tighten the bound), Winkler prefix via padded
       char-code column compares.
    4. reductions: per-(pair, slot) max via ``maximum.reduceat`` over the
       nonempty segments (max is order-independent; empty slots keep the
       scalar path's 0.0); the per-pair sum runs as a SLOT-ORDER masked
       column accumulation — adding +0.0 for masked-out slots to a
       nonnegative accumulator is the IEEE identity, so the result is
       bit-identical to the scalar left-to-right ``sum`` (ubs ∈ [0, 1];
       the accumulator never holds -0.0). Weakest is a masked ``min``.

    Pairs that the dense path cannot represent — a side with more than
    ``_MAXD`` distinct tokens, or any token whose chars overflow the
    63-bit map — are routed whole to :func:`na_upper_bound_py` (the
    executable spec; value-identical by the parity contract, fuzz-pinned
    including >63-char alphabets). Zero-token sides yield 0.0 exactly as
    the spec does.

    Float parity notes: every arithmetic expression keeps the scalar
    code's operation order, all in float64 — elementwise numpy IEEE ops
    are bit-identical to CPython's. ``t == u`` combos are unreachable
    (every t ∈ small_nc has t ∉ set(big) while candidates come from big).
    """
    import numpy as np
    import pandas as pd

    titles = _TITLES
    char_bits: dict[str, int] = {}

    # token arrays, grown append-only; index = token id
    tok_ids: dict[str, int] = {}
    tok_strs: list[str] = []
    t_len: list[int] = []
    t_dlen: list[int] = []  # len(set(t))
    t_mask: list[int] = []
    t_ovf: list[bool] = []  # True → token has a char beyond the 63-bit map
    t_c4: list[tuple[int, int, int, int]] = []  # first 4 char codes, pad -1

    def tok_id(t: str) -> int:
        tid = tok_ids.get(t)
        if tid is None:
            tid = len(tok_strs)
            tok_ids[t] = tid
            tok_strs.append(t)
            st = set(t)
            mask = 0
            ovf = False
            for c in st:
                bit = char_bits.get(c)
                if bit is None:
                    bit = len(char_bits)
                    char_bits[c] = bit
                if bit >= 63:
                    ovf = True
                else:
                    mask |= 1 << bit
            t_len.append(len(t))
            t_dlen.append(len(st))
            t_mask.append(mask)
            t_ovf.append(ovf)
            cs = [ord(c) for c in t[:4]]
            t_c4.append(tuple(cs + [-1] * (4 - len(cs))))
        return tid

    # name-level info, grown append-only; index = info id
    info_ids: dict[str, int] = {}
    i_tok: list[tuple] = []  # _MAXD dedup token ids, padded with -1
    i_nd: list[int] = []  # distinct filtered tokens
    i_ns: list[int] = []  # filtered tokens INCLUDING duplicates
    i_dup: list[bool] = []  # ns != nd (big-side exclusion gate)
    i_bad: list[bool] = []  # scalar fallback: nd > _MAXD or overflow token
    arrs: dict = {"n": 0}  # numpy mirrors, rebuilt when infos grew

    def info_id(name: str) -> int:
        iid = info_ids.get(name)
        if iid is None:
            iid = len(i_nd)
            info_ids[name] = iid
            tids = [tok_id(t) for t in name.split() if t not in titles]
            dd = tuple(dict.fromkeys(tids))
            nd = len(dd)
            i_nd.append(nd)
            i_ns.append(len(tids))
            i_dup.append(nd != len(tids))
            i_bad.append(nd > _MAXD or any(t_ovf[t] for t in dd))
            if nd > _MAXD:
                dd = dd[:_MAXD]
            i_tok.append(dd + (-1,) * (_MAXD - nd))
        return iid

    def sync():
        # a new token can only arrive via a new name, so the info count
        # covers token-array growth too
        if arrs["n"] != len(i_nd):
            arrs["tok"] = np.asarray(i_tok, dtype=np.int64)
            arrs["nd"] = np.asarray(i_nd, dtype=np.int64)
            arrs["ns"] = np.asarray(i_ns, dtype=np.int64)
            arrs["dup"] = np.asarray(i_dup, dtype=bool)
            arrs["bad"] = np.asarray(i_bad, dtype=bool)
            arrs["tlen"] = np.asarray(t_len, dtype=np.int64)
            arrs["tdl"] = np.asarray(t_dlen, dtype=np.int64)
            arrs["tmask"] = np.asarray(t_mask, dtype=np.uint64)
            arrs["tc4"] = np.asarray(t_c4, dtype=np.int64)
            arrs["n"] = len(i_nd)

    def evaluate(names1: list, names2: list) -> "np.ndarray":
        # ---- phase 0: names → info ids (C factorize + per-unique memo) --
        codes1, uniq1 = pd.factorize(np.asarray(names1, dtype=object))
        codes2, uniq2 = pd.factorize(np.asarray(names2, dtype=object))
        return evaluate_encoded(codes1, list(uniq1), codes2, list(uniq2))

    def evaluate_encoded(codes1, uniq1: list, codes2, uniq2: list) -> "np.ndarray":
        """Same bound over pre-dictionary-encoded name columns (codes are
        int arrays indexing the unique lists; negative code = null name).
        The Arrow scoring UDF encodes via ``pyarrow.compute
        .dictionary_encode`` (C++), so only UNIQUE names ever exist as
        Python strings; values are identical to :func:`evaluate` — the
        factorize path above is the same codes/uniques by construction."""
        n = len(codes1)
        out = np.zeros(n, dtype=np.float64)  # zero-token rows stay 0.0
        # the encoders' null sentinel is code -1: a trailing "" entry maps it
        # to the empty name, also when every name of the batch is null
        map1 = np.fromiter(map(info_id, [*uniq1, ""]), np.int64, len(uniq1) + 1)
        map2 = np.fromiter(map(info_id, [*uniq2, ""]), np.int64, len(uniq2) + 1)
        ia, ib = map1[codes1], map2[codes2]
        # scalar-fallback rows need the actual strings back (bounded: only
        # rows whose structure the dense path cannot represent)
        def name_at(codes, uniq, k):
            c = codes[k]
            return uniq[c] if c >= 0 else None
        sync()

        ns_a, ns_b = arrs["ns"][ia], arrs["ns"][ib]
        nonzero = (ns_a > 0) & (ns_b > 0)
        bad = (arrs["bad"][ia] | arrs["bad"][ib]) & nonzero
        for k in np.flatnonzero(bad).tolist():
            out[k] = na_upper_bound_py(
                name_at(codes1, uniq1, k) or "", name_at(codes2, uniq2, k) or ""
            )
        di = np.flatnonzero(nonzero & ~bad)
        if not di.size:
            return out

        # ---- phase 1: dense structure over (m, D) slot matrices ---------
        A = arrs["tok"][ia[di]]
        B = arrs["tok"][ib[di]]
        swap = ns_a[di] > ns_b[di]  # small = left iff len(ta) <= len(tb)
        S = np.where(swap[:, None], B, A)
        G = np.where(swap[:, None], A, B)
        ns = np.where(swap, ns_b[di], ns_a[di])
        nb = np.where(swap, ns_a[di], ns_b[di])
        dup_g = np.where(swap, arrs["dup"][ia[di]], arrs["dup"][ib[di]])
        valid_s = S >= 0
        valid_g = G >= 0
        eq = (
            (S[:, :, None] == G[:, None, :])
            & valid_s[:, :, None]
            & valid_g[:, None, :]
        )
        small_nc = valid_s & ~eq.any(axis=2)  # small values absent from big
        # big slot is excluded from the residual iff big has no duplicates
        # AND the value occurs in small (soundness point 2)
        residual = valid_g & (dup_g[:, None] | ~eq.any(axis=1))
        combo = small_nc[:, :, None] & residual[:, None, :]
        pi, si, gi = np.nonzero(combo)
        ct = S[pi, si]
        cu = G[pi, gi]

        # ---- phase 2: per-combo token bound (vectorized
        # token_pair_upper_bound_py, unchanged from round 5) --------------
        lt, dl, mk, c4 = arrs["tlen"], arrs["tdl"], arrs["tmask"], arrs["tc4"]
        lt_t, lt_u = lt[ct], lt[cu]
        inter = _popcount64(mk[ct] & mk[cu])
        m_ub = inter + np.minimum(lt_t - dl[ct], lt_u - dl[cu])
        j = np.minimum(
            (m_ub / lt_t + m_ub / lt_u + 1.0) / 3.0,
            1.0
            - np.maximum(np.abs(lt_t - lt_u), 1) / (3.0 * np.maximum(lt_t, lt_u)),
        )
        c4t, c4u = c4[ct], c4[cu]
        eqc = c4t == c4u
        # common prefix = leading run of equal real chars; pads are -1 on
        # both sides, but a pad-pad "match" can only start at position
        # min(lt, lu) — the clamp below removes it exactly. The leading-run
        # length is a boolean AND-chain (~2× cheaper than an int64 cumprod
        # over the combo table, same values).
        run = eqc[:, 0].copy()
        prefix_len = run.astype(np.int64)
        for col in range(1, 4):
            run &= eqc[:, col]
            prefix_len += run
        p = np.minimum(np.minimum(prefix_len, 4), np.minimum(lt_t, lt_u))
        w = 1.0 - (1.0 - j) * (1.0 - 0.1 * p)
        s = np.where(j <= 0.7, j, w)
        s = np.where(inter == 0, 0.0, s)
        single = (lt_t == 1) | (lt_u == 1)
        if single.any():
            first_eq = c4t[:, 0] == c4u[:, 0]
            s = np.where(single, np.where(first_eq, 0.95, 0.0), s)

        # ---- reductions -------------------------------------------------
        m = di.size
        ub_mat = np.zeros((m, _MAXD), dtype=np.float64)
        counts = combo.sum(axis=2).ravel()  # combos per (pair, small slot)
        starts = np.zeros(counts.size, dtype=np.int64)
        np.cumsum(counts[:-1], out=starts[1:])
        nz = counts > 0
        if nz.any():
            # consecutive nonempty segments are adjacent in the flat combo
            # order (empty segments occupy zero length), so reduceat over
            # the nonempty starts reduces exactly each slot's combos; a
            # small_nc slot with an EMPTY residual keeps ub = 0.0, the
            # scalar path's value
            ub_flat = ub_mat.ravel()
            ub_flat[np.flatnonzero(nz)] = np.maximum.reduceat(s, starts[nz])
            ub_mat = ub_flat.reshape(m, _MAXD)
        acc = np.zeros(m, dtype=np.float64)
        weakest = np.full(m, np.inf, dtype=np.float64)
        for col in range(_MAXD):
            mask = small_nc[:, col]
            acc = acc + np.where(mask, ub_mat[:, col], 0.0)
            weakest = np.minimum(weakest, np.where(mask, ub_mat[:, col], np.inf))
        nc = small_nc.sum(axis=1)
        # empty small_nc: the spec's mean_ub = weakest = 1.0 branch — the
        # dense formula already yields mean_ub = ns/ns = 1.0; forcing
        # weakest to 1.0 makes factor exactly 1.0 there too
        weakest = np.where(nc > 0, weakest, 1.0)
        mean_ub = ((ns - nc) + acc) / ns
        factor = np.where(
            weakest >= 0.9, 0.5 + 0.5 * weakest, 0.9 * weakest * weakest
        )
        extra = nb - ns
        out[di] = mean_ub * factor * np.maximum(0.0, 1.0 - 0.1 * extra)
        return out

    evaluate.n_names = lambda: len(info_ids)
    evaluate.evaluate_encoded = evaluate_encoded
    return evaluate


# dense slots per side: names with more distinct (title-filtered) tokens
# take the exact scalar path — dense cost grows O(_MAXD²) while the bench
# name distribution averages ~2.1 tokens
_MAXD = 4


# Worker-cached evaluator (round 6, measured): the scoring UDF used to
# build a FRESH evaluator per Arrow batch, re-tokenizing every name from
# scratch — but names recur across batches too (an entity's name appears
# once per candidate pair, and a reused Python worker processes many
# batches). Caching the evaluator per worker process carries the
# name/token memos across batches; values are unchanged (the memo is a
# pure cache of per-name structure). The memo is reset when it exceeds
# ``_EVAL_MAX_NAMES`` distinct names, keeping worker memory bounded — the
# same bounded-cache policy as similarity.jaro_winkler_py's LRU.
_EVAL = None
_EVAL_PID: int | None = None
_EVAL_MAX_NAMES = 2_000_000


def get_na_upper_bound_evaluator():
    """The per-worker cached :func:`make_na_upper_bound_vectorized`
    instance (PID-guarded: a forked worker never inherits a parent's memo
    mid-structure)."""
    global _EVAL, _EVAL_PID
    import os

    pid = os.getpid()
    if _EVAL is None or _EVAL_PID != pid or _EVAL.n_names() > _EVAL_MAX_NAMES:
        _EVAL = make_na_upper_bound_vectorized()
        _EVAL_PID = pid
    return _EVAL


def _popcount64(x):
    """Vectorized 64-bit popcount (numpy<2 has no bitwise_count)."""
    import numpy as np

    if hasattr(np, "bitwise_count"):
        return np.bitwise_count(x).astype(np.int64)
    b = x.view(np.uint8).reshape(len(x), 8)
    # uint8 lookup table (round 6): the gather touches 8× fewer bytes than
    # the former int64 table; the int64 accumulator keeps values identical
    return _POP8[b].sum(axis=1, dtype=np.int64)


try:  # byte-popcount table, built once at import
    import numpy as _np

    _POP8 = _np.array([bin(i).count("1") for i in range(256)], dtype=_np.uint8)
except Exception:  # pragma: no cover - numpy is a hard dependency of pyspark
    _POP8 = None


def na_upper_bound_py(a: str, b: str) -> float:
    """Sound upper bound on ``name_align_py(a, b)`` (module docstring) for
    single-space-separated (token-sorted) name strings. ~7 µs/pair vs
    ~34 µs for the kernel pair — the asymmetry the prefilter exploits."""
    ta = [t for t in (a or "").split() if t not in _TITLES]
    tb = [t for t in (b or "").split() if t not in _TITLES]
    if not ta or not tb:
        return 0.0
    small, big = (ta, tb) if len(ta) <= len(tb) else (tb, ta)
    sb = set(big)
    # soundness point 2: exclusion only safe when big has no duplicates
    if len(sb) == len(big):
        common = sb.intersection(small)
        residual = [u for u in big if u not in common]
    else:
        residual = big
    ns = len(small)
    small_nc = [t for t in dict.fromkeys(small) if t not in sb]
    exact_credit = ns - len(small_nc)
    if not small_nc:
        mean_ub, weakest = 1.0, 1.0
    else:
        ubs = []
        for t in small_nc:
            # No early exit: t is absent from big (t not in sb), so no
            # residual u equals t and no bound reaches a provable ceiling
            # of 1.0 — breaking on "close to 1" was unsound (a later u can
            # carry a strictly higher bound AND true score; see
            # test_prefilter.py long-token soundness cases).
            best = 0.0
            for u in residual:
                s = token_pair_upper_bound_py(t, u)
                if s > best:
                    best = s
            ubs.append(best)
        mean_ub = (exact_credit + sum(ubs)) / ns
        weakest = min(ubs)
    factor = 0.5 + 0.5 * weakest if weakest >= 0.9 else 0.9 * weakest * weakest
    extra = len(big) - len(small)
    return mean_ub * factor * max(0.0, 1.0 - 0.1 * extra)
