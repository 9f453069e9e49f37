"""Property-based tests (hypothesis) for the pure-Python kernels — the
similarity batteries and normalizer twins must hold their invariants for
ANY input, not just fixture names."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from metadata_reconciliation_tool_spark.fixtures import token_sort_py
from metadata_reconciliation_tool_spark.functions.normalize import normalize_name_py
from metadata_reconciliation_tool_spark.functions.similarity import (
    jaro_winkler_py,
    lev_ratio_py,
    levenshtein_py,
    lsh_keys_py,
    metaphone_py,
    name_align_py,
    surname_key_py,
)

text = st.text(max_size=60)
word = st.text(alphabet="abcdefghijklmnopqrstuvwxyz", max_size=20)


@given(text, text)
@settings(max_examples=300, deadline=None)
def test_jaro_winkler_bounds_and_symmetry(a, b):
    s = jaro_winkler_py(a, b)
    assert 0.0 <= s <= 1.0
    assert abs(s - jaro_winkler_py(b, a)) < 1e-12
    if a == b and a:
        assert s == 1.0


@given(text, text)
@settings(max_examples=300, deadline=None)
def test_levenshtein_metric_properties(a, b):
    d = levenshtein_py(a, b)
    assert d == levenshtein_py(b, a)
    assert (d == 0) == (a == b)
    assert d <= max(len(a), len(b))
    assert 0.0 <= lev_ratio_py(a, b) <= 1.0


@given(text)
@settings(max_examples=300, deadline=None)
def test_normalize_idempotent(s):
    n = normalize_name_py(s)
    assert normalize_name_py(n) == n
    # normalized output never contains runs of whitespace or edge spaces
    assert n == n.strip()
    assert "  " not in n


@given(text)
@settings(max_examples=200, deadline=None)
def test_token_sort_idempotent_and_order_insensitive(s):
    n = normalize_name_py(s)
    ts = token_sort_py(n)
    assert token_sort_py(ts) == ts
    reversed_tokens = " ".join(reversed(n.split()))
    assert token_sort_py(reversed_tokens) == ts


@given(word)
@settings(max_examples=300, deadline=None)
def test_metaphone_stable_and_bounded(w):
    m = metaphone_py(w)
    assert m == metaphone_py(w)  # deterministic
    assert len(m) <= 6
    assert m == "" or all(c.isalnum() for c in m)


@given(word, word)
@settings(max_examples=200, deadline=None)
def test_name_align_bounds_symmetry(a, b):
    s = name_align_py(a, b)
    assert 0.0 <= s <= 1.0
    assert abs(s - name_align_py(b, a)) < 1e-12


@given(text)
@settings(max_examples=100, deadline=None)
def test_lsh_and_surname_keys_deterministic(s):
    assert lsh_keys_py(s) == lsh_keys_py(s)
    assert surname_key_py(s) == surname_key_py(s)
    assert len(lsh_keys_py(s)) in (0, 16)


# --- scoring prefilter bound (round 3) --------------------------------------

_name_tokens = st.lists(
    st.one_of(
        st.text(alphabet="abcdef", min_size=1, max_size=7),
        st.sampled_from(["dr", "mr", "prof", "a", "o", "smith", "smyth"]),
    ),
    min_size=0,
    max_size=5,
)
_sorted_name = _name_tokens.map(lambda ts: " ".join(sorted(ts)))


@given(_sorted_name, _sorted_name)
@settings(max_examples=2000, deadline=None)
def test_na_upper_bound_dominates_kernel(a, b):
    """Soundness of the scoring prefilter: the bound must NEVER fall below
    the kernel — a violation could prune a true match (silent recall loss).
    Small alphabet maximizes collisions/duplicates/near-typos, the regimes
    where the bound's exact-matching and exclusion arguments are subtle."""
    from metadata_reconciliation_tool_spark.functions.prefilter import (
        na_upper_bound_py,
    )

    assert na_upper_bound_py(a, b) >= name_align_py(a, b) - 1e-12


@given(text, text)
@settings(max_examples=500, deadline=None)
def test_na_upper_bound_arbitrary_text(a, b):
    """The bound holds for ANY input, not just sorted fixture-like names
    (unicode, whitespace runs, empties) — and stays in [0, 1]-ish range."""
    from metadata_reconciliation_tool_spark.functions.prefilter import (
        na_upper_bound_py,
    )

    ub = na_upper_bound_py(a, b)
    assert ub >= name_align_py(a, b) - 1e-12
    assert ub >= 0.0

