"""Name/value normalization — the reference's cleaning rules as Column exprs.

Reference semantics being replicated (SURVEY.md §2.8 F1–F5, §2.2 P8/P9):

- F1 lower+strip            /root/reference/app/services/reconciliation_engine.py:67
- F2 whitespace collapse    /root/reference/app/services/metadata_parser.py:250
- F3 bracket/quote strip    /root/reference/app/services/metadata_parser.py:253-258
- F4 multi-value split      /root/reference/app/services/metadata_parser.py:51,262-278
- F5 md5 entity key         /root/reference/app/services/reconciliation_engine.py:70-74
- P8 _clean_value           /root/reference/app/services/metadata_parser.py:233-260
- P9 single-char reject     /root/reference/app/services/metadata_parser.py:228

Extended per the north rule with Unicode NFKC folding + punctuation strip +
token sorting. NFKC needs ``unicodedata`` → one vectorized pandas UDF; every
other rule is a pure Column expression that stays inside whole-stage codegen.
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Reference metadata_parser.py:51 — ordered, first-match-wins separators (F4).
MULTI_VALUE_SEPARATORS = ["; ", "|", ",", " and ", " & ", " / ", "\n", "\t"]

# Reference data_sources.py:296-305 (F11) — title words dropped before compare.
TITLE_WORDS = ["mr", "mrs", "ms", "dr", "prof", "sir", "dame"]


def clean_value(col: Column) -> Column:
    """P8/F2/F3: trim, collapse whitespace, strip wrapping brackets/quotes."""
    c = F.regexp_replace(F.trim(col), r"\s+", " ")
    c = F.regexp_replace(c, r"^[\[\(]+|[\]\)]+$", "")
    return F.trim(strip_wrapping_quotes(c))


def strip_wrapping_quotes(col: Column) -> Column:
    """F3: strip one layer of symmetric wrapping quotes."""
    return F.when(
        (F.length(col) >= 2)
        & (
            (col.startswith('"') & col.endswith('"'))
            | (col.startswith("'") & col.endswith("'"))
        ),
        col.substr(F.lit(2), F.length(col) - 2),
    ).otherwise(col)


def normalize_name_expr(col: Column) -> Column:
    """F1+F2+punctuation strip as a pure Column expression (ASCII fast path).

    lower → strip punctuation (keep word chars + spaces) → collapse
    whitespace → trim. This is the hot-path normalizer; NFKC folding for
    non-ASCII lives in :func:`nfkc_normalize` (pandas UDF) and is applied
    only to rows that actually contain non-ASCII bytes.
    """
    c = F.lower(col)
    # Java regex: \p{L}\p{N} keeps Unicode letters/digits (Java \w is ASCII).
    c = F.regexp_replace(c, r"[^\p{L}\p{N}\s]", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def normalize_name_py(s: str) -> str:
    """Python twin of :func:`normalize_name_unicode` — used by the fixture
    generator and oracle computations so labeled-pair keys match the
    pipeline's keys exactly. Parity is pinned by a test."""
    import re
    import unicodedata as _ud

    if s is None:
        return None
    if any(ord(ch) > 127 for ch in s):
        s = _ud.normalize("NFKC", s).casefold()
    s = s.lower()
    s = re.sub(r"[^\w\s]", " ", s, flags=re.UNICODE)
    s = s.replace("_", " ")
    s = re.sub(r"\s+", " ", s)
    return s.strip()


@F.pandas_udf(T.StringType())
def nfkc_fold(s: pd.Series) -> pd.Series:
    """Unicode NFKC fold + casefold — vectorized over Arrow batches.

    Applied before :func:`normalize_name_expr` for full Unicode hygiene
    (the reference never handles Unicode; the north rule requires it).
    """
    return s.map(
        lambda x: unicodedata.normalize("NFKC", x).casefold() if x is not None else None
    )


def normalize_name_unicode(col: Column) -> Column:
    """NFKC fold of non-ASCII names (pandas UDF) + Column cleanup.

    The `when` only chooses which value is output: ASCII rows keep the
    input. It does not gate the UDF — Spark evaluates a Python UDF over
    every input row (``explain()`` shows ``ArrowEvalPython [nfkc_fold]`` on
    the whole column), so every row crosses to Python and back.
    """
    folded = F.when(col.rlike(r"[^\x00-\x7F]"), nfkc_fold(col)).otherwise(col)
    return normalize_name_expr(folded)


def tokens(col: Column) -> Column:
    """Whitespace tokens with empties removed — Python ``str.split()`` parity.

    Python ``''.split()`` → []; Spark ``split('', ' ')`` → ['']. The
    array_remove keeps set semantics identical to the reference's
    ``set(x.split())`` (reconciliation_engine.py:193-199).
    """
    return F.array_remove(F.split(F.trim(col), r"\s+"), "")


def distinct_tokens(col: Column) -> Column:
    return F.array_distinct(tokens(col))


def token_sort(col: Column) -> Column:
    """Token-sorted normalized form — makes 'Shakespeare, William' and
    'William Shakespeare' collide (north-rule token sorting)."""
    return F.array_join(F.array_sort(tokens(col)), " ")


def entity_key(norm_name: Column, entity_type: Column, context_json: Column | None = None) -> Column:
    """F5: deterministic md5 key — md5('{norm}:{type}:{context}')
    (reconciliation_engine.py:70-74). Context defaults to '{}' like the
    reference's json.dumps of an empty dict."""
    ctx = context_json if context_json is not None else F.lit("{}")
    return F.md5(F.concat_ws(":", norm_name, entity_type, ctx))


def multi_value_split(col: Column, separators: list[str] | None = None) -> Column:
    """F4: split on the FIRST separator present, in priority order.

    The reference tries separators in order and splits on the first one
    found (metadata_parser.py:262-278) — not on all of them at once. An
    ordered CASE/WHEN of contains→split replicates first-match-only.

    Callers that extract *entity names* should pass a comma-free separator
    list: the reference applies this split only in the metadata-parser
    path, while its entity extraction keeps 'Last, First' cells whole
    (enhanced_reconciliation_engine.py:262-292 never splits).
    """
    import re as _re

    expr = None
    for sep in separators if separators is not None else MULTI_VALUE_SEPARATORS:
        cond = col.contains(sep)
        split_col = F.split(col, _re.escape(sep))
        expr = F.when(cond, split_col) if expr is None else expr.when(cond, split_col)
    assert expr is not None
    return expr.otherwise(F.array(col))


def nonempty_name_filter(col: Column) -> Column:
    """P1+P9: not null / '' / 'nan' / 'none', length > 1."""
    return (
        col.isNotNull()
        & (F.trim(col) != "")
        & ~F.lower(F.trim(col)).isin("nan", "none")
        & (F.length(F.trim(col)) > 1)
    )
