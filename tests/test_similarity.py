"""Similarity-kernel pins (pure Python) + UDF↔spec parity."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from metadata_reconciliation_tool_spark.functions.similarity import (
    jaro_winkler_py,
    lev_ratio_py,
    levenshtein_py,
    lsh_keys_py,
    lsh_keys_sigs_udf,
    metaphone_py,
    name_align_py,
    surname_key_py,
    surname_key_udf,
)


# classic published Jaro-Winkler reference values
@pytest.mark.parametrize(
    "a,b,expected",
    [
        ("martha", "marhta", 0.9611),
        ("dixon", "dicksonx", 0.8133),
        ("jellyfish", "smellyfish", 0.8962),
        ("abc", "abc", 1.0),
        ("", "abc", 0.0),
    ],
)
def test_jaro_winkler_pins(a, b, expected):
    assert jaro_winkler_py(a, b) == pytest.approx(expected, abs=1e-4)


def test_levenshtein_pins():
    assert levenshtein_py("kitten", "sitting") == 3
    assert levenshtein_py("", "abc") == 3
    assert levenshtein_py("abc", "abc") == 0
    assert lev_ratio_py("abcd", "abce") == 0.75


@pytest.mark.parametrize(
    "a,b,collide",
    [
        ("shakespeare", "shakespear", True),
        ("shakespeare", "shakespeere", True),
        ("smith", "smyth", True),
        ("catherine", "katherine", True),
        ("philip", "filip", True),
        ("shakespeare", "ashworth", False),
        ("smith", "jones", False),
    ],
)
def test_metaphone_collisions(a, b, collide):
    assert (metaphone_py(a) == metaphone_py(b)) is collide


def test_name_align_discrimination():
    # same-entity variants score high
    assert name_align_py("w shakespeare", "william shakespeare") > 0.9
    assert name_align_py("dr william shakespeare", "william shakespeare") > 0.9
    assert name_align_py("willam shakespeare", "william shakespeare") > 0.9
    # different entities sharing a surname score low (weakest-link penalty)
    assert name_align_py("o blackwood", "q blackwood") < 0.5
    assert name_align_py("sophia ashworth", "oliver ashworth") < 0.65
    assert name_align_py("", "anything") == 0.0


def test_surname_key_initials_robust():
    assert surname_key_py("w shakespeare") == surname_key_py("william shakespeare")
    assert surname_key_py("anna marie") == surname_key_py("a marie")


def test_initials_subset_u4(spark):
    """U4 names_are_similar with initials extension
    (data_sources.py:294-310): title-stripped token subset, single-letter
    tokens match on first letter."""
    import pyspark.sql.functions as F2

    from metadata_reconciliation_tool_spark.functions.similarity import (
        initials_subset_udf,
    )

    cases = [
        ("dr john smith", "john smith", True),       # title stripped
        ("j smith", "john smith", True),             # initial match
        ("john smith", "john q smith", True),        # subset
        ("q smith", "john smith", False),            # incompatible initial
        ("jane smith", "john smith", False),
        ("", "john smith", False),
    ]
    df = spark.createDataFrame(cases, "a string, b string, want boolean")
    rows = df.select("want", initials_subset_udf(F2.col("a"), F2.col("b")).alias("got")).collect()
    for r in rows:
        assert r.got == r.want


def test_lsh_and_surname_udf_twin_parity(spark):
    """lsh_keys_sigs_udf's keys equal lsh_keys_py, and each sig is the
    signed 64-bit reading of the hash embedded in its key."""
    names = ["william shakespeare", "shakespear william", "mount lockwood", ""]
    df = spark.createDataFrame([(n,) for n in names], ["n"])
    rows = df.select(
        "n",
        lsh_keys_sigs_udf(F.col("n")).alias("lsh"),
        surname_key_udf(F.col("n")).alias("sk"),
    ).collect()
    for r in rows:
        assert list(r.lsh.keys) == lsh_keys_py(r.n)
        assert list(r.lsh.sigs) == [
            int.from_bytes(bytes.fromhex(k.split(":")[1]), "big", signed=True)
            for k in r.lsh.keys
        ]
        assert r.sk == surname_key_py(r.n)


def test_scoring_udf_equal_fast_path_parity(spark):
    """The scoring UDF short-circuits identical names with a non-title token
    to exactly (1.0, 1.0); every case — equal, unequal, empty-empty,
    one-empty — must equal the raw per-row kernels."""
    from metadata_reconciliation_tool_spark.functions.similarity import (
        jaro_winkler_py,
        make_scoring_batteries_arrow_udf,
        name_align_py,
    )

    cases = [
        ("john smith", "john smith"),
        ("john smith", "jon smith"),
        ("dr maria de la cruz", "dr maria de la cruz"),
        ("", ""),
        ("", "john smith"),
        ("a", "a"),
        ("x y", "y x"),
        # identical but title-only / whitespace-only: name_align_py returns
        # 0.0 (all tokens stripped) — the fast path must NOT claim 1.0
        ("dr", "dr"),
        ("mr dr", "mr dr"),
        ("  ", "  "),
    ]
    df = spark.createDataFrame(cases, "a string, b string")
    udf = make_scoring_batteries_arrow_udf(-1.0)
    zero = F.lit(0.0)
    rows = df.select(
        "a", "b", udf(F.col("a"), F.col("b"), zero, zero, zero).alias("t")
    ).collect()
    for r in rows:
        assert not r.t.pruned
        assert r.t.jaro_winkler == jaro_winkler_py(r.a or "", r.b or "")
        assert r.t.name_align == name_align_py(r.a, r.b)
