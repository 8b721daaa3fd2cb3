"""Property tests for the from-scratch similarity scorers.

Bit-parallel LCS (Allison–Dix/Hyyrö) is cross-checked against a naive O(m·n)
dynamic program with Hypothesis.
"""

from hypothesis import given, settings
from hypothesis import strategies as st

from address_parser_spark.textops.similarity import (
    indel_ratio,
    lcs_length,
    partial_ratio,
    token_set_ratio,
    token_sort_ratio,
    wratio,
)

ALPHABET = "abc d01đàá"
short_text = st.text(alphabet=ALPHABET, max_size=24)


def lcs_dp(a: str, b: str) -> int:
    prev = [0] * (len(b) + 1)
    for ca in a:
        cur = [0]
        for j, cb in enumerate(b):
            cur.append(prev[j] + 1 if ca == cb else max(prev[j + 1], cur[j]))
        prev = cur
    return prev[-1]


@settings(max_examples=300, deadline=None)
@given(short_text, short_text)
def test_lcs_matches_dp(a, b):
    assert lcs_length(a, b) == lcs_dp(a, b)


@settings(max_examples=200, deadline=None)
@given(short_text, short_text)
def test_ratio_bounds_and_symmetry(a, b):
    r = indel_ratio(a, b)
    assert 0.0 <= r <= 100.0
    assert abs(r - indel_ratio(b, a)) < 1e-9
    assert indel_ratio(a, a) == 100.0


@settings(max_examples=200, deadline=None)
@given(short_text, short_text)
def test_partial_ratio_dominates_ratio(a, b):
    assert partial_ratio(a, b) >= indel_ratio(a, b) - 1e-9


@settings(max_examples=100, deadline=None)
@given(short_text, short_text)
def test_composite_scorers_bounded(a, b):
    for fn in (wratio, token_sort_ratio, token_set_ratio):
        assert 0.0 <= fn(a, b) <= 100.0 + 1e-9


def test_known_values():
    assert lcs_length("abcde", "ace") == 3
    assert indel_ratio("", "") == 100.0
    assert indel_ratio("abc", "") == 0.0
    assert partial_ratio("ha noi", "thanh pho ha noi viet nam") == 100.0
