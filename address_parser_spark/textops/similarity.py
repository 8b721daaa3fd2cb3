"""String similarity scorers — from scratch, no third-party fuzz library.

The reference scores candidates with RapidFuzz (``ratio`` = normalized Indel,
``partial_ratio``, ``WRatio``; inexus_parser.py:7-9, 2886-2900). RapidFuzz is
not available in this environment, so the scorers are re-implemented here on
a bit-parallel LCS (Hyyrö's bit-vector, the Indel core) — O(ceil(m/w)·n) with
Python big-int words, microseconds per pair for address-length strings.
Properties are cross-checked against naive DP implementations with Hypothesis
in ``tests/test_similarity.py``.

All ``*_ratio`` functions return floats on the 0..100 scale (RapidFuzz
convention).
"""

from __future__ import annotations

from functools import lru_cache


# --------------------------------------------------------------------------
# Bit-parallel cores
# --------------------------------------------------------------------------

@lru_cache(maxsize=16384)
def _char_masks(pattern: str) -> dict[str, int]:
    """Per-character position bitmasks for *pattern* (bit i ⇔ pattern[i])."""
    masks: dict[str, int] = {}
    bit = 1
    for ch in pattern:
        masks[ch] = masks.get(ch, 0) | bit
        bit <<= 1
    return masks


def lcs_length(a: str, b: str) -> int:
    """Longest-common-subsequence length via the Allison–Dix/Hyyrö bit-vector.

    ``V`` holds one bit per character of ``a``; after consuming ``b`` the count
    of ZERO bits in ``V`` is the LCS length.
    """
    if not a or not b:
        return 0
    if len(a) > len(b):
        a, b = b, a
    masks = _char_masks(a)
    m = len(a)
    full = (1 << m) - 1
    v = full
    for ch in b:
        pm = masks.get(ch)
        if pm is None:
            continue
        u = v & pm
        v = ((v + u) | (v - u)) & full
    return m - v.bit_count()


# --------------------------------------------------------------------------
# Ratio-scale scorers (0..100)
# --------------------------------------------------------------------------

def indel_ratio(a: str, b: str) -> float:
    """Normalized Indel similarity ×100 — RapidFuzz ``fuzz.ratio`` semantics."""
    total = len(a) + len(b)
    if total == 0:
        return 100.0
    return 100.0 * (2.0 * lcs_length(a, b)) / total


@lru_cache(maxsize=65536)
def partial_ratio(a: str, b: str) -> float:
    """Best ``indel_ratio`` of the shorter string against same-length windows
    of the longer one (edge windows included). lru-cached: the scoring blend
    evaluates partial_ratio(inp, cand) both directly and inside ``wratio``
    for the same pair — the cache collapses the duplicate scan.

    Exact-output pruning (the scan is the kernel's hottest loop):

    - **Lipschitz window skip.** Sliding a fixed-length window by one char
      changes its LCS with ``short`` by at most 1, so after measuring window
      ``i`` at LCS ``L``, no window ``i+k`` can beat the current best LCS
      before ``k > best_lcs − L`` — those windows are skipped unmeasured.
    - **Edge-window length bound.** A truncated window of length ``k`` has
      LCS ≤ k, so ratio ≤ 200k/(ls+k); k below the bound implied by the
      running best cannot win and is never measured.
    """
    if not a and not b:
        return 100.0
    if not a or not b:
        return 0.0
    short, long_ = (a, b) if len(a) <= len(b) else (b, a)
    ls, ll = len(short), len(long_)
    if ls == ll:
        return indel_ratio(short, long_)
    # The whole-string alignment is always a candidate: partial_ratio must
    # dominate plain ratio (windows alone can lose to it, e.g. "11"/"101").
    best = indel_ratio(short, long_)
    # Full-length interior windows: ratio = 100·lcs/ls, so track best as lcs.
    best_lcs = int(best * ls / 100.0)  # floor: current best ⇒ beat this lcs
    i = 0
    last = ll - ls
    while i <= last:
        lcs = lcs_length(short, long_[i : i + ls])
        if lcs > best_lcs:
            best_lcs = lcs
            score = 100.0 * lcs / ls
            if score > best:
                best = score
                if best >= 100.0:
                    return 100.0
            i += 1
        else:
            # windows i+1 .. i+(best_lcs-lcs) cannot exceed best_lcs
            i += best_lcs - lcs + 1
    # Truncated edge windows (prefix/suffix overhangs).
    for k in range(1, ls):
        if 200.0 * k / (ls + k) <= best:
            continue
        score = indel_ratio(short, long_[:k])
        if score > best:
            best = score
        score = indel_ratio(short, long_[ll - k :])
        if score > best:
            best = score
    return best


def _token_sorted(s: str) -> str:
    return " ".join(sorted(s.split()))


def token_sort_ratio(a: str, b: str) -> float:
    return indel_ratio(_token_sorted(a), _token_sorted(b))


def token_set_ratio(a: str, b: str) -> float:
    ta, tb = set(a.split()), set(b.split())
    if not ta and not tb:
        return 100.0
    inter = " ".join(sorted(ta & tb))
    sect_a = (inter + " " + " ".join(sorted(ta - tb))).strip()
    sect_b = (inter + " " + " ".join(sorted(tb - ta))).strip()
    return max(
        indel_ratio(inter, sect_a),
        indel_ratio(inter, sect_b),
        indel_ratio(sect_a, sect_b),
    )


def wratio(a: str, b: str) -> float:
    """Weighted composite ratio (RapidFuzz ``fuzz.WRatio`` shape): plain ratio
    vs 0.95-scaled token ratios, switching to 0.9/0.6-scaled partials when the
    operand lengths diverge."""
    if not a or not b:
        return 0.0
    base = indel_ratio(a, b)
    la, lb = len(a), len(b)
    len_ratio = max(la, lb) / max(min(la, lb), 1)
    if len_ratio < 1.5:
        return max(base, max(token_sort_ratio(a, b), token_set_ratio(a, b)) * 0.95)
    # NOTE: a char-count upper-bound prune of the two partial scans was tried
    # and removed — blocking-derived candidate pairs share most of their
    # characters by construction, so the bound almost never fired and its
    # cost exceeded the savings (measured 7.5 → 8.1 ms/mention).
    partial_scale = 0.9 if len_ratio < 8.0 else 0.6
    partial = partial_ratio(a, b)
    partial_token = partial_ratio(_token_sorted(a), _token_sorted(b))
    return max(base, partial * partial_scale, partial_token * 0.95 * partial_scale)
