"""Arrow-batched pandas UDFs — the only Python on the hot path.

Every UDF here is vectorized at the batch level (Arrow exchange, one Python
call per ~10k rows) and calls the pure ``textops`` core per value. No per-row
Spark Python UDFs anywhere in the engine (``input_hint`` requirement).

The candidate scorer reproduces the reference's blend
(inexus_parser.py:2885-2901): ratio / partial_ratio / WRatio composite with
the partial-usage rule driven by the length ratio and the ngram-mass flag.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from address_parser_spark.textops.extract import extract_mentions
from address_parser_spark.textops.normalize import normalize_advanced, normalize_basic
from address_parser_spark.textops.similarity import (
    indel_ratio,
    jaro_winkler,
    levenshtein,
    partial_ratio,
    token_overlap,
    wratio,
)
from address_parser_spark.textops.street import extract_street


@pandas_udf(T.ArrayType(T.StringType()))
def extract_mentions_udf(text: pd.Series) -> pd.Series:
    return text.map(lambda t: extract_mentions(t) if isinstance(t, str) else [])


@pandas_udf(T.StringType())
def normalize_advanced_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda v: normalize_advanced(v) if isinstance(v, str) else "")


@pandas_udf(T.StringType())
def normalize_basic_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda v: normalize_basic(v) if isinstance(v, str) else "")


_DETECT_SCHEMA = T.StructType(
    [
        T.StructField("det_p", T.StringType()),
        T.StructField("det_d", T.StringType()),
        T.StructField("det_w", T.StringType()),
    ]
)


_REGISTRY_CACHE: dict[str, tuple] = {}


def _registry_udf_payload(registries: dict, spark):
    """(broadcast-or-local payload, getter) for alias-registry UDFs — token-
    keyed worker cache, same rationale as the resolver cache."""
    import uuid

    from address_parser_spark.textops.detect import AliasRegistry

    payload = {"token": uuid.uuid4().hex, "regs": registries}
    bc = spark.sparkContext.broadcast(payload) if spark is not None else None
    local = payload if bc is None else None

    def _get_regs():
        raw = bc.value if bc is not None else local
        key = raw["token"]
        hit = _REGISTRY_CACHE.get(key)
        if hit is None:
            if len(_REGISTRY_CACHE) >= 4:
                _REGISTRY_CACHE.clear()
            regs = raw["regs"]
            hit = (
                AliasRegistry(regs["province"]),
                AliasRegistry(regs["district"]),
                AliasRegistry(regs["ward"]),
            )
            _REGISTRY_CACHE[key] = hit
        return hit

    return _get_regs

_FEATURES_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("mention", T.StringType()),
            T.StructField("std", T.StringType()),
            T.StructField("std_basic", T.StringType()),
            T.StructField("det_p", T.StringType()),
            T.StructField("det_d", T.StringType()),
            T.StructField("det_w", T.StringType()),
            T.StructField("partial", T.BooleanType()),
        ]
    )
)


def partial_flag(std: str) -> bool:
    """Reference partial-input heuristic (inexus_parser.py:148-154): the five
    most frequent char-4-grams WITHIN the input (multiplicity, not node hits)
    carrying total mass ≥ 12 marks a repetitive/fragmentary input → the
    scorer leans on partial_ratio."""
    from collections import Counter

    from address_parser_spark.textops.ngrams import char_ngrams

    counts = Counter(char_ngrams(std))
    top5 = counts.most_common(5)
    return bool(top5) and sum(c for _, c in top5) >= 12


def make_extract_features_udf(registries: dict[str, list[str]], spark=None,
                              from_html: bool = False):
    """FUSED extraction + normalization (advanced & basic) + prefix detection
    in a single Arrow node.

    Chaining these as four separate pandas UDFs plants four ArrowEvalPython
    operators in ONE stage — every task then runs four python workers
    concurrently (task slots × UDF nodes processes; measured: a 32-core ×
    64-partition run spent ~25s spawning/importing ~128 workers). One fused
    UDF keeps it at one worker per task slot and one Arrow round-trip.

    ``from_html=True`` prepends the markup→text extraction
    (``textops.html.html_to_text``) to the same fused node, so the html-only
    branch of the page union ALSO plans exactly one ArrowEvalPython —
    chaining a separate html UDF in front re-created the two-workers-per-
    task-slot shape this fusion exists to avoid.
    """
    from address_parser_spark.textops.detect import detect_by_prefix
    from address_parser_spark.textops.extract import extract_mentions
    from address_parser_spark.textops.html import html_to_text
    from address_parser_spark.textops.normalize import normalize_advanced, normalize_basic

    _get_regs = _registry_udf_payload(registries, spark)

    @pandas_udf(_FEATURES_SCHEMA)
    def extract_features_udf(text: pd.Series) -> pd.Series:
        reg_p, reg_d, reg_w = _get_regs()
        det_cache: dict[str, tuple] = {}

        def run(t):
            if from_html:
                t = html_to_text(t)
            if not isinstance(t, str) or not t:
                return []
            out = []
            for mention in extract_mentions(t):
                std = normalize_advanced(mention)
                if len(std) < 2:
                    continue
                basic = normalize_basic(mention)
                det = det_cache.get(basic)
                if det is None:
                    det = detect_by_prefix(basic, reg_p, reg_d, reg_w)
                    det_cache[basic] = det
                out.append((mention, std, basic) + det + (partial_flag(std),))
            return out

        return text.map(run)

    return extract_features_udf


def make_detect_udf(registries: dict[str, list[str]], spark=None):
    """Prefix-detection UDF bound to the gazetteer alias registries.

    The registries are dimension-sized (≤ tens of thousands of short strings).
    When a SparkSession is provided they ship as a BROADCAST — deserialized
    once per executor process instead of once per task closure (task-binary
    deserialization of a multi-MB registry dominated small-job wall time).
    The derived ``AliasRegistry`` prefilter indexes are built lazily worker-
    side and cached per process. Per-batch memoization collapses repeated
    fragments; the exact-registry hit short-circuits the fuzzy scan
    (reference ``_pick_best`` fast path, inexus_parser.py:2715-2717).
    """
    from address_parser_spark.textops.detect import detect_by_prefix

    _get_regs = _registry_udf_payload(registries, spark)

    @pandas_udf(_DETECT_SCHEMA)
    def detect_udf(std_basic: pd.Series) -> pd.DataFrame:
        reg_p, reg_d, reg_w = _get_regs()
        cache: dict[str, tuple] = {}

        def run(s):
            if not isinstance(s, str) or not s:
                return (None, None, None)
            hit = cache.get(s)
            if hit is None:
                hit = detect_by_prefix(s, reg_p, reg_d, reg_w)
                cache[s] = hit
            return hit

        rows = [run(s) for s in std_basic]
        return pd.DataFrame(rows, columns=["det_p", "det_d", "det_w"])

    return detect_udf


def _component_boost(cand_std, detected, exact_bonus, fuzzy_bonus, missing_penalty):
    """Reference ``_component_boost`` (inexus_parser.py:2855-2876): exact
    alias agreement earns the full bonus, close fuzzy agreement a partial one,
    a missing/contradicting component the penalty."""
    if not detected:
        return 0.0
    if not cand_std:
        return missing_penalty
    if cand_std == detected:
        return exact_bonus
    similarity = indel_ratio(cand_std, detected)
    if similarity >= 90:
        return fuzzy_bonus
    if similarity >= 80:
        return fuzzy_bonus / 2
    return missing_penalty


def _unsupported_penalty(inp, dp, dd, dw, np_, nd, nw) -> float:
    """Order-insensitive containment check (the reference's
    ``_appears_in_input`` idea, applied at scoring time): a candidate node
    carrying a component that was neither detected NOR appears anywhere in
    the input string has no textual support for it. Without this, a
    2-component new-format mention ("Tỉnh X, Phường Y" in any order) loses
    to its 3-level old-format twin purely on the comps bonus — the twin's
    district name isn't in the string at all. Detection-backed contradictions
    are already priced by ``_component_boost``; this term only fires when
    detection returned nothing for the level."""
    pen = 0.0
    # Each penalty requires the OTHER two levels to be keyword-detected:
    # that is the structural evidence the mention is fully typed, so a
    # component with zero textual support is phantom, not merely omitted.
    # (Golden-450-style bare mentions — "Sơn Thủy T Quảng Bình", no
    # keywords — never trigger it; there an absent district usually means
    # the writer omitted it, and penalizing the true candidate's district
    # hands the win to an impostor whose district name echoes the province.)
    # The district penalty must dominate the order-sensitivity of the string
    # blend: a reversed "Tỉnh P, Phường W" scores its old-format twin's full
    # variant ~15-20 higher on `combined` than the new-format variant (the
    # sliding-window scorers reward the longer candidate), and the only
    # evidence against the twin is that its district has zero textual
    # support. Ward/province keep softer penalties — their absence is
    # usually a partial mention, not a wrong-entity signal.
    if dw and dp and not dd and nd and nd not in inp:
        pen += 20.0
    if dd and dp and not dw and nw and nw not in inp:
        pen += 8.0
    if dw and dd and not dp and np_ and np_ not in inp:
        pen += 3.0
    return pen


def _combined_score(inp: str, cand: str, use_partial_flag: bool) -> tuple[float, float, float, float]:
    """Reference blend: max of ratio/WRatio, partial under the length rule,
    then floor at 0.6·ratio + 0.4·WRatio (inexus_parser.py:2886-2901).

    ``partial_ratio`` (the expensive sliding-window scorer) is evaluated
    lazily — only when the length rule or the low-base fallback can actually
    use it. Same outputs, a fraction of the work on the common path.
    """
    base = indel_ratio(inp, cand)
    wr = wratio(inp, cand)
    length_ratio = max(len(inp), 1) / max(len(cand), 1)
    use_partial = use_partial_flag or length_ratio >= 1.25
    combined = max(base, wr)
    part = -1.0
    # DELIBERATE DEVIATION from the reference blend: a candidate whose full
    # std appears verbatim (word-bounded) in the input earns its partial
    # score even when the length rule denies it. The reference's rule gives
    # a SHORT substring candidate partial=100 while denying it to a LONGER
    # candidate that is also a verbatim substring — so "Thôn X Bình Minh,
    # Thanh Oai, Hà Nội" resolved to the 2-level (Hà Nội, ward Thanh Oai)
    # node at combined=100 over the correct 3-level (…, Bình Minh) node at
    # 95, losing the ward. Fixes 20+ golden-450 ward misses; gated by
    # test_golden_450_accuracy_at_least_reference + the corpus F1 gate.
    if not use_partial and len(cand) <= len(inp) and f" {cand} " in f" {inp} ":
        part = 100.0
        combined = max(combined, part)
    elif use_partial:
        part = partial_ratio(inp, cand)
        combined = max(combined, part)
    elif base < 80:
        part = partial_ratio(inp, cand)
        if part >= 90:
            combined = max(combined, part * 0.95)
    combined = max(combined, 0.6 * base + 0.4 * wr)
    return base, part, wr, combined


_PAIR_SCHEMA = T.StructType(
    [
        T.StructField("jw", T.DoubleType()),
        T.StructField("lev_sim", T.DoubleType()),
        T.StructField("tok_overlap", T.DoubleType()),
    ]
)


@pandas_udf(_PAIR_SCHEMA)
def pair_score_udf(a: pd.Series, b: pd.Series) -> pd.DataFrame:
    """Mention↔mention similarity bundle for the pair stage (north_star:
    batched Jaro-Winkler / Levenshtein / token-overlap)."""
    rows = []
    for x, y in zip(a, b):
        x = x if isinstance(x, str) else ""
        y = y if isinstance(y, str) else ""
        denom = max(len(x), len(y), 1)
        rows.append(
            (
                jaro_winkler(x, y),
                1.0 - levenshtein(x, y) / denom,
                token_overlap(x, y),
            )
        )
    return pd.DataFrame(rows, columns=["jw", "lev_sim", "tok_overlap"])


@pandas_udf(T.StringType())
def street_extract_udf(
    original: pd.Series, province: pd.Series, district: pd.Series, ward: pd.Series
) -> pd.Series:
    return pd.Series(
        [
            extract_street(
                o if isinstance(o, str) else "",
                p if isinstance(p, str) else None,
                d if isinstance(d, str) else None,
                w if isinstance(w, str) else None,
            )
            for o, p, d, w in zip(original, province, district, ward)
        ]
    )


def _street_and_entity(original: str, std: str, province, district, ward,
                       is_new=None) -> tuple[str, str]:
    """Street extraction + entity_std derivation (row-local core of the fused
    resolver).

    ``entity_std`` is the canonical entity-bearing string the blocking keys
    and pair scoring run on. When the (repaired) components are known it is
    built FROM THEM — ward district province, normalized — so every mention
    of an entity shares one entity_std regardless of which components the
    page happened to render (partial mentions the repair cascade completed
    would otherwise land in different blocks). Mentions with no resolved
    components fall back to the normalized mention minus its street tokens.
    New-format entities (``is_new``) exclude the district from entity_std:
    it is a display-only inference from the ward's old-catalog twin and
    varies with the mention text (street extraction still uses it)."""
    from address_parser_spark.textops.normalize import normalize_advanced, normalize_basic

    street = extract_street(original, province, district, ward)
    entity_district = None if is_new is True else district
    parts = [normalize_basic(x) for x in (ward, entity_district, province) if x]
    entity_std = " ".join(p for p in parts if p)
    if len(entity_std) < 2:
        street_toks = set(normalize_advanced(street).split()) if street else set()
        seen: set[str] = set()
        kept = []
        for tok in std.split():
            if tok in street_toks or tok in seen:
                continue
            seen.add(tok)
            kept.append(tok)
        entity_std = " ".join(kept)
        if len(entity_std) < 2:
            entity_std = std
    return street, entity_std


# ---------------------------------------------------------------------------
# Fused broadcast resolver: probe → top-K → Dice gate → score → argmax →
# repair → street, one Arrow node per DISTINCT mention.
#
# The gazetteer is a BROADCAST DIMENSION: its pickled resolver state is about
# 0.19 MB per 1k nodes (~7 MB at the reference's 38.7k nodes). A relational
# formulation would shuffle corpus × catalog candidate rows (measured 28M rows
# for 36k distinct mentions — ~90% of them 1-shared-gram noise the Dice gate
# kills); probing the broadcast index map-side keeps the resolve stage
# embarrassingly parallel — exactly SURVEY §3.2's shape for the reference's
# bulk pipeline. ``make_resolve_udf`` refuses a state over
# ``MAX_RESOLVER_STATE_BYTES`` instead of shipping it.
# ---------------------------------------------------------------------------

RESOLVE_SCHEMA = T.StructType(
    [
        T.StructField("node_id", T.LongType()),
        T.StructField("level", T.StringType()),
        T.StructField("is_new", T.BooleanType()),
        T.StructField("province", T.StringType()),
        T.StructField("district", T.StringType()),
        T.StructField("ward", T.StringType()),
        T.StructField("province_code", T.StringType()),
        T.StructField("district_code", T.StringType()),
        T.StructField("ward_code", T.StringType()),
        T.StructField("cand_std", T.StringType()),
        T.StructField("final_score", T.DoubleType()),
        T.StructField("combined", T.DoubleType()),
        T.StructField("dice", T.DoubleType()),
        T.StructField("street_address", T.StringType()),
        T.StructField("entity_std", T.StringType()),
    ]
)

_RESOLVER_CACHE: dict[str, tuple] = {}
_SCORE_MEMO_CAP = 2_000_000


def build_resolver_state(nodes: list[dict]) -> dict:
    """Driver-side: nodes → compact picklable resolve state: inverted gram
    postings over the alias-union gram set (reference ``invert_ngrams_idx``),
    per-node gram-set sizes (the reference's Dice denominator is the FULL
    ``ngram_list``, inexus_parser.py:2824), per-node attribute tuples, and
    the per-level alias→node invert maps used for detected-value validation
    and the candidate-prioritization prefilter (:2836-2850)."""
    from address_parser_spark.gazetteer.nodes import _augment_aliases
    from address_parser_spark.textops.normalize import normalize_basic

    from address_parser_spark.textops.ngrams import char_ngram_set

    idx_all: dict[str, list[int]] = {}
    idx_primary: dict[str, list[int]] = {}
    n_primary: list[int] = []
    attrs: list[tuple] = []
    inv: dict[str, dict[str, list[int]]] = {"province": {}, "district": {}, "ward": {}}

    def register(level: str, aliases: list[str], node_id: int) -> None:
        for alias in aliases:
            std = normalize_basic(alias)
            if std:
                postings = inv[level].setdefault(std, [])
                if not postings or postings[-1] != node_id:
                    postings.append(node_id)

    for n in nodes:
        nid = n["node_id"]
        assert nid == len(attrs), "node_id must be dense and ordered"
        primary = char_ngram_set(n["std_name"])
        n_primary.append(len(primary))
        for g in n["ngrams"]:
            idx_all.setdefault(g, []).append(nid)
            if g in primary:
                idx_primary.setdefault(g, []).append(nid)
        if n["province"]:
            register("province",
                     n.get("p_aliases") or _augment_aliases(n["province"], "province"), nid)
        if n["district"]:
            register("district",
                     n.get("d_aliases") or _augment_aliases(n["district"], "district"), nid)
        if n["ward"]:
            register("ward",
                     n.get("w_aliases") or _augment_aliases(n["ward"], "ward"), nid)
        attrs.append(
            (
                n["level"], n["is_new"], n["province"], n["district"], n["ward"],
                n["province_code"], n["district_code"], n["ward_code"],
                n["p_std"], n["d_std"], n["w_std"], n["std_name"],
            )
        )
    for level in inv:
        for postings in inv[level].values():
            postings.sort()
    return {"idx_all": idx_all, "idx_primary": idx_primary,
            "n_primary": n_primary, "attrs": attrs, "inv": inv}


# Pickled (resolve state + repair state) budget for the broadcast. A catalog
# this large is not a gazetteer the kernel was built for; fail loudly rather
# than ship it to every executor.
MAX_RESOLVER_STATE_BYTES = 256 * 1024 * 1024


def make_resolve_udf(state: dict, spark=None, repair_state: dict | None = None):
    """Fused resolve kernel over the broadcast gazetteer state.

    Per distinct mention (reference ``process()``, minus prefix detection
    which rides in on the extract stage): counter probe of the inverted index
    (inexus_parser.py:2670-2680), top-5 mass partial flag (:148-154),
    ``TOPK_CANDIDATES`` cap (:114, with the partial flag computed
    reference-style at extract time — within-input gram multiplicity,
    :148-154), ``DICE_GATE`` on primary grams (:2824-2827), ``SCORE_SLICE``
    score slice (:2878), blend + boosts (:2885-2912), lexicographic argmax
    (:2926-2940), the component-repair cascade (:186-403, textops.repair —
    when ``repair_state`` is provided), then street extraction on the
    repaired components. Scores are memoized per worker process across
    batches keyed on (std, cand_std, flag) — duplicate address strings across
    the corpus pay once per worker.

    The state is pickled ONCE here; those bytes are both what the budget
    check measures and what ships. Raises ``ValueError`` naming the size and
    the node count when they exceed ``MAX_RESOLVER_STATE_BYTES``."""
    import pickle
    import uuid

    blob = pickle.dumps({"resolve": state, "repair": repair_state},
                        protocol=pickle.HIGHEST_PROTOCOL)
    if len(blob) > MAX_RESOLVER_STATE_BYTES:
        raise ValueError(
            f"resolver state for {len(state['attrs']):,} gazetteer nodes pickles "
            f"to {len(blob):,} bytes, over the {MAX_RESOLVER_STATE_BYTES:,}-byte "
            "broadcast budget"
        )
    # Cache key is a DRIVER-GENERATED token, not id(): a GC'd broadcast value
    # whose address is reused must not alias a stale resolver, and two
    # alternating resolver UDFs in one worker must not thrash a single-entry
    # cache.
    payload = (uuid.uuid4().hex, blob)
    bc = spark.sparkContext.broadcast(payload) if spark is not None else None
    local = payload if bc is None else None  # never in the UDF closure when broadcast

    def _get_state():
        token, raw_blob = bc.value if bc is not None else local
        hit = _RESOLVER_CACHE.get(token)
        if hit is None:
            if len(_RESOLVER_CACHE) >= 4:
                _RESOLVER_CACHE.clear()
            raw = pickle.loads(raw_blob)
            r = raw["resolve"]
            hit = (r["idx_all"], r["idx_primary"], r["n_primary"], r["attrs"], r["inv"],
                   raw["repair"], {}, {})
            _RESOLVER_CACHE[token] = hit
        return hit

    @pandas_udf(RESOLVE_SCHEMA)
    def resolve_udf(
        mention: pd.Series, std: pd.Series, std_basic: pd.Series, grams: pd.Series,
        det_p: pd.Series, det_d: pd.Series, det_w: pd.Series, partial: pd.Series,
    ) -> pd.DataFrame:
        idx_all, idx_primary, n_primary, attrs, inv, rep_st, score_memo, boost_memo = _get_state()
        rows = [
            resolve_one(
                idx_all, idx_primary, n_primary, attrs, inv, rep_st,
                score_memo, boost_memo,
                m, s, sb, gs, dp, dd, dw, bool(pf),
            )
            for m, s, sb, gs, dp, dd, dw, pf in zip(
                mention, std, std_basic, grams, det_p, det_d, det_w, partial
            )
        ]
        return pd.DataFrame(rows, columns=[f.name for f in RESOLVE_SCHEMA.fields])

    return resolve_udf


_NONE_ROW = (None,) * 15


def _infer_format(rep_st: dict, district, w_code, p_code):
    """Format tag for a repair-only resolution (no winner node): derived from
    the code system so the entity_key matches sibling mentions that resolved a
    node. 3-level (district present) → old; ward code → catalog membership;
    province-only → catalog membership; nothing → unknown (None)."""
    if district:
        return False
    if w_code:
        return w_code in rep_st.get("new_ward_codes", ())
    if p_code:
        return p_code in rep_st.get("new_province_codes", ())
    return None


# The reference's candidate-scan constants (inexus_parser.py).
DICE_GATE = 0.4        # Dice gate on primary grams (:2824-2827)
TOPK_CANDIDATES = 400  # most-hit candidates kept before the gate (:114, 2680)
SCORE_SLICE = 120      # candidates scored after prioritization (:2878)
EARLY_BREAK = 200      # scan stops at the first gate failure past here (:2829-2831)


def resolve_one(idx_all, idx_primary, n_primary, attrs, inv, rep_st,
                score_memo, boost_memo,
                m, s, sb, gs, dp, dd, dw, partial_input: bool = False) -> tuple:
    """One mention through probe → cap → gate → prioritize → score → argmax →
    repair → street. Pure function shared by the Arrow kernel and
    ``LocalParser`` (plans.local_parser); returns a RESOLVE_SCHEMA-shaped
    tuple. Mirrors the reference ``address_candidate_list``
    (inexus_parser.py:2796-2941): duplicate-counting candidate ranking, early
    break at the first failing candidate past ``EARLY_BREAK``, detected-component
    prefilter reordering before the ``SCORE_SLICE`` score slice. DELIBERATE
    DEVIATION: the Dice gate runs over PRIMARY-form grams (std_name) rather
    than the reference's alias-union ``ngram_list`` — digit wards/districts
    carry 4×4 typed alias cross-products whose gram unions dilute the
    denominator and gate exact matches out on street-heavy mentions
    (validated: golden-450 accuracy stays ≥ the reference's, and the
    synthetic-corpus F1 gate requires it)."""
    from collections import Counter

    from address_parser_spark.textops.repair import repair_components

    if not isinstance(s, str) or gs is None or not len(gs):
        return _NONE_ROW
    # detected values must exist as alias keys at their level (reference
    # _validate_detected_value, :1900-1905)
    dp = dp if dp and dp in inv["province"] else None
    dd = dd if dd and dd in inv["district"] else None
    dw = dw if dw and dw in inv["ward"] else None
    # Candidate RANKING counts each DISTINCT input gram once (reference
    # ``ngram_address_piece_list`` iterates ``set(input_ngram_list)``,
    # :2674-2676), and the Dice intersection is over the same distinct set
    # (:2812-2824) — ``gs`` may arrive raw or pre-deduplicated; both collapse
    # to ``gset`` here.
    gset = set(gs)
    c_rank: Counter = Counter()
    for g in gset:
        post = idx_all.get(g)
        if post:
            c_rank.update(post)
    c_prim: Counter = Counter()
    for g in gset:
        post = idx_primary.get(g)
        if post:
            c_prim.update(post)
    ranked = sorted(c_rank.items(), key=lambda kv: (-kv[1], kv[0]))
    n_in = len(gset)

    # Stage 1: Dice gate with the counter-order early break (:2814-2831)
    filtered: list[tuple[int, float]] = []
    index = 0
    for nid, _cnt in ranked[:TOPK_CANDIDATES]:
        index += 1
        dice = 2.0 * c_prim[nid] / (n_in + n_primary[nid])
        if dice >= DICE_GATE:
            filtered.append((nid, dice))
        elif index >= EARLY_BREAK:
            break

    # Prefilter reordering: candidates agreeing with ALL detected components
    # move to the front (stable) before the score slice (:2836-2850) — this
    # is semantic, not cosmetic, because of the SCORE_SLICE cap.
    pf = None
    if dw:
        pf = set(inv["ward"].get(dw, ()))
    if dd:
        ds = set(inv["district"].get(dd, ()))
        pf = ds if pf is None else pf & ds
    if dp:
        ps = set(inv["province"].get(dp, ()))
        pf = ps if pf is None else pf & ps
    if pf:
        prioritized = [e for e in filtered if e[0] in pf]
        if prioritized:
            filtered = prioritized + [e for e in filtered if e[0] not in pf]

    best = None
    best_key = None
    for nid, dice in filtered[:SCORE_SLICE]:
        (level, is_new, province, district, ward, p_code, d_code, w_code,
         p_std, d_std, w_std, cand_std) = attrs[nid]
        skey = (s, cand_std, partial_input)
        scores = score_memo.get(skey)
        if scores is None:
            if len(score_memo) > _SCORE_MEMO_CAP:
                score_memo.clear()
            scores = _combined_score(s, cand_std, partial_input)
            score_memo[skey] = scores
        combined = scores[3]
        bkey = (dp, dd, dw, p_std, d_std, w_std)
        boost = boost_memo.get(bkey)
        if boost is None:
            boost = (
                _component_boost(w_std, dw, 18.0, 12.0, -12.0)
                + _component_boost(d_std, dd, 14.0, 9.0, -10.0)
                + _component_boost(p_std, dp, 6.0, 3.5, -4.0)
            )
            boost_memo[bkey] = boost
        # containment runs on the BASIC string: advanced normalization drops
        # stop-tokens that are part of real names ("Nhà Bè" → "be"), which
        # would misfire the penalty on the correct candidate
        boost -= _unsupported_penalty(
            sb if isinstance(sb, str) else s, dp, dd, dw, p_std, d_std, w_std
        )
        comps = int(province is not None) + int(district is not None) + int(ward is not None)
        has_ward = int(ward is not None)
        final = combined + boost + comps * 1.5 + has_ward * 1.0 + dice * 10.0
        # District-less input ⇒ the 2-level (new-format) reading is the
        # structurally consistent one: without this, an order-reversed
        # "Tỉnh P, Phường W" ties its old-format twin on every score term
        # and the -node_id tiebreak silently picks old. 1.5 exactly offsets
        # the 3-comp twin's comps advantage (digit ward/district twins like
        # "1 1 ho chi minh" pass every containment check on a "Phường 1"
        # input); never outweighs a detected district's boost.
        if is_new and not dd:
            final += 1.5
        key = (final, combined, comps, has_ward, len(cand_std), -nid)
        if best_key is None or key > best_key:
            best_key = key
            best = (nid, level, is_new, province, district, ward,
                    p_code, d_code, w_code, cand_std, final, combined, dice)
    if best is None:
        if rep_st is None:
            return _NONE_ROW
        best = (None,) * 13

    nid, level, is_new, province, district, ward, p_code, d_code, w_code, \
        cand_std, final, combined, dice = best
    if rep_st is not None:
        province, district, ward, p_code, d_code, w_code = repair_components(
            rep_st, province or "", district or "", ward or "",
            dp, dd, dw, sb if isinstance(sb, str) else "",
            p_code, d_code, w_code, is_new=is_new,
        )
        province, district, ward = province or None, district or None, ward or None
        if nid is None and not (province or district or ward):
            return _NONE_ROW
        if nid is None:
            is_new = _infer_format(rep_st, district, w_code, p_code)
    street, entity_std = _street_and_entity(
        m if isinstance(m, str) else "", s, province, district, ward, is_new
    )
    return (nid, level, is_new, province, district, ward,
            p_code, d_code, w_code, cand_std, final, combined, dice,
            street, entity_std)
