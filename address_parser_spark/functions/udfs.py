"""Arrow-batched pandas UDFs — the only Python on the hot path.

Every UDF here is vectorized at the batch level (Arrow exchange, one Python
call per ~10k rows) and calls the pure ``textops`` core per value. No per-row
Spark Python UDFs anywhere in the engine (``input_hint`` requirement).

Driver-built state reaches the UDFs one way: ``broadcast_state`` pickles it
once, checks ``MAX_RESOLVER_STATE_BYTES`` on those bytes, broadcasts them
under a driver token and decodes them once per token per worker. Two
payloads use it: the alias registries of the extract and resolve UDFs
(``decode_registries``) and the resolve UDF's ``resolver_state``
(``decode_resolver_state``). ``LocalParser`` runs the same decoders and the
same per-mention functions (``mention_features``, ``resolve_one``) on the
driver.

The candidate scorer reproduces the reference's blend
(inexus_parser.py:2885-2901): ratio / partial_ratio / WRatio composite with
the partial-usage rule driven by the length ratio and the ngram-mass flag.
"""

from __future__ import annotations

import pickle
import uuid

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from address_parser_spark.textops.detect import AliasRegistry, detect_by_prefix
from address_parser_spark.textops.extract import extract_mentions
from address_parser_spark.textops.html import html_to_text
from address_parser_spark.textops.ngrams import char_ngram_set, char_ngrams
from address_parser_spark.textops.normalize import normalize_advanced, normalize_basic
from address_parser_spark.textops.similarity import indel_ratio, partial_ratio, wratio
from address_parser_spark.textops.street import extract_street

# Pickled budget for any driver state broadcast to the Python workers. A
# catalog this large is not a gazetteer the kernel was built for; fail
# loudly rather than ship it to every executor.
MAX_RESOLVER_STATE_BYTES = 256 * 1024 * 1024

# token → decoded state, per Python worker process. Read only through the
# module-level ``_decoded``: a global referenced from a nested UDF closure is
# pickled BY VALUE with the closure, so each task would get its own empty
# copy; a module-level function is pickled by reference and sees the
# worker's one dict.
_WORKER_STATE: dict[str, object] = {}


def _decoded(bc, decode):
    token, blob = bc.value
    hit = _WORKER_STATE.get(token)
    if hit is None:
        if len(_WORKER_STATE) >= 4:
            _WORKER_STATE.clear()
        hit = _WORKER_STATE[token] = decode(pickle.loads(blob))
    return hit


def broadcast_state(spark, payload, decode, what: str):
    """Ship driver-built ``payload`` to the Python workers; return a getter
    that yields ``decode(payload)``, decoded once per worker process.

    The payload is pickled ONCE here; those bytes are both what the budget
    check measures and what ships. Raises ``ValueError`` naming ``what`` and
    the size when they exceed ``MAX_RESOLVER_STATE_BYTES``. The worker cache
    is keyed on a DRIVER-GENERATED token, not id(): a GC'd broadcast value
    whose address is reused must not alias stale state, and two alternating
    UDFs in one worker must not thrash a single-entry cache. ``decode`` must
    be a module-level function (pickled by reference).

    Each call makes a new broadcast and a new token, which every worker
    decodes again; the pipeline's two payloads are therefore broadcast once
    per session and gazetteer (``plans.pipeline.gazetteer_state``), so
    their tokens, and the workers' decoded state, outlive a single run."""
    blob = pickle.dumps(payload, protocol=pickle.HIGHEST_PROTOCOL)
    if len(blob) > MAX_RESOLVER_STATE_BYTES:
        raise ValueError(
            f"{what} pickles to {len(blob):,} bytes, over the "
            f"{MAX_RESOLVER_STATE_BYTES:,}-byte broadcast budget"
        )
    bc = spark.sparkContext.broadcast((uuid.uuid4().hex, blob))
    return lambda: _decoded(bc, decode)


def decode_registries(registries: dict[str, list[str]]) -> tuple:
    """``gazetteer.nodes.alias_registries`` → the (province, district, ward)
    prefix-detection registries."""
    return tuple(AliasRegistry(registries[level]) for level in ("province", "district", "ward"))


_FEATURES_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("mention", T.StringType()),
            T.StructField("std", T.StringType()),
            T.StructField("std_basic", T.StringType()),
            T.StructField("det_p", T.StringType()),
            T.StructField("det_d", T.StringType()),
            T.StructField("det_w", T.StringType()),
        ]
    )
)


def partial_flag(std: str) -> bool:
    """Reference partial-input heuristic (inexus_parser.py:148-154): the five
    most frequent char-4-grams WITHIN the input (multiplicity, not node hits)
    carrying total mass ≥ 12 marks a repetitive/fragmentary input → the
    scorer leans on partial_ratio."""
    from collections import Counter

    counts = Counter(char_ngrams(std))
    top5 = counts.most_common(5)
    return bool(top5) and sum(c for _, c in top5) >= 12


def mention_features(mention: str, regs: tuple, det_cache: dict) -> tuple:
    """One extracted mention → its ``_FEATURES_SCHEMA`` row: (mention, std,
    std_basic, det_p, det_d, det_w), exactly ``resolve_one``'s mention
    arguments. ``regs`` is ``decode_registries``' output; ``det_cache``
    memoizes prefix detection per basic string. Shared by the extract UDF
    and ``LocalParser``."""
    std = normalize_advanced(mention)
    basic = normalize_basic(mention)
    det = det_cache.get(basic)
    if det is None:
        det = det_cache[basic] = detect_by_prefix(basic, *regs)
    return (mention, std, basic) + det


def page_features(t, h, regs: tuple, det_cache: dict) -> list[tuple]:
    """One page → the ``_FEATURES_SCHEMA`` rows of its mentions, in page
    order. The page's text is ``t`` when that is a non-empty string, else
    ``textops.html.html_to_text(h)`` (a null ``h`` gives no mentions);
    mentions whose advanced form is shorter than two characters are
    dropped. ``regs`` and ``det_cache`` are ``mention_features``'."""
    if not isinstance(t, str) or not t:
        t = html_to_text(h)
    if not t:
        return []
    rows = (mention_features(m, regs, det_cache) for m in extract_mentions(t))
    return [row for row in rows if len(row[1]) >= 2]


def make_extract_features_udf(get_regs):
    """``page_features`` as one Arrow node over ``(text, html)``: html→text,
    extraction, normalization (advanced & basic) and prefix detection;
    ``get_regs`` is the ``broadcast_state`` getter of the registries.
    ``extract_normalize`` nulls ``html`` on the JVM for texted pages, so
    their markup never crosses into Python."""

    @pandas_udf(_FEATURES_SCHEMA)
    def extract_features_udf(text: pd.Series, html: pd.Series) -> pd.Series:
        regs = get_regs()
        det_cache: dict[str, tuple] = {}
        return pd.Series([page_features(t, h, regs, det_cache) for t, h in zip(text, html)],
                         index=text.index)

    return extract_features_udf


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


def _final_score(combined, boost, comps, has_ward, dice, new_bonus) -> float:
    """The argmax's first key, summed left to right in one fixed order:
    ``resolve_one`` evaluates it at ``combined = 100.0`` as the candidate's
    upper bound, and at the real ``combined`` as its score."""
    final = combined + boost + comps * 1.5 + has_ward * 1.0 + dice * 10.0
    if new_bonus:
        final += 1.5
    return final


def _street_and_entity(original: str, std: str, province, district, ward,
                       is_new=None) -> tuple[str, str]:
    """Street extraction + entity_std derivation (row-local core of the fused
    resolver).

    ``entity_std`` is the canonical entity-bearing string the blocking keys
    and string edges run on. When the (repaired) components are known it is
    built FROM THEM — ward district province, normalized — so every mention
    of an entity shares one entity_std regardless of which components the
    page happened to render (partial mentions the repair cascade completed
    would otherwise land in different blocks). Mentions with no resolved
    components fall back to the normalized mention minus its street tokens.
    New-format entities (``is_new``) exclude the district from entity_std:
    it is a display-only inference from the ward's old-catalog twin and
    varies with the mention text (street extraction still uses it)."""
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
# repair → street, in the same Arrow node as the page's extraction.
#
# The gazetteer is a BROADCAST DIMENSION: its pickled resolver state is about
# 0.19 MB per 1k nodes (~7 MB at the reference's 38.7k nodes). A relational
# formulation would shuffle corpus × catalog candidate rows (measured 28M rows
# for 36k distinct mentions — ~90% of them 1-shared-gram noise the Dice gate
# kills); probing the broadcast index map-side keeps the resolve stage
# embarrassingly parallel — exactly SURVEY §3.2's shape for the reference's
# bulk pipeline. ``broadcast_state`` refuses a state over
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
        T.StructField("format", T.StringType()),
        T.StructField("entity_key", T.StringType()),
    ]
)


def build_resolver_state(nodes: list[dict]) -> dict:
    """Driver-side: nodes → the resolve index: inverted gram postings over
    the alias-union gram set (reference ``invert_ngrams_idx``), per-node
    gram-set sizes (the reference's Dice denominator is the FULL
    ``ngram_list``, inexus_parser.py:2824), and per-node attribute tuples.
    The alias→node invert maps used for detected-value validation and the
    candidate-prioritization prefilter (:2836-2850) are built once, by
    ``gazetteer.nodes.build_repair_state``."""
    idx_all: dict[str, list[int]] = {}
    idx_primary: dict[str, list[int]] = {}
    n_primary: list[int] = []
    attrs: list[tuple] = []

    for n in nodes:
        nid = n["node_id"]
        assert nid == len(attrs), "node_id must be dense and ordered"
        primary = char_ngram_set(n["std_name"])
        n_primary.append(len(primary))
        for g in n["ngrams"]:
            idx_all.setdefault(g, []).append(nid)
            if g in primary:
                idx_primary.setdefault(g, []).append(nid)
        attrs.append(
            (
                n["level"], n["is_new"], n["province"], n["district"], n["ward"],
                n["province_code"], n["district_code"], n["ward_code"],
                n["p_std"], n["d_std"], n["w_std"], n["std_name"],
            )
        )
    return {"idx_all": idx_all, "idx_primary": idx_primary,
            "n_primary": n_primary, "attrs": attrs}


def resolver_state(nodes: list[dict], repair_state: dict) -> dict:
    """The resolve kernel's broadcast payload: the resolve index
    (``build_resolver_state``) and the repair state
    (``gazetteer.nodes.build_repair_state``), each structure once."""
    return {**build_resolver_state(nodes), **repair_state}


def decode_resolver_state(state: dict) -> dict:
    """Executor-side view of ``resolver_state``: the state plus this
    worker's component-boost memo. ``LocalParser`` decodes the same way."""
    return {**state, "boost_memo": {}}


_RESOLVED_SCHEMA = T.ArrayType(
    T.StructType(_FEATURES_SCHEMA.elementType.fields[:2] + RESOLVE_SCHEMA.fields)
)


def make_resolve_udf(spark, get_regs, state: dict):
    """The whole per-page resolve as ONE Arrow node over ``(text, html)``:
    ``page_features`` extracts the page's mentions (``get_regs`` is the
    ``broadcast_state`` getter of the registries), then ``resolve_one`` runs
    on each mention against the broadcast ``resolver_state``. Returns
    ``_RESOLVED_SCHEMA``: one (mention, std, *RESOLVE_SCHEMA) row per
    resolved mention of the page, in page order; an unresolved mention gives
    no row.

    One node, not an extract UDF chained to a resolve UDF: chained pandas
    UDFs plant several ArrowEvalPython operators in ONE stage, and every
    task then runs that many Python workers concurrently (task slots × UDF
    nodes processes; measured: a 32-core × 64-partition run spent ~25 s
    spawning and importing ~128 workers). One node keeps it at one worker
    per task slot and one Arrow round-trip per page.

    Resolution is a pure function of the mention text, so a repeated
    mention is resolved once per Arrow batch (``spark.sql.execution.arrow.
    maxRecordsPerBatch`` pages) and its row reused.

    Per mention (reference ``process()``): gram set and top-5 mass partial
    flag derived from ``std`` (:148-154), counter probe of the inverted index
    (inexus_parser.py:2670-2680), ``TOPK_CANDIDATES`` cap (:114),
    ``DICE_GATE`` on primary grams (:2824-2827), ``SCORE_SLICE`` score slice
    (:2878), blend + boosts (:2885-2912), lexicographic argmax (:2926-2940)
    — exact, but scored in descending upper-bound order and stopped once no
    bound can beat the best (``_best_candidate``), so about 5% of the slice
    is scored — the component-repair cascade (:186-403, textops.repair), street
    extraction on the repaired components, then the format tag and entity
    key. Scores are not memoized: with about 1.2 candidates scored per
    mention, a (std, cand_std) memo hit 1% of lookups and saved no time.

    Raises ``ValueError`` (from ``broadcast_state``) naming the pickled size
    and the node count when the state exceeds ``MAX_RESOLVER_STATE_BYTES``.

    The UDF holds its broadcasts; ``plans.pipeline.gazetteer_state`` builds
    it once per session and gazetteer, so every run on that gazetteer
    reuses the same broadcast tokens."""
    get_state = broadcast_state(
        spark, state, decode_resolver_state,
        f"resolver state for {len(state['attrs']):,} gazetteer nodes",
    )

    @pandas_udf(_RESOLVED_SCHEMA)
    def resolve_udf(text: pd.Series, html: pd.Series) -> pd.Series:
        regs, st = get_regs(), get_state()
        det_cache: dict[str, tuple] = {}
        resolved: dict[str, tuple | None] = {}

        def run(t, h):
            rows = []
            for f in page_features(t, h, regs, det_cache):
                if f[0] not in resolved:
                    resolved[f[0]] = resolve_one(st, *f)
                row = resolved[f[0]]
                if row is not None:
                    rows.append(f[:2] + row)
            return rows

        return pd.Series([run(t, h) for t, h in zip(text, html)], index=text.index)

    return resolve_udf


def _infer_format(st: dict, district, w_code, p_code):
    """Format tag for a repair-only resolution (no winner node): derived from
    the code system so the entity_key matches sibling mentions that resolved a
    node. 3-level (district present) → old; ward code → catalog membership;
    province-only → catalog membership; nothing → unknown (None)."""
    if district:
        return False
    if w_code:
        return w_code in st["new_ward_codes"]
    if p_code:
        return p_code in st["new_province_codes"]
    return None


# The reference's candidate-scan constants (inexus_parser.py).
DICE_GATE = 0.4        # Dice gate on primary grams (:2824-2827)
TOPK_CANDIDATES = 400  # most-hit candidates kept before the gate (:114, 2680)
SCORE_SLICE = 120      # candidates scored after prioritization (:2878)
EARLY_BREAK = 200      # scan stops at the first gate failure past here (:2829-2831)


def _best_candidate(st: dict, s: str, sb, partial_input: bool, dp, dd, dw,
                    candidates: list) -> tuple | None:
    """The argmax over ``candidates`` ((nid, dice) pairs, the score slice):
    (nid, level, is_new, province, district, ward, p_code, d_code, w_code,
    cand_std, final, combined, dice) of the candidate with the largest key
    (final, combined, comps, has_ward, len(cand_std), -nid), or ``None``.
    Exact but pruned: only the candidates that can still win are scored."""
    attrs, boost_memo = st["attrs"], st["boost_memo"]
    # Bound, order, stop. Every term of ``final`` but ``combined`` is cheap,
    # and ``combined`` ≤ 100, so ``_final_score(100.0, …)`` bounds ``final``
    # from above (same additions in the same order; IEEE addition is
    # monotone). Candidates are scored in descending bound order and the
    # scan stops at the first bound STRICTLY below the best ``final``: no
    # later candidate can reach it, and a tie on ``final`` still goes to
    # the rest of the key. The key is a total order (``-nid``), so the scan
    # order cannot change the winner.
    sb_in = sb if isinstance(sb, str) else s
    bounded = []
    for nid, dice in candidates:
        attr = attrs[nid]
        p_std, d_std, w_std = attr[8:11]
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
        boost -= _unsupported_penalty(sb_in, dp, dd, dw, p_std, d_std, w_std)
        has_ward = int(attr[4] is not None)
        comps = int(attr[2] is not None) + int(attr[3] is not None) + has_ward
        # District-less input ⇒ the 2-level (new-format) reading is the
        # structurally consistent one: without this, an order-reversed
        # "Tỉnh P, Phường W" ties its old-format twin on every score term
        # and the -node_id tiebreak silently picks old. 1.5 exactly offsets
        # the 3-comp twin's comps advantage (digit ward/district twins like
        # "1 1 ho chi minh" pass every containment check on a "Phường 1"
        # input); never outweighs a detected district's boost.
        terms = (boost, comps, has_ward, dice, bool(attr[1] and not dd))
        bounded.append((_final_score(100.0, *terms), nid, terms))
    bounded.sort(key=lambda b: -b[0])

    best = None
    best_key = None
    for ub, nid, terms in bounded:
        if best_key is not None and ub < best_key[0]:
            break
        (level, is_new, province, district, ward, p_code, d_code, w_code,
         _p, _d, _w, cand_std) = attrs[nid]
        combined = _combined_score(s, cand_std, partial_input)[3]
        final = _final_score(combined, *terms)
        _boost, comps, has_ward, dice, _new = terms
        key = (final, combined, comps, has_ward, len(cand_std), -nid)
        if best_key is None or key > best_key:
            best_key = key
            best = (nid, level, is_new, province, district, ward,
                    p_code, d_code, w_code, cand_std, final, combined, dice)
    return best


def resolve_one(st: dict, m, s, sb, dp, dd, dw) -> tuple | None:
    """The one definition of a resolved mention: (mention, std, std_basic,
    det_p, det_d, det_w) — ``mention_features``' row — through gram set →
    probe → cap → gate → prioritize → bounded score → argmax → repair → street →
    format tag and entity key. ``st`` is ``decode_resolver_state``'s view.
    The argmax equals scoring the whole slice; it scores only the
    candidates whose upper bound can still beat the best (``_best_candidate``).
    Pure function run by the Arrow kernel and by ``LocalParser``
    (plans.local_parser); returns the finished RESOLVE_SCHEMA tuple, or
    ``None`` for a mention that resolves to nothing. Mirrors the
    reference ``address_candidate_list`` (inexus_parser.py:2796-2941): duplicate-counting candidate ranking, early
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

    if not isinstance(s, str):
        return None
    # Candidate RANKING counts each DISTINCT input gram once (reference
    # ``ngram_address_piece_list`` iterates ``set(input_ngram_list)``,
    # :2674-2676), and the Dice intersection is over the same distinct set
    # (:2812-2824); the partial flag reads the within-input multiplicity.
    gset = char_ngram_set(s)
    if not gset:
        return None
    partial_input = partial_flag(s)
    idx_all, idx_primary, n_primary, inv = (
        st["idx_all"], st["idx_primary"], st["n_primary"], st["inv"])
    # detected values must exist as alias keys at their level (reference
    # _validate_detected_value, :1900-1905)
    dp = dp if dp and dp in inv["province"] else None
    dd = dd if dd and dd in inv["district"] else None
    dw = dw if dw and dw in inv["ward"] else None
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

    best = _best_candidate(st, s, sb, partial_input, dp, dd, dw, filtered[:SCORE_SLICE])
    nid, level, is_new, province, district, ward, p_code, d_code, w_code, \
        cand_std, final, combined, dice = best or (None,) * 13
    province, district, ward, p_code, d_code, w_code = repair_components(
        st, province or "", district or "", ward or "",
        dp, dd, dw, sb if isinstance(sb, str) else "",
        p_code, d_code, w_code, is_new=is_new,
    )
    province, district, ward = province or None, district or None, ward or None
    if nid is None and not (province or district or ward):
        return None
    if nid is None:
        is_new = _infer_format(st, district, w_code, p_code)
    street, entity_std = _street_and_entity(
        m if isinstance(m, str) else "", s, province, district, ward, is_new
    )
    fmt = {True: "new", False: "old"}.get(is_new, "unknown")
    # New-format entities have NO district level; the repair cascade still
    # infers one for display parity with the reference, but which
    # old-catalog twin it picks varies with the mention text — keying on it
    # would split the entity.
    entity_key = "|".join((
        p_code or "", "" if is_new is True else (d_code or ""), w_code or "",
        {True: "true", False: "false"}.get(is_new, "unknown"),
    ))
    return (nid, level, is_new, province, district, ward,
            p_code, d_code, w_code, cand_std, final, combined, dice,
            street, entity_std, fmt, entity_key)
