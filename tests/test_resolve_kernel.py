"""Pins for the fused resolve kernel (``functions.udfs``).

``resolve_one`` is the pure per-mention function both the Arrow kernel and
``LocalParser`` run: it takes ``mention_features``' row, derives the gram
set and partial flag itself, and returns the finished row or ``None``. The
state here goes through the kernel's own state functions
(``resolver_state`` over ``build_resolver_state`` + ``build_repair_state``)
and decoder (``decode_resolver_state``). The broadcast budget is checked on
the driver by ``broadcast_state`` before anything ships.
"""

import json
from pathlib import Path

import pytest
from hypothesis import given, settings
from hypothesis import strategies as hst

from address_parser_spark.functions import udfs
from address_parser_spark.functions.udfs import (
    RESOLVE_SCHEMA,
    broadcast_state,
    decode_registries,
    decode_resolver_state,
    mention_features,
    resolve_one,
    resolver_state,
)
from address_parser_spark.gazetteer.nodes import alias_registries, build_nodes, build_repair_state
from address_parser_spark.gazetteer.synth import Gazetteer
from address_parser_spark.textops.normalize import normalize_advanced, normalize_basic

MENTION = "Số 5 Láng Hạ, Đống Đa, Hà Nội"
UNRESOLVABLE = "zzqx wqkv"  # shares no gram with any synthetic gazetteer name


@pytest.fixture(scope="module")
def state():
    """One old-format province → district → ward chain. Registered aliases:
    province "ha noi", district "dong da", ward "van mieu"."""
    gaz = Gazetteer(
        old_provinces=[{"code": "01", "name": "Hà Nội"}],
        old_districts=[{"code": "006", "name": "Đống Đa", "province_code": "01"}],
        old_wards=[{"code": "00199", "name": "Văn Miếu", "district_code": "006",
                    "province_code": "01"}],
    )
    nodes = build_nodes(gaz)
    return resolver_state(nodes, build_repair_state(gaz, nodes))


def _resolve(state, det_p, det_d, det_w):
    return resolve_one(
        decode_resolver_state(state),
        MENTION, normalize_advanced(MENTION), normalize_basic(MENTION),
        det_p, det_d, det_w,
    )


@pytest.mark.parametrize(
    "detected, registered",
    [
        (("ha noi", "dong da", "lang ha"), ("ha noi", "dong da", None)),  # ward alias unregistered
        (("ha noi", "hoan kiem", None), ("ha noi", None, None)),          # district alias unregistered
        (("hue", None, None), (None, None, None)),                        # province alias unregistered
        ((None, None, None), (None, None, None)),                         # nothing detected
    ],
    ids=["ward", "district", "province", "none"],
)
def test_unregistered_detected_alias_resolves_as_undetected(state, detected, registered):
    """Reference ``_validate_detected_value`` (inexus_parser.py:1900-1905): a
    detected alias counts only when it is an invert-map key at its level, so
    an unregistered one must leave every score term — prioritization,
    component boosts, the unsupported penalty, the repair cascade — exactly
    as if detection had returned nothing for that level."""
    got = _resolve(state, *detected)
    assert got[0] is not None, "the mention must resolve to a catalog node"
    assert got == _resolve(state, *registered)


def test_oversized_resolver_state_fails_loudly(spark, state, monkeypatch):
    """A state over the broadcast budget raises instead of shipping, and the
    message names the pickled size and the node count."""
    get_regs = lambda: None  # never called: the budget is checked on the driver
    udfs.make_resolve_udf(spark, get_regs, state)  # the real state fits
    monkeypatch.setattr(udfs, "MAX_RESOLVER_STATE_BYTES", 1024)
    with pytest.raises(ValueError, match=r"for 6 gazetteer nodes pickles to [\d,]+ bytes"):
        udfs.make_resolve_udf(spark, get_regs, state)
    with pytest.raises(ValueError, match=r"^alias registries pickles to [\d,]+ bytes"):
        broadcast_state(spark, {"ward": ["x" * 2048]}, udfs.decode_registries,
                        "alias registries")


def test_resolved_row_is_finished(state):
    """The kernel row carries the format tag and entity key as its last two
    fields (an old-format 3-level key keeps its district code)."""
    got = dict(zip(RESOLVE_SCHEMA.names, _resolve(state, "ha noi", "dong da", None)))
    assert RESOLVE_SCHEMA.names[-2:] == ["format", "entity_key"]
    assert got["is_new"] is False and got["format"] == "old"
    assert got["entity_key"] == "|".join(
        (got["province_code"], got["district_code"] or "", got["ward_code"] or "", "false")
    )


def test_unresolvable_mention_is_no_row(gaz):
    """A mention matching nothing is ``None`` from the kernel; ``LocalParser``
    reports null components and format "unknown"."""
    from address_parser_spark.plans.local_parser import LocalParser

    nodes = build_nodes(gaz)
    st = decode_resolver_state(resolver_state(nodes, build_repair_state(gaz, nodes)))
    regs = decode_registries(alias_registries(gaz))
    assert resolve_one(st, *mention_features(UNRESOLVABLE, regs, {})) is None

    out = LocalParser(gaz).process(UNRESOLVABLE)
    assert out["format"] == "unknown"
    assert out["province"] is out["district"] is out["ward"] is out["node_id"] is None


def test_resolve_mentions_drops_unresolvable_mentions(spark, gaz):
    """A page whose only mention resolves to nothing yields no row."""
    from address_parser_spark.operators.parse import extract_normalize, resolve_mentions

    pages = spark.createDataFrame(
        [("https://ex.vn/z", f"Địa chỉ: {UNRESOLVABLE}", "vi")],
        "url string, text string, lang string",
    )
    registries = alias_registries(gaz)
    assert [r["mention"] for r in extract_normalize(pages, registries).collect()] == [UNRESOLVABLE]
    nodes = build_nodes(gaz)
    resolved = resolve_mentions(pages, nodes, registries, build_repair_state(gaz, nodes))
    assert resolved.count() == 0


def test_resolve_udf_resolves_a_repeated_mention_once(spark, gaz, monkeypatch):
    """The page UDF resolves each distinct mention once per Arrow batch and
    reuses its row: the same mention on a texted page and on an html-only
    page costs one ``resolve_one`` call, and both pages get its row; a page
    with neither text nor html, and a page whose only mention resolves to
    nothing, give no row."""
    import pandas as pd

    nodes = build_nodes(gaz)
    get_regs = broadcast_state(spark, alias_registries(gaz), decode_registries, "alias registries")
    state = resolver_state(nodes, build_repair_state(gaz, nodes))
    resolve = udfs.make_resolve_udf(spark, get_regs, state)
    calls = []
    real = udfs.resolve_one
    monkeypatch.setattr(udfs, "resolve_one", lambda st, *f: calls.append(f[0]) or real(st, *f))

    page = f"Địa chỉ: {MENTION}"
    html = f"<html><body><p>{page}</p></body></html>".encode()
    out = resolve.func(pd.Series([page, "", None]), pd.Series([None, html, None]))
    assert calls == [MENTION]
    assert [len(rows) for rows in out] == [1, 1, 0]
    assert out[0] == out[1] and out[0][0][0] == MENTION
    assert len(out[0][0]) == 2 + len(RESOLVE_SCHEMA.names)

    out = resolve.func(pd.Series([f"Địa chỉ: {UNRESOLVABLE}"]), pd.Series([None]))
    assert calls[-1] == UNRESOLVABLE and list(out) == [[]]


def _exhaustive_best(st, s, sb, partial_input, dp, dd, dw, candidates):
    """The argmax with no pruning, the oracle for ``udfs._best_candidate``:
    every candidate of the score slice is scored, in slice order."""
    best = best_key = None
    for nid, dice in candidates:
        (level, is_new, province, district, ward, p_code, d_code, w_code,
         p_std, d_std, w_std, cand_std) = st["attrs"][nid]
        combined = udfs._combined_score(s, cand_std, partial_input)[3]
        boost = (
            udfs._component_boost(w_std, dw, 18.0, 12.0, -12.0)
            + udfs._component_boost(d_std, dd, 14.0, 9.0, -10.0)
            + udfs._component_boost(p_std, dp, 6.0, 3.5, -4.0)
        )
        boost -= udfs._unsupported_penalty(
            sb if isinstance(sb, str) else s, dp, dd, dw, p_std, d_std, w_std
        )
        comps = int(province is not None) + int(district is not None) + int(ward is not None)
        has_ward = int(ward is not None)
        final = combined + boost + comps * 1.5 + has_ward * 1.0 + dice * 10.0
        if is_new and not dd:
            final += 1.5
        key = (final, combined, comps, has_ward, len(cand_std), -nid)
        if best_key is None or key > best_key:
            best_key = key
            best = (nid, level, is_new, province, district, ward,
                    p_code, d_code, w_code, cand_std, final, combined, dice)
    return best


def _distinct_mention_features(gaz) -> list[tuple]:
    """``mention_features`` rows of every distinct mention of four 400-page
    synthetic corpora, then of the golden-450 inputs."""
    from address_parser_spark.sources.pages import synth_pages_local
    from address_parser_spark.textops.extract import extract_mentions

    regs = decode_registries(alias_registries(gaz))
    texts = []
    for seed in (1001, 7, 42, 2001):
        pages, _ = synth_pages_local(gaz, 400, seed=seed)
        texts += [m for _u, _ts, _h, text, lang in pages if lang == "vi" and text
                  for m in extract_mentions(text)]
    golden = Path(__file__).parent / "fixtures" / "parse_golden.json"
    texts += [c["text"] for c in json.loads(golden.read_text(encoding="utf-8"))["cases"]]
    feats = (mention_features(t, regs, {}) for t in dict.fromkeys(texts))
    return [f for f in feats if len(f[1]) >= 2]


def test_pruned_argmax_equals_exhaustive_scan(gaz, monkeypatch):
    """The bound-ordered, early-stopping argmax returns the same finished
    row as scoring the whole slice, on every distinct mention of four
    synthetic corpora and the golden-450 inputs, while scoring a small
    fraction of the slice."""
    nodes = build_nodes(gaz)
    state = resolver_state(nodes, build_repair_state(gaz, nodes))
    feats = _distinct_mention_features(gaz)
    assert len(feats) > 2000

    scored = [0]
    combined_score = udfs._combined_score

    def counting(*args):
        scored[0] += 1
        return combined_score(*args)

    monkeypatch.setattr(udfs, "_combined_score", counting)
    st = decode_resolver_state(state)
    pruned = [resolve_one(st, *f) for f in feats]
    n_scored = scored[0]

    sliced = [0]

    def exhaustive(st, s, sb, partial_input, dp, dd, dw, candidates):
        sliced[0] += len(candidates)
        return _exhaustive_best(st, s, sb, partial_input, dp, dd, dw, candidates)

    monkeypatch.setattr(udfs, "_best_candidate", exhaustive)
    st = decode_resolver_state(state)
    for f, got in zip(feats, pruned):
        assert got == resolve_one(st, *f), f[0]
    assert sum(row is not None for row in pruned) > 1500
    assert n_scored < 0.15 * sliced[0], (n_scored, sliced[0])


_address_text = hst.text(alphabet="abhn tđàá01", max_size=40)


@settings(max_examples=400, deadline=None)
@given(_address_text, _address_text, hst.booleans())
def test_combined_score_is_at_most_100(a, b, flag):
    """The pruned argmax bounds ``final`` by taking ``combined`` = 100."""
    assert udfs._combined_score(a, b, flag)[3] <= 100.0
