"""Pins for the fused resolve kernel (``functions.udfs``).

``resolve_one`` is the pure per-mention function both the Arrow kernel and
``LocalParser`` run: it takes ``mention_features``' row, derives the gram
set and partial flag itself, and returns the finished row or ``None``. The
state here goes through the kernel's own state functions
(``resolver_state`` over ``build_resolver_state`` + ``build_repair_state``)
and decoder (``decode_resolver_state``). The broadcast budget is checked on
the driver by ``broadcast_state`` before anything ships.
"""

import pytest

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
    udfs.make_resolve_udf(spark, state)  # the real state fits
    monkeypatch.setattr(udfs, "MAX_RESOLVER_STATE_BYTES", 1024)
    with pytest.raises(ValueError, match=r"for 6 gazetteer nodes pickles to [\d,]+ bytes"):
        udfs.make_resolve_udf(spark, state)
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
