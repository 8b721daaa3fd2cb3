"""Driver-side pins for the fused resolve kernel (``functions.udfs``).

No Spark session: ``resolve_one`` is the pure per-mention function both the
Arrow kernel and ``LocalParser`` run, and the broadcast budget is checked on
the driver before anything ships.
"""

import pytest

from address_parser_spark.functions import udfs
from address_parser_spark.functions.udfs import build_resolver_state, make_resolve_udf, resolve_one
from address_parser_spark.gazetteer.nodes import build_nodes
from address_parser_spark.gazetteer.synth import Gazetteer
from address_parser_spark.textops.ngrams import char_ngrams
from address_parser_spark.textops.normalize import normalize_advanced, normalize_basic

MENTION = "Số 5 Láng Hạ, Đống Đa, Hà Nội"


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
    return build_resolver_state(build_nodes(gaz))


def _resolve(state, det_p, det_d, det_w):
    std = normalize_advanced(MENTION)
    return resolve_one(
        state["idx_all"], state["idx_primary"], state["n_primary"], state["attrs"],
        state["inv"], None, {}, {},
        MENTION, std, normalize_basic(MENTION), char_ngrams(std),
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
    component boosts, the unsupported penalty — exactly as if detection had
    returned nothing for that level."""
    got = _resolve(state, *detected)
    assert got[0] is not None, "the mention must resolve to a catalog node"
    assert got == _resolve(state, *registered)


def test_oversized_resolver_state_fails_loudly(state, monkeypatch):
    """A state over the broadcast budget raises instead of shipping, and the
    message names the pickled size and the node count."""
    make_resolve_udf(state)  # the real state fits
    monkeypatch.setattr(udfs, "MAX_RESOLVER_STATE_BYTES", 1024)
    with pytest.raises(ValueError, match=r"for 6 gazetteer nodes pickles to [\d,]+ bytes"):
        make_resolve_udf(state)
