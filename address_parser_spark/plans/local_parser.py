"""Single-string parser facade — the reference ``AddressParser.process``
API surface (fuzz/inexus_parser.py:133-466), backed by the exact same pure
functions and state decoders the distributed kernel runs:
``process`` is ``resolve_one(state, *mention_features(text, ...))`` over
``decode_resolver_state(resolver_state(...))`` — normalize → detect → gram
set → probe → cap → Dice gate → score → argmax → repair cascade → street
extraction → format tag. An unresolved mention (``resolve_one`` returns
``None``) comes back with null components and ``format == "unknown"``.

Useful for (a) the golden-450 parity tests against the reference's own test
set, (b) driver-side spot checks, (c) parity-by-construction between the
Spark pipeline and a per-string call — they share every line of logic.
"""

from __future__ import annotations

from typing import Optional

from address_parser_spark.functions.udfs import (
    RESOLVE_SCHEMA,
    decode_registries,
    decode_resolver_state,
    mention_features,
    resolve_one,
    resolver_state,
)
from address_parser_spark.gazetteer.nodes import (
    alias_registries,
    build_nodes,
    build_repair_state,
)
from address_parser_spark.gazetteer.synth import Gazetteer


class LocalParser:
    """process(text) → the reference's result dict shape (names + codes)."""

    def __init__(self, gaz: Gazetteer):
        nodes = build_nodes(gaz)
        self._st = decode_resolver_state(resolver_state(nodes, build_repair_state(gaz, nodes)))
        self._regs = decode_registries(alias_registries(gaz))

    def process(self, text: str) -> dict:
        row = resolve_one(self._st, *mention_features(text, self._regs, {}))
        (nid, _level, is_new, province, district, ward,
         p_code, d_code, w_code, _cand_std, _final, _combined, _dice,
         street, entity_std, fmt, _entity_key) = row or (None,) * len(RESOLVE_SCHEMA)

        def comp(name: Optional[str], code: Optional[str]) -> Optional[dict]:
            return {"name": name, "code": code} if name else None

        return {
            "province": comp(province, p_code),
            "district": comp(district, d_code),
            "ward": comp(ward, w_code),
            "street_address": street or "",
            "format": fmt or "unknown",
            "is_new": is_new,
            "node_id": nid,
            "entity_std": entity_std,
        }
