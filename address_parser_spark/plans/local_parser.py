"""Single-string parser facade — the reference ``AddressParser.process``
API surface (fuzz/inexus_parser.py:133-466), backed by the exact same pure
functions and state decoders the distributed kernel runs
(``functions.udfs.mention_features`` → ``resolve_one`` over
``decode_resolver_state(resolver_state(...))``): normalize → detect → probe →
cap → Dice gate → score → argmax → repair cascade → street extraction.

Useful for (a) the golden-450 parity tests against the reference's own test
set, (b) driver-side spot checks, (c) parity-by-construction between the
Spark pipeline and a per-string call — they share every line of logic.
"""

from __future__ import annotations

from typing import Optional

from address_parser_spark.functions.udfs import (
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
from address_parser_spark.textops.ngrams import char_ngrams


class LocalParser:
    """process(text) → the reference's result dict shape (names + codes)."""

    def __init__(self, gaz: Gazetteer):
        nodes = build_nodes(gaz)
        self._st = decode_resolver_state(resolver_state(nodes, build_repair_state(gaz, nodes)))
        self._regs = decode_registries(alias_registries(gaz))

    def process(self, text: str) -> dict:
        mention, std, basic, det_p, det_d, det_w, partial = mention_features(text, self._regs, {})
        # resolve_one dedups; ranking counts distinct grams
        row = resolve_one(self._st, mention, std, basic, char_ngrams(std),
                          det_p, det_d, det_w, partial)
        (nid, level, is_new, province, district, ward,
         p_code, d_code, w_code, cand_std, final, combined, dice,
         street, entity_std) = row

        def comp(name: Optional[str], code: Optional[str]) -> Optional[dict]:
            return {"name": name, "code": code} if name else None

        fmt = "new" if is_new is True else ("old" if is_new is False else "unknown")
        return {
            "province": comp(province, p_code),
            "district": comp(district, d_code),
            "ward": comp(ward, w_code),
            "street_address": street or "",
            "format": fmt,
            "is_new": is_new,
            "node_id": nid,
            "entity_std": entity_std,
        }
