"""Component-repair cascade — the reference's ``process()`` step 6.

After the argmax picks a winning candidate node, the reference repairs the
winner's (province, district, ward) against what was literally present or
detected in the input (fuzz/inexus_parser.py:186-403):

1. fill missing components from the validated detected aliases
   (``_resolve_detected_component``, :1907-2032);
2. digit ward/district override — a detected digit that contradicts the
   winner's digit wins (:211-247);
3. ward self-validation — an unresolvable ward is dropped (:249-261);
4. literal-containment validation with replacement search: a component whose
   basic-normalized form does not appear in the input is replaced by a
   contained alternative or cleared (:264-364);
5. re-fill from detected after clearing (:366-385);
6. district inference from (province, ward), including the hardcoded
   Thủ Đức/HCM rule (:2188-2249 via :388-395);
7. province inference by unique candidate-set intersection (:2134-2186 via
   :398-403);
8. code/ID re-attachment through the exact-tuple → unique-fallback lookup
   cascade (``_lookup_*_info``, :2034-2116 via :405-431);
9. final ward-presence check: a ward neither contained in the input nor
   detected is dropped (:433-437).

Everything operates on the resolve kernel's decoded state
(``functions.udfs.resolver_state``): the repair fields come from
``gazetteer.nodes.build_repair_state`` — the alias→node invert maps and the
code lookups — and per-node display names are read from the resolve index's
node attributes, so no structure is shipped twice. Set iteration orders from
the reference are made deterministic by sorting node indices (SURVEY §7
"non-deterministic dict-set iteration").
"""

from __future__ import annotations

from typing import Optional

from address_parser_spark.textops.normalize import normalize_basic

_P, _D, _W = 2, 3, 4  # (province, district, ward) slots of st["attrs"][node_id]


def _resolve_detected_component(
    st: dict,
    level: str,
    detected_value: Optional[str],
    expected_province: Optional[str] = None,
    expected_district: Optional[str] = None,
    source_string: str = "",
) -> Optional[str]:
    """Reference ``_resolve_detected_component`` (inexus_parser.py:1907-2032):
    candidates from the level's alias→nodes invert map, constrained to the
    expected parent components, relax-retried, longest-contained-in-input
    preferred, else first (deterministic: min node id)."""
    if not detected_value:
        return None
    indices = st["inv"][level].get(detected_value)
    if not indices:
        return None

    exp_p = normalize_basic(expected_province) if expected_province else None
    exp_d = normalize_basic(expected_district) if expected_district else None
    attrs = st["attrs"]
    slot = {"province": _P, "district": _D, "ward": _W}[level]

    fallback: Optional[str] = None

    def _collect(relax: bool) -> list[tuple[str, str]]:
        nonlocal fallback
        local: list[tuple[str, str]] = []
        local_fallback: Optional[str] = None
        for idx in indices:
            node = attrs[idx]
            name = node[slot]
            if not name:
                continue
            if level != "province" and not relax:
                if exp_p:
                    node_p = normalize_basic(node[_P]) if node[_P] else None
                    if not node_p or node_p != exp_p:
                        continue
                if level == "ward" and exp_d:
                    node_d = normalize_basic(node[_D]) if node[_D] else None
                    if not node_d or node_d != exp_d:
                        continue
            local.append((name, normalize_basic(name)))
            if local_fallback is None:
                local_fallback = name
        if fallback is None and local_fallback is not None:
            fallback = local_fallback
        return local

    candidates = _collect(relax=False)
    if not candidates and (exp_p or exp_d):
        candidates = _collect(relax=True)
    if not candidates:
        return fallback

    if source_string:
        best_name, best_len = None, -1
        for name, norm in candidates:
            if norm and norm in source_string and len(norm) > best_len:
                best_name, best_len = name, len(norm)
        if best_name:
            return best_name
    return fallback or candidates[0][0]


def _infer_district(st: dict, province: Optional[str], ward: Optional[str],
                    source_string: str = "") -> Optional[str]:
    """Reference ``_infer_district_from_components`` (:2188-2249) — candidates
    from the ward's invert entries filtered by province, the Thủ Đức/HCM
    special case, longest-contained preference, unique fallback."""
    ward_std = normalize_basic(ward) if ward else ""
    if not ward_std:
        return None
    province_std = normalize_basic(province) if province else None
    indices = st["inv"]["ward"].get(ward_std, ())
    if not indices:
        return None
    attrs = st["attrs"]

    entries: list[tuple[str, str, Optional[str]]] = []
    for idx in indices:
        node = attrs[idx]
        district_name = node[_D]
        if not district_name:
            continue
        node_p = normalize_basic(node[_P]) if node[_P] else None
        if province_std and node_p and node_p != province_std:
            continue
        entries.append((district_name, normalize_basic(district_name), node_p))
    if not entries:
        return None

    has_hcm = any(p == "ho chi minh" for _, _, p in entries) or province_std == "ho chi minh"
    if source_string and "thu duc" in source_string and has_hcm:
        for name, d_std, _ in entries:
            if d_std == "thu duc":
                return name
        return "Thủ Đức"

    if source_string:
        best_name, best_len = None, -1
        for name, d_std, _ in entries:
            if d_std and d_std in source_string and len(d_std) > best_len:
                best_name, best_len = name, len(d_std)
        if best_name:
            return best_name

    unique = {name for name, _, _ in entries if name}
    if len(unique) == 1:
        return next(iter(unique))
    return None


def _infer_province(st: dict, district: Optional[str], ward: Optional[str]) -> Optional[str]:
    """Reference ``_infer_province_from_components`` (:2134-2186): unique
    intersection of the ward-implied and district-implied province sets."""
    district_std = normalize_basic(district) if district else ""
    ward_std = normalize_basic(ward) if ward else ""
    attrs = st["attrs"]

    candidate_sets: list[set[str]] = []
    if ward_std:
        ward_cands: set[str] = set()
        for idx in st["inv"]["ward"].get(ward_std, ()):
            node = attrs[idx]
            if not node[_P]:
                continue
            if district_std:
                node_d = normalize_basic(node[_D]) if node[_D] else ""
                if not node_d or node_d != district_std:
                    continue
            ward_cands.add(node[_P])
        if ward_cands:
            candidate_sets.append(ward_cands)
    if district_std:
        district_cands: set[str] = set()
        for idx in st["inv"]["district"].get(district_std, ()):
            p = attrs[idx][_P]
            if p:
                district_cands.add(p)
        if district_cands:
            candidate_sets.append(district_cands)
    if not candidate_sets:
        return None

    intersection = set(candidate_sets[0])
    for s in candidate_sets[1:]:
        intersection &= s
    if len(intersection) == 1:
        return next(iter(intersection))
    if len(candidate_sets) == 1 and len(candidate_sets[0]) == 1:
        return next(iter(candidate_sets[0]))
    return None


def lookup_province_info(
    st: dict, province_name: Optional[str], prefer_new: Optional[bool] = None
) -> Optional[dict]:
    """Reference ``_lookup_province_info`` (:2034-2042), format-aware: when
    the caller knows the winner is new-format, the NEW catalog's code is
    returned for a name both catalogs share (old otherwise — the legacy
    default)."""
    if not province_name:
        return None
    key = normalize_basic(province_name)
    info = st["province_lookup"].get(key) if key else None
    if info is None:
        return None
    code = info.get("code")
    new_code = info.get("new_code")
    if (prefer_new and new_code is not None) or code is None:
        code = new_code
    return {"name": info["name"], "code": code}


def lookup_district_info(st: dict, district_name: Optional[str],
                         province_name: Optional[str] = None) -> Optional[dict]:
    """Reference ``_lookup_district_info`` (:2044-2066): exact
    (province, district) tuple, else by-name only if globally unique."""
    if not district_name:
        return None
    d_key = normalize_basic(district_name)
    if not d_key:
        return None
    p_key = normalize_basic(province_name) if province_name else None
    if p_key:
        info = st["district_lookup"].get((p_key, d_key))
        if info:
            return info
    candidates = st["district_by_name"].get(d_key, [])
    if len(candidates) == 1:
        return candidates[0]
    return None


def lookup_ward_info(st: dict, ward_name: Optional[str],
                     province_name: Optional[str] = None,
                     district_name: Optional[str] = None) -> Optional[dict]:
    """Reference ``_lookup_ward_info`` (:2068-2116): exact triple →
    province-level unique → district-level unique → global unique."""
    if not ward_name:
        return None
    w_key = normalize_basic(ward_name)
    if not w_key:
        return None
    p_key = normalize_basic(province_name) if province_name else None
    d_key = normalize_basic(district_name) if district_name else None

    if p_key and d_key:
        info = st["ward_lookup"].get((p_key, d_key, w_key))
        if info:
            return info
    if p_key:
        cands = st["ward_by_province"].get((p_key, w_key), [])
        if len(cands) == 1:
            return cands[0]
    if d_key:
        cands = [e for e in st["ward_by_district"].get(d_key, [])
                 if normalize_basic(e["name"]) == w_key]
        if len(cands) == 1:
            return cands[0]
    cands = st["ward_by_name"].get(w_key, [])
    if len(cands) == 1:
        return cands[0]
    return None


def repair_components(
    st: dict,
    province: str,
    district: str,
    ward: str,
    det_p: Optional[str],
    det_d: Optional[str],
    det_w: Optional[str],
    input_basic: str,
    province_code: Optional[str],
    district_code: Optional[str],
    ward_code: Optional[str],
    is_new: Optional[bool] = None,
) -> tuple[str, str, str, Optional[str], Optional[str], Optional[str]]:
    """Full cascade: (p, d, w, p_code, d_code, w_code) after repair.

    ``det_*`` must already be validated against the invert maps (reference
    ``_validate_detected_value``, :1900-1905; ``functions.udfs.resolve_one``
    does it before the cascade). Codes follow the reference's id semantics: kept
    while the component is untouched, re-derived through the lookup cascade
    (None when ambiguous) once the component is repaired, cleared with the
    component. New-format (2-level) phantom-district welding is prevented
    downstream at the entity_key/entity_std level, not here."""

    def appears(component: Optional[str]) -> bool:
        if not component:
            return False
        std = normalize_basic(component)
        return bool(std) and std in input_basic

    province = province or ""
    district = district or ""
    ward = ward or ""

    # 1. fill missing from detected
    if not province and det_p:
        resolved = _resolve_detected_component(st, "province", det_p, source_string=input_basic)
        if resolved:
            province, province_code = resolved, None
    if not district and det_d:
        resolved = _resolve_detected_component(
            st, "district", det_d, expected_province=province, source_string=input_basic)
        if resolved:
            district, district_code = resolved, None

    # 2. digit-district override
    if district and det_d and district != det_d:
        d_std = normalize_basic(district)
        if d_std and d_std.isdigit() and det_d.isdigit():
            resolved = _resolve_detected_component(
                st, "district", det_d, expected_province=province, source_string=input_basic)
            if resolved:
                district, district_code = resolved, None

    if not ward and det_w:
        resolved = _resolve_detected_component(
            st, "ward", det_w, expected_province=province,
            expected_district=district, source_string=input_basic)
        if resolved:
            ward, ward_code = resolved, None

    # digit-ward override
    if ward and det_w:
        w_std = normalize_basic(ward)
        if w_std and w_std.isdigit() and det_w.isdigit() and w_std != det_w:
            resolved = _resolve_detected_component(
                st, "ward", det_w, expected_province=province,
                expected_district=district, source_string=input_basic)
            ward, ward_code = resolved or "", None

    # 3. ward self-validation
    if ward:
        w_std = normalize_basic(ward)
        if w_std:
            validated = _resolve_detected_component(
                st, "ward", w_std, expected_province=province,
                expected_district=district, source_string=input_basic)
            if not validated:
                ward, ward_code = "", None

    # 4. literal-containment validation + replacement search
    if province and not appears(province):
        replacement = None
        if det_p:
            replacement = _resolve_detected_component(st, "province", det_p, source_string=input_basic)
            if replacement and not appears(replacement):
                replacement = None
        if not replacement:
            contained = sorted(p for p in st["inv"]["province"] if p in input_basic)
            for p_std in sorted(contained, key=len, reverse=True):
                resolved = _resolve_detected_component(st, "province", p_std, source_string=input_basic)
                if resolved:
                    replacement = resolved
                    break
        province, province_code = (replacement, None) if replacement else ("", None)

    if district and not appears(district):
        replacement = None
        if det_d:
            replacement = _resolve_detected_component(
                st, "district", det_d,
                expected_province=province if province else None, source_string=input_basic)
            if replacement and not appears(replacement):
                replacement = None
        if not replacement:
            p_std = normalize_basic(province) if province else None
            for d_std, entries in st["district_by_name"].items():
                if d_std not in input_basic:
                    continue
                for entry in entries:
                    if p_std and entry.get("province_key") != p_std:
                        continue
                    if entry.get("name"):
                        replacement = entry["name"]
                        break
                if replacement:
                    break
        district, district_code = (replacement, None) if replacement else ("", None)

    if ward and not appears(ward):
        replacement = None
        if det_w:
            replacement = _resolve_detected_component(
                st, "ward", det_w,
                expected_province=province if province else None,
                expected_district=district if district else None,
                source_string=input_basic)
            if replacement and not appears(replacement):
                replacement = None
        if not replacement:
            p_std = normalize_basic(province) if province else None
            d_std = normalize_basic(district) if district else None
            for w_std, entries in st["ward_by_name"].items():
                if w_std not in input_basic:
                    continue
                for entry in entries:
                    if p_std and entry.get("province_key") != p_std:
                        continue
                    if d_std and entry.get("district_key") != d_std:
                        continue
                    if entry.get("name"):
                        replacement = entry["name"]
                        break
                if replacement:
                    break
        ward, ward_code = (replacement, None) if replacement else ("", None)

    # 5. re-fill from detected after clearing
    if not district and det_d:
        resolved = _resolve_detected_component(
            st, "district", det_d, expected_province=province, source_string=input_basic)
        if resolved:
            district, district_code = resolved, None
    if not ward and det_w:
        resolved = _resolve_detected_component(
            st, "ward", det_w, expected_province=province,
            expected_district=district, source_string=input_basic)
        if resolved:
            ward, ward_code = resolved, None

    # 5.5 evidence-gated ward fill by literal containment — a DOCUMENTED
    # DEVIATION from the reference (its containment search only REPLACES a
    # wrong ward, :334-364): untyped street-heavy mentions ("345 Hoàng Văn
    # Thụ, Minh Vĩnh, Nhà Bè, Hồ Chí Minh") lose the ward to the bare
    # province node via the partial_ratio substring bias, and the cascade
    # then has nothing to repair FROM. Applies ONLY to bare-province/empty
    # resolutions (ward AND district both unresolved — when a district
    # resolved, an empty ward is usually genuinely absent and filling from
    # street text corrupts it; measured on golden-450). The fill demands
    # strong evidence: BOTH the ward name AND its parent (district for
    # old-format, province for new-format) present in the input at token
    # boundaries, and a unique surviving candidate — validated by golden-450
    # parity + the F1 gate.
    if not ward and not district:
        padded = f" {input_basic} "

        def tok_in(s: str) -> bool:
            return bool(s) and f" {s} " in padded

        p_std_fill = normalize_basic(province) if province else None
        best_name, best_len = None, -1
        for w_std, entries in st["ward_by_name"].items():
            # digit/short ward names ("3", "my") false-fill from street
            # numbers and name syllables — those wards are only ever written
            # with their type word, which prefix detection already handles
            if len(w_std) < 4 or w_std.isdigit():
                continue
            if len(w_std) <= best_len or not tok_in(w_std):
                continue
            names = set()
            first = None
            for e in entries:
                if p_std_fill and e.get("province_key") and e["province_key"] != p_std_fill:
                    continue
                parent = e.get("district_key") or e.get("province_key")
                if parent and tok_in(parent):
                    names.add(e["name"])
                    first = first or e["name"]
            if len(names) == 1:
                best_name, best_len = first, len(w_std)
        if best_name:
            ward, ward_code = best_name, None

    # 6. infer district from (province, ward)
    if not district and ward:
        inferred = _infer_district(st, province, ward, source_string=input_basic)
        if inferred:
            district, district_code = inferred, None

    # 7. infer province by unique intersection
    if not province:
        inferred = _infer_province(st, district, ward)
        if inferred:
            province, province_code = inferred, None

    # 8. code attachment via lookup cascade (province codes differ between
    # catalogs for the same name — attach the winner's-format code)
    p_info = lookup_province_info(st, province, prefer_new=is_new) if province else None
    if not province:
        province_code = None
    elif province_code is None and p_info and p_info.get("code") is not None:
        province_code = p_info["code"]

    d_info = lookup_district_info(st, district, province if province else None) if district else None
    if not district:
        district_code = None
    elif district_code is None and d_info and d_info.get("code") is not None:
        district_code = d_info["code"]

    w_info = lookup_ward_info(st, ward, province if province else None,
                              district if district else None) if ward else None
    if not ward:
        ward_code = None
    elif ward_code is None and w_info and w_info.get("code") is not None:
        ward_code = w_info["code"]

    # 9. final ward-presence check
    if ward and not appears(ward) and not det_w:
        ward, ward_code = "", None

    return province, district, ward, province_code, district_code, ward_code
