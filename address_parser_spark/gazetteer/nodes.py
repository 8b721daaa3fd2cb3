"""Gazetteer explosion into match-candidate nodes (the engine's "dimension").

Re-creates the *semantics* of the reference's AddressNode explosion
(``fuzz/inexus_parser.py:13-36, 519-889``): every non-empty combination of
(province, district, ward) becomes one candidate node — P, D, PD, W, DW, PDW
for the 3-level old format and P, W, PW for the 2-level new format. Each node
carries

- ``std_name``: the blocking/scoring string = ``standardize_name`` of the
  primary aliases joined in **ward district province** order
  (reference ``_build_node_search_profile``),
- ``ngrams``: the union of padded char-4-gram shingles over the alias
  cross-product (the inverted-index postings),
- alias lists per level, with digit names augmented to typed spoken forms
  (``"1"`` → ``phuong 1 / p 1 / ward 1 / w 1``; reference ``_augment_aliases``
  ``:1855-1898``).

The build is driver-side pure Python: the catalog is a broadcast-sized
dimension (≈38.7k nodes for the full national data), so distributing its
construction would only add a shuffle for nothing. At web scale the OUTPUT is
what matters, and it ships to executors as the resolve kernel's broadcast
state (``functions.udfs.build_resolver_state``).
"""

from __future__ import annotations

from typing import Iterable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from address_parser_spark.gazetteer.synth import Gazetteer
from address_parser_spark.textops.ngrams import char_ngrams
from address_parser_spark.textops.normalize import normalize_basic

NODE_SCHEMA = T.StructType(
    [
        T.StructField("node_id", T.LongType(), False),
        T.StructField("level", T.StringType(), False),
        T.StructField("is_new", T.BooleanType(), False),
        T.StructField("province", T.StringType(), True),
        T.StructField("district", T.StringType(), True),
        T.StructField("ward", T.StringType(), True),
        T.StructField("province_code", T.StringType(), True),
        T.StructField("district_code", T.StringType(), True),
        T.StructField("ward_code", T.StringType(), True),
        T.StructField("p_std", T.StringType(), True),
        T.StructField("d_std", T.StringType(), True),
        T.StructField("w_std", T.StringType(), True),
        T.StructField("std_name", T.StringType(), False),
        T.StructField("ngrams", T.ArrayType(T.StringType(), False), False),
    ]
)


def _augment_aliases(name: str, level: str) -> list[str]:
    """Primary alias plus typed spoken forms for bare-digit names."""
    aliases = [name]
    std = normalize_basic(name)
    if std.isdigit():
        if level == "ward":
            aliases += [f"phuong {std}", f"p {std}", f"ward {std}", f"w {std}"]
        elif level == "district":
            aliases += [f"quan {std}", f"q {std}", f"district {std}", f"d {std}"]
    return aliases


def _profile(
    province_aliases: list[str],
    district_aliases: list[str],
    ward_aliases: list[str],
) -> tuple[str, list[str]]:
    """(std_name, sorted distinct ngrams) for one node; empty alias list means
    the level is excluded. Mirrors ``_build_node_search_profile`` ordering:
    ward, district, province."""
    primary = " ".join(
        part[0] for part in (ward_aliases, district_aliases, province_aliases) if part
    )
    std_name = normalize_basic(primary)
    grams: set[str] = set()
    for w in ward_aliases or [""]:
        for d in district_aliases or [""]:
            for p in province_aliases or [""]:
                combined = " ".join(x for x in (w, d, p) if x)
                if not combined:
                    continue
                std = normalize_basic(combined)
                if std:
                    grams.update(char_ngrams(std))
    if not grams and std_name:
        grams.update(char_ngrams(std_name))
    return std_name, sorted(grams)


def build_nodes(gaz: Gazetteer) -> list[dict]:
    """Explode the catalog into match nodes (list of NODE_SCHEMA-shaped dicts).

    Province and ward alias lists are enriched with the NEW-format catalog's
    ``name_en``/``full_name`` for the same code (the reference's
    ``_reference_aliases_for_level``, inexus_parser.py:1790-1820 — looked up
    by code string, collisions and all): the typed full names widen those
    nodes' gram sets, which lowers their Dice and is part of the reference's
    old-vs-new candidate balance."""
    nodes: list[dict] = []

    new_p_by_code = {str(p.get("code")): p for p in gaz.new_provinces}
    new_w_by_code = {str(w.get("code")): w for w in gaz.new_wards}

    def _extras(level: str, code) -> list[str]:
        if code is None:
            return []
        rec = (new_p_by_code if level == "province" else new_w_by_code).get(str(code))
        if not rec:
            return []
        out: list[str] = []
        for key in ("name_en", "full_name"):
            value = rec.get(key)
            if isinstance(value, str) and value and value not in out:
                out.append(value)
        return out

    def _aliases(name: str, level: str, code) -> list[str]:
        base = [name] + [x for x in _extras(level, code) if x != name]
        seen: set[str] = set()
        merged: list[str] = []
        for alias in base:
            for a in _augment_aliases(alias, level):
                if a not in seen:
                    merged.append(a)
                    seen.add(a)
        return merged

    def add(level, is_new, province, district, ward, p_code, d_code, w_code,
            p_aliases, d_aliases, w_aliases):
        std_name, grams = _profile(p_aliases, d_aliases, w_aliases)
        if not std_name:
            return
        nodes.append(
            {
                "node_id": len(nodes),
                "level": level,
                "is_new": is_new,
                "province": province or None,
                "district": district or None,
                "ward": ward or None,
                "province_code": p_code,
                "district_code": d_code,
                "ward_code": w_code,
                "p_std": normalize_basic(province) if province else None,
                "d_std": normalize_basic(district) if district else None,
                "w_std": normalize_basic(ward) if ward else None,
                "std_name": std_name,
                "ngrams": grams,
                # full alias lists per level — the invert maps register ALL of
                # them (reference _register_node_aliases), incl. the
                # new-format code-collision extras
                "p_aliases": p_aliases,
                "d_aliases": d_aliases,
                "w_aliases": w_aliases,
            }
        )

    # ---- old format: 3 levels → P, D, PD, W, DW, PDW ----
    districts_by_province: dict[str, list[dict]] = {}
    for d in gaz.old_districts:
        districts_by_province.setdefault(d["province_code"], []).append(d)
    wards_by_district: dict[str, list[dict]] = {}
    for w in gaz.old_wards:
        wards_by_district.setdefault(w["district_code"], []).append(w)

    for p in gaz.old_provinces:
        p_al = _aliases(p["name"], "province", p.get("code"))
        add("P", False, p["name"], "", "", p["code"], None, None, p_al, [], [])
        for d in districts_by_province.get(p["code"], []):
            d_al = _aliases(d["name"], "district", None)
            add("D", False, "", d["name"], "", p["code"], d["code"], None, [], d_al, [])
            add("PD", False, p["name"], d["name"], "", p["code"], d["code"], None, p_al, d_al, [])
            for w in wards_by_district.get(d["code"], []):
                w_al = _aliases(w["name"], "ward", w.get("code"))
                add("W", False, "", "", w["name"], p["code"], d["code"], w["code"], [], [], w_al)
                add("DW", False, "", d["name"], w["name"], p["code"], d["code"], w["code"], [], d_al, w_al)
                add("PDW", False, p["name"], d["name"], w["name"], p["code"], d["code"], w["code"], p_al, d_al, w_al)

    # ---- new format: 2 levels → P, W, PW ----
    new_wards_by_province: dict[str, list[dict]] = {}
    for w in gaz.new_wards:
        new_wards_by_province.setdefault(w["province_code"], []).append(w)

    for p in gaz.new_provinces:
        p_al = _aliases(p["name"], "province", p.get("code"))
        add("NP", True, p["name"], "", "", p["code"], None, None, p_al, [], [])
        for w in new_wards_by_province.get(p["code"], []):
            w_al = _aliases(w["name"], "ward", w.get("code"))
            add("NW", True, "", "", w["name"], p["code"], None, w["code"], [], [], w_al)
            add("NPW", True, p["name"], "", w["name"], p["code"], None, w["code"], p_al, [], w_al)

    return nodes


def nodes_to_spark(spark: SparkSession, nodes: Iterable[dict]) -> DataFrame:
    """Materialize nodes as a DataFrame with the explicit NODE_SCHEMA."""
    rows = [
        (
            n["node_id"], n["level"], n["is_new"], n["province"], n["district"],
            n["ward"], n["province_code"], n["district_code"], n["ward_code"],
            n["p_std"], n["d_std"], n["w_std"], n["std_name"], n["ngrams"],
        )
        for n in nodes
    ]
    return spark.createDataFrame(rows, NODE_SCHEMA)


def alias_registries(gaz: Gazetteer) -> dict[str, list[str]]:
    """Standardized alias registries per level for prefix detection
    (reference ``province_names_std`` / ``district_names_std`` /
    ``ward_names_std``, inexus_parser.py:99-102). Sorted for determinism."""
    provinces: set[str] = set()
    districts: set[str] = set()
    wards: set[str] = set()
    for rec in list(gaz.old_provinces) + list(gaz.new_provinces):
        for alias in _augment_aliases(rec["name"], "province"):
            std = normalize_basic(alias)
            if std:
                provinces.add(std)
    for rec in gaz.old_districts:
        for alias in _augment_aliases(rec["name"], "district"):
            std = normalize_basic(alias)
            if std:
                districts.add(std)
    for rec in list(gaz.old_wards) + list(gaz.new_wards):
        for alias in _augment_aliases(rec["name"], "ward"):
            std = normalize_basic(alias)
            if std:
                wards.add(std)
    return {
        "province": sorted(provinces),
        "district": sorted(districts),
        "ward": sorted(wards),
    }


def build_repair_state(gaz: Gazetteer, nodes: list[dict]) -> dict:
    """Picklable state for the component-repair cascade (textops.repair):

    - per-level alias→node-id invert maps over the AUGMENTED alias sets
      (reference ``_register_node_aliases`` + ``_augment_aliases``,
      inexus_parser.py:1834-1898) with deterministic (sorted) posting order;
    - per-node (province, district, ward) display names;
    - the lookup dicts behind ``_lookup_*_info`` (:2034-2116), built from the
      catalog records in list order (old format first, new-format wards under
      the empty-district sentinel, mirroring ``_normalize_address_dataset``'s
      "" bucket, :1291-1303).
    """
    from address_parser_spark.textops.normalize import normalize_basic

    inv: dict[str, dict[str, list[int]]] = {"province": {}, "district": {}, "ward": {}}
    node_names: list[tuple] = []

    def register(level: str, aliases: list[str], node_id: int) -> None:
        for alias in aliases:
            std = normalize_basic(alias)
            if std:
                postings = inv[level].setdefault(std, [])
                if not postings or postings[-1] != node_id:
                    postings.append(node_id)

    for n in nodes:
        assert n["node_id"] == len(node_names)
        node_names.append((n["province"], n["district"], n["ward"]))
        if n["province"]:
            register("province",
                     n.get("p_aliases") or _augment_aliases(n["province"], "province"),
                     n["node_id"])
        if n["district"]:
            register("district",
                     n.get("d_aliases") or _augment_aliases(n["district"], "district"),
                     n["node_id"])
        if n["ward"]:
            register("ward",
                     n.get("w_aliases") or _augment_aliases(n["ward"], "ward"),
                     n["node_id"])
    for level in inv:
        for postings in inv[level].values():
            postings.sort()

    province_lookup: dict[str, dict] = {}
    district_lookup: dict[tuple, dict] = {}
    district_by_name: dict[str, list[dict]] = {}
    ward_lookup: dict[tuple, dict] = {}
    ward_by_province: dict[tuple, list[dict]] = {}
    ward_by_district: dict[str, list[dict]] = {}
    ward_by_name: dict[str, list[dict]] = {}

    old_p_by_code = {p["code"]: p for p in gaz.old_provinces}
    old_d_by_code = {d["code"]: d for d in gaz.old_districts}

    # Old and new catalogs share province NAMES but not codes — the entry
    # keeps both so the repair cascade can attach the code matching the
    # winner's format (a new-format resolution must not inherit the old
    # province code: entity keys encode codes).
    for p in gaz.old_provinces:
        key = normalize_basic(p["name"])
        if key:
            e = province_lookup.setdefault(key, {"name": p["name"], "code": None, "new_code": None})
            if e["code"] is None:
                e["code"] = p["code"]
    for p in gaz.new_provinces:
        key = normalize_basic(p["name"])
        if key:
            e = province_lookup.setdefault(key, {"name": p["name"], "code": None, "new_code": None})
            if e["new_code"] is None:
                e["new_code"] = p["code"]

    for d in gaz.old_districts:
        d_key = normalize_basic(d["name"])
        if not d_key:
            continue
        parent = old_p_by_code.get(d["province_code"])
        p_key = normalize_basic(parent["name"]) if parent else ""
        entry = {"name": d["name"], "code": d["code"], "province_key": p_key}
        district_lookup.setdefault((p_key, d_key), entry)
        district_by_name.setdefault(d_key, []).append(entry)

    def add_ward(name: str, code: str, p_key: str, d_key: str) -> None:
        w_key = normalize_basic(name)
        if not w_key:
            return
        entry = {"name": name, "code": code, "province_key": p_key, "district_key": d_key}
        ward_lookup.setdefault((p_key, d_key, w_key), entry)
        ward_by_province.setdefault((p_key, w_key), []).append(entry)
        ward_by_district.setdefault(d_key, []).append(entry)
        ward_by_name.setdefault(w_key, []).append(entry)

    new_p_by_code = {p["code"]: p for p in gaz.new_provinces}
    for w in gaz.old_wards:
        parent_d = old_d_by_code.get(w["district_code"])
        parent_p = old_p_by_code.get(parent_d["province_code"]) if parent_d else None
        add_ward(
            w["name"], w["code"],
            normalize_basic(parent_p["name"]) if parent_p else "",
            normalize_basic(parent_d["name"]) if parent_d else "",
        )
    for w in gaz.new_wards:
        parent_p = new_p_by_code.get(w["province_code"])
        add_ward(w["name"], w["code"],
                 normalize_basic(parent_p["name"]) if parent_p else "", "")

    return {
        "inv": inv,
        "node_names": node_names,
        "province_names_std": sorted(inv["province"].keys()),
        "province_lookup": province_lookup,
        "district_lookup": district_lookup,
        "district_by_name": district_by_name,
        "ward_lookup": ward_lookup,
        "ward_by_province": ward_by_province,
        "ward_by_district": ward_by_district,
        "ward_by_name": ward_by_name,
        # code-system membership — lets a repair-only resolution (no winner
        # node) derive its format tag from the attached codes, so its
        # entity_key matches sibling mentions that resolved a node
        "new_ward_codes": frozenset(w["code"] for w in gaz.new_wards),
        "new_province_codes": frozenset(p["code"] for p in gaz.new_provinces),
    }
