"""Deterministic synthetic Common-Crawl-style pages corpus.

Schema per ``BASELINE.json`` ``input_hint``:
``pages(url string, warc_ts timestamp, html binary, text string, lang string)``
plus ground-truth rows ``GOLD_SCHEMA(url, mention, province_code,
district_code, ward_code, is_new)`` from ``synth_pages_local`` — which
gazetteer entity each embedded mention denotes, enabling gold pair labels for
the F1 gate (FIXTURES.md §1/§6).

Rendering implements the reference's full variant-spec scheme
(``ner/build_standard_dataset.py``): the 34-spec table (:223-372), name-pool
collection over (name, full_name, code_name) with includes-type inference
(:558-576, :420-436), type-hint detection + abbreviation tables (:17-33,
:464-517), and the spec-driven component renderer (:785-806) — re-expressed
from the published spec semantics, not copied. Specs whose component order
cannot recover the gold entity (ward_only, province_only, …) are excluded
from the ER corpus (the F1 gate needs recoverable mentions) but remain in
the table, which the style-coverage test checks whole.

Generation is keyed purely on ``(seed, page_id)``, so the distributed
generator (``synth_pages_spark``: ``spark.range`` → ``mapInPandas``) produces
byte-identical rows under any partitioning or parallelism level — which is
what makes the two-parallelism scaling benchmark an apples-to-apples run.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import random
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from address_parser_spark.gazetteer.synth import Gazetteer
from address_parser_spark.textops.normalize import strip_accents

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
    ]
)

GOLD_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("mention", T.StringType(), False),
        T.StructField("province_code", T.StringType(), True),
        T.StructField("district_code", T.StringType(), True),
        T.StructField("ward_code", T.StringType(), True),
        T.StructField("is_new", T.BooleanType(), False),
    ]
)

_STREETS = [
    "Nguyễn Trãi", "Lê Lợi", "Trần Hưng Đạo", "Điện Biên Phủ", "Cách Mạng Tháng Tám",
    "Hai Bà Trưng", "Lý Thường Kiệt", "Võ Văn Tần", "Phan Đình Phùng", "Hoàng Văn Thụ",
]
_FILLER_VI = [
    "Công ty chuyên cung cấp dịch vụ vận chuyển hàng hóa toàn quốc.",
    "Khách hàng vui lòng đặt lịch trước khi đến làm việc.",
    "Sản phẩm được bảo hành chính hãng trong 12 tháng.",
    "Chúng tôi phục vụ từ 8 giờ sáng đến 9 giờ tối hàng ngày.",
    "Đội ngũ nhân viên giàu kinh nghiệm luôn sẵn sàng hỗ trợ.",
    "Giá cả cạnh tranh, chất lượng hàng đầu thị trường.",
]
_FILLER_EN = [
    "We ship internationally with tracked delivery.",
    "Contact our support team for wholesale pricing.",
    "All products come with a one-year warranty.",
]
_TRIGGERS = ["Địa chỉ: ", "Địa chỉ liên hệ: ", "Trụ sở tại: ", "Văn phòng: ", "Chi nhánh: ", "Liên hệ tại: "]

_EPOCH = dt.datetime(2024, 1, 1)


def _type_word(rec: dict) -> str:
    return rec["full_name"][: -len(rec["name"])].strip() if rec["full_name"].endswith(rec["name"]) else ""


# ---------------------------------------------------------------------------
# Variant-spec scheme (reference ner/build_standard_dataset.py:150-372).
# ---------------------------------------------------------------------------


@dataclasses.dataclass(frozen=True)
class RenderSpec:
    """One rendering style — same knob set as the reference's VariantSpec
    (ner/build_standard_dataset.py:208-221)."""

    name: str
    lowercase: bool = False
    strip_accents: bool = False
    use_commas: bool = True
    abbreviate_types: bool = False
    drop_type_tokens: bool = False
    prefer_full_name: bool = False
    prefer_short_name: bool = False
    include_street: bool = True
    connectors: tuple = ()  # ((prev_label|next_label key, token), ...)
    component_order: tuple = ("WARD", "DISTRICT", "PROVINCE")


# The 34 specs of the reference table (ner/build_standard_dataset.py:223-372),
# same names and knob settings — the spec semantics ARE the published
# contract; the renderer below re-derives the behavior.
RENDER_SPECS: tuple = (
    RenderSpec(name="standard"),
    RenderSpec(name="standard_no_commas", use_commas=False),
    RenderSpec(name="lowercase", lowercase=True),
    RenderSpec(name="lowercase_no_commas", lowercase=True, use_commas=False),
    RenderSpec(name="accentless", lowercase=True, strip_accents=True, use_commas=False),
    RenderSpec(name="accentless_commas", lowercase=True, strip_accents=True),
    RenderSpec(name="abbrev_commas", abbreviate_types=True),
    RenderSpec(name="abbrev_no_commas", abbreviate_types=True, use_commas=False),
    RenderSpec(name="compact_commas", abbreviate_types=True, drop_type_tokens=True),
    RenderSpec(name="compact_no_commas", use_commas=False, abbreviate_types=True,
               drop_type_tokens=True),
    RenderSpec(name="compact_short", lowercase=True, use_commas=False,
               abbreviate_types=True, drop_type_tokens=True, prefer_short_name=True),
    RenderSpec(name="compact_short_evil", lowercase=True, strip_accents=True,
               use_commas=False, abbreviate_types=True, drop_type_tokens=True,
               prefer_short_name=True),
    RenderSpec(name="meaningful_connectors", prefer_full_name=True,
               connectors=(("STREET|WARD", ","), ("WARD|DISTRICT", "thuộc"),
                           ("DISTRICT|PROVINCE", "thuộc"), ("WARD|PROVINCE", "thuộc"))),
    RenderSpec(name="no_street_compact", include_street=False, use_commas=False,
               abbreviate_types=True, lowercase=True),
    RenderSpec(name="ward_only", include_street=False, component_order=("WARD",)),
    RenderSpec(name="ward_only_abbrev", include_street=False,
               component_order=("WARD",), abbreviate_types=True),
    RenderSpec(name="district_only", include_street=False, component_order=("DISTRICT",)),
    RenderSpec(name="district_only_abbrev", include_street=False,
               component_order=("DISTRICT",), abbreviate_types=True),
    RenderSpec(name="province_only", include_street=False, component_order=("PROVINCE",)),
    RenderSpec(name="province_only_abbrev", include_street=False,
               component_order=("PROVINCE",), abbreviate_types=True),
    RenderSpec(name="ward_province", include_street=False,
               component_order=("WARD", "PROVINCE")),
    RenderSpec(name="ward_province_abbrev", include_street=False,
               component_order=("WARD", "PROVINCE"), abbreviate_types=True),
    RenderSpec(name="province_ward", include_street=False,
               component_order=("PROVINCE", "WARD")),
    RenderSpec(name="province_ward_abbrev", include_street=False,
               component_order=("PROVINCE", "WARD"), abbreviate_types=True),
    RenderSpec(name="district_province", include_street=False,
               component_order=("DISTRICT", "PROVINCE")),
    RenderSpec(name="district_province_abbrev", include_street=False,
               component_order=("DISTRICT", "PROVINCE"), abbreviate_types=True),
    RenderSpec(name="province_district", include_street=False,
               component_order=("PROVINCE", "DISTRICT")),
    RenderSpec(name="province_district_abbrev", include_street=False,
               component_order=("PROVINCE", "DISTRICT"), abbreviate_types=True),
    RenderSpec(name="ward_district", component_order=("WARD", "DISTRICT")),
    RenderSpec(name="ward_district_abbrev", component_order=("WARD", "DISTRICT"),
               abbreviate_types=True),
    RenderSpec(name="district_first", component_order=("DISTRICT", "WARD", "PROVINCE")),
    RenderSpec(name="district_first_abbrev",
               component_order=("DISTRICT", "WARD", "PROVINCE"), abbreviate_types=True),
    RenderSpec(name="province_first", component_order=("PROVINCE", "DISTRICT", "WARD")),
    RenderSpec(name="province_first_abbrev",
               component_order=("PROVINCE", "DISTRICT", "WARD"), abbreviate_types=True),
)

# Type-abbreviation pools keyed by detected type hint (reference :22-33).
_TYPE_ABBREV = {
    "province_city": ("TP.", "TP"),
    "province": ("Tỉnh",),
    "district_quan": ("Q.", "Q"),
    "district_huyen": ("H.", "H"),
    "district_thi_xa": ("TX.", "TX"),
    "district_city": ("TP.", "TP"),
    "ward_phuong": ("P.", "P"),
    "ward_xa": ("Xã", "X."),
    "ward_thi_tran": ("TT.", "TT"),
}

_TYPE_PREFIXES = (
    "thanh pho", "tinh", "quan", "huyen", "phuong", "xa", "thi xa", "thi tran",
    "city", "district", "ward", "province",
)


def _infer_includes_type(text: str) -> bool:
    """Reference ``infer_includes_type`` (:420-436): does the name already
    carry its administrative-type word?"""
    base = strip_accents(text).lower().strip()
    return any(base.startswith(p) for p in _TYPE_PREFIXES)


def _collect_variants(rec: dict) -> tuple:
    """Reference ``collect_variants`` (:558-576): name pool over (name,
    full_name, code_name) as (text, includes_type) pairs, deduped on the
    accentless lowercase key (:547-556)."""
    out, seen = [], set()
    for key, default_inc in (("name", False), ("full_name", True), ("code_name", False)):
        raw = rec.get(key)
        if not raw:
            continue
        text = " ".join(str(raw).replace("_", " ").split())
        if not text:
            continue
        k = strip_accents(text).lower()
        if k in seen:
            continue
        seen.add(k)
        out.append((text, default_inc or _infer_includes_type(text)))
    return tuple(out)


def _type_hint(rec: dict, level: str) -> str:
    """Reference ``detect_type_hint`` full-name fallback path (:489-517).

    NOTE the ``district_thi_tran`` hint is emitted but absent from the
    abbreviation table — faithfully matching the reference, whose
    ``TYPE_ABBREVIATIONS`` (:22-32) lacks that key too, so such records
    never abbreviate on either side."""
    base = strip_accents(rec.get("full_name") or "").lower()
    if level == "PROVINCE":
        return "province_city" if base.startswith("thanh pho") else "province"
    if level == "DISTRICT":
        for prefix, hint in (("quan", "district_quan"), ("thi xa", "district_thi_xa"),
                             ("thi tran", "district_thi_tran"), ("thanh pho", "district_city")):
            if base.startswith(prefix):
                return hint
        return "district_huyen"
    for prefix, hint in (("phuong", "ward_phuong"), ("xa", "ward_xa"),
                         ("thi tran", "ward_thi_tran")):
        if base.startswith(prefix):
            return hint
    return "ward_phuong"


def _component_text(rng: random.Random, rec: dict, level: str, spec: RenderSpec) -> str:
    """Reference ``render_component_tokens`` (:785-806): pick a name variant
    (full/short preference), prepend a (possibly abbreviated) type token when
    the variant doesn't already include one."""
    pool = _collect_variants(rec)
    if spec.prefer_full_name:
        full = [v for v in pool if v[1]]
        pool = tuple(full) or pool
    elif spec.prefer_short_name:
        short = [v for v in pool if not v[1]]
        pool = tuple(short) or pool
    text, includes_type = rng.choice(pool)
    if spec.drop_type_tokens or includes_type:
        return text
    token = _type_word(rec)
    if spec.abbreviate_types:
        candidates = _TYPE_ABBREV.get(_type_hint(rec, level))
        if candidates:
            token = rng.choice(candidates)
    return f"{token} {text}" if token else text


def _street_text(rng: random.Random) -> str:
    street = rng.choice(_STREETS)
    house = rng.randint(1, 450)
    alley = rng.randint(1, 99)
    forms = (
        f"Số {house} {street}",
        f"{house} {street}",
        f"{house}/{alley} {street}",
        f"số {house} đường {street}",
        f"khu phố {rng.randint(1, 9)}, {street}" if rng.random() < 0.5 else f"{street}",
    )
    return rng.choice(forms)


def _connector(spec: RenderSpec, prev: str, nxt: str) -> str:
    for key, token in spec.connectors:
        if key == f"{prev}|{nxt}":
            return token
    return "," if spec.use_commas else ""


def _render_with_spec(
    rng: random.Random, spec: RenderSpec, comps: dict
) -> str:
    """Reference ``render_data_sample`` assembly (:808-860): street, ordered
    components, connectors, then spec-level accent/case transforms."""
    segs = []
    if spec.include_street:
        segs.append(("STREET", _street_text(rng)))
    for label in spec.component_order:
        if label in comps:
            segs.append((label, _component_text(rng, comps[label], label, spec)))
    text = segs[0][1]
    for i in range(1, len(segs)):
        conn = _connector(spec, segs[i - 1][0], segs[i][0])
        if conn == ",":
            text = f"{text}, {segs[i][1]}"
        elif conn:
            text = f"{text} {conn} {segs[i][1]}"
        else:
            text = f"{text} {segs[i][1]}"
    if spec.strip_accents:
        text = strip_accents(text)
    if spec.lowercase:
        text = text.lower()
    return text


# Specs whose rendered mention still determines the gold entity: full
# 3-level orders for old-format records, ward+province orders for new-format.
# The *_only / district_province partial specs stay out of the ER corpus
# (their mentions are genuinely ambiguous) but stay in RENDER_SPECS, which
# the style-coverage test checks whole.
_OLD_FULL_SPECS = tuple(
    s for s in RENDER_SPECS if {"WARD", "DISTRICT", "PROVINCE"} <= set(s.component_order)
)
_OLD_PARTIAL_SPECS = tuple(
    s for s in RENDER_SPECS if set(s.component_order) == {"WARD", "DISTRICT"}
)
_NEW_SPECS = tuple(
    s for s in RENDER_SPECS if {"WARD", "PROVINCE"} <= set(s.component_order)
)


def _render_mention(
    rng: random.Random,
    ward: dict,
    district: dict | None,
    province: dict,
    unique_wd: frozenset | None = None,
    with_spec_name: bool = False,
):
    """One address mention in a random spec; returns the exact text embedded
    (optionally with the chosen spec name, for the style-coverage test)."""
    if district is not None:
        specs = _OLD_FULL_SPECS + _OLD_PARTIAL_SPECS
        spec = rng.choice(specs)
        w_name, d_name = ward["name"], district["name"]
        # The province-omitted ward_district specs mirror the reference's
        # partial orders; only rendered when the (ward, district) NAME PAIR
        # is globally unique in the old catalog (membership in ``unique_wd``)
        # and non-digit, so the gold entity stays recoverable and the F1 gate
        # is meaningful — the repair cascade must infer the province back
        # (reference process() step 6). (A no-district partial was tried and
        # removed: "Xã W, Tỉnh P" is string-identical to a new-format mention
        # of the post-merger twin ward.) Bare-name compact specs on numeric
        # ward/district names ("5", "12") are equally unrecoverable — both
        # cases fall back to the standard spec.
        if "PROVINCE" not in spec.component_order and (
            w_name.isdigit()
            or d_name.isdigit()
            or unique_wd is None
            or (w_name.lower(), d_name.lower()) not in unique_wd
        ):
            spec = RENDER_SPECS[0]
        if spec.drop_type_tokens and (w_name.isdigit() or d_name.isdigit()):
            spec = RENDER_SPECS[0]
        comps = {"WARD": ward, "DISTRICT": district, "PROVINCE": province}
    else:
        spec = rng.choice(_NEW_SPECS)
        if spec.drop_type_tokens and ward["name"].isdigit():
            spec = RENDER_SPECS[0]
        comps = {"WARD": ward, "PROVINCE": province}
    text = _render_with_spec(rng, spec, comps)
    return (spec.name, text) if with_spec_name else text


class _GazIndex:
    """Flat picklable view of the catalog for executor-side rendering."""

    def __init__(self, gaz: Gazetteer):
        self.old_wards = gaz.old_wards
        self.old_districts = {d["code"]: d for d in gaz.old_districts}
        self.old_provinces = {p["code"]: p for p in gaz.old_provinces}
        self.new_wards = gaz.new_wards
        self.new_provinces = {p["code"]: p for p in gaz.new_provinces}
        # (ward name, district name) pairs occurring exactly once across the
        # old catalog — the only pairs from which a province-omitted mention
        # (style 10) is unambiguously recoverable.
        from collections import Counter

        wd = Counter(
            (w["name"].lower(), self.old_districts[w["district_code"]]["name"].lower())
            for w in gaz.old_wards
        )
        self.unique_wd = frozenset(k for k, n in wd.items() if n == 1)


def render_page(page_id: int, gidx: _GazIndex, seed: int = 42) -> tuple[tuple, list[tuple]]:
    """Deterministic page from (seed, page_id): (pages_row, gold_rows)."""
    rng = random.Random((seed << 32) ^ page_id)
    url = f"https://ex{page_id % 997}.vn/p{page_id}"
    ts = _EPOCH + dt.timedelta(seconds=page_id * 137 % 31_536_000)
    lang = "en" if rng.random() < 0.06 else "vi"
    filler = _FILLER_EN if lang == "en" else _FILLER_VI
    lines = [rng.choice(filler) for _ in range(rng.randint(2, 5))]

    golds: list[tuple] = []
    if lang == "vi":
        n_mentions = rng.choices([0, 1, 2, 3], weights=[15, 55, 22, 8])[0]
        for _ in range(n_mentions):
            use_new = rng.random() < 0.25 and gidx.new_wards
            if use_new:
                ward = rng.choice(gidx.new_wards)
                province = gidx.new_provinces[ward["province_code"]]
                district = None
                codes = (province["code"], None, ward["code"], True)
            else:
                ward = rng.choice(gidx.old_wards)
                district = gidx.old_districts[ward["district_code"]]
                province = gidx.old_provinces[district["province_code"]]
                codes = (province["code"], district["code"], ward["code"], False)
            mention = _render_mention(rng, ward, district, province, gidx.unique_wd)
            lines.insert(rng.randrange(len(lines) + 1), f"{rng.choice(_TRIGGERS)}{mention}.")
            golds.append((url, mention) + codes)

    text = "\n".join(lines)
    page = (url, ts, _render_html(rng, lines, lang, url), text, lang)
    return page, golds


def _render_html(rng: random.Random, lines: list[str], lang: str, url: str) -> bytes:
    """Realistic markup for the page, with the html→text invariant pinned:
    ``textops.html.html_to_text(html) == text`` byte-for-byte for every page
    (tests/test_textops_golden.py). Chrome (head/script/style/comments),
    block wrappers, inline tags, and entity references are all drawn AFTER
    the content/gold draws, so gold mentions are unchanged vs prior rounds.
    """
    import html as _htmlmod

    parts = [
        f'<!DOCTYPE html><html lang="{lang}"><head><title>{url}</title>',
        '<meta charset="utf-8"><style>body { font: 14px sans-serif; }</style></head><body>',
    ]
    if rng.random() < 0.4:
        parts.append("<script>var n = 1 < 2 && true; track('%s');</script>" % url)
    for line in lines:
        esc = _htmlmod.escape(line)
        # entity-encode one accented char as a numeric reference sometimes —
        # exercises full entity decode, unescape() restores the exact char
        non_ascii = [c for c in esc if ord(c) > 127]
        if non_ascii and rng.random() < 0.5:
            c = rng.choice(non_ascii)
            esc = esc.replace(c, f"&#{ord(c)};", 1)
        words = esc.split(" ")
        if len(words) > 2 and rng.random() < 0.3:
            i = rng.randrange(len(words))
            tag = rng.choice(("b", "em", "span"))
            words[i] = f"<{tag}>{words[i]}</{tag}>"
            esc = " ".join(words)
        wrapper = rng.choice(("p", "p", "div", "li"))
        parts.append(f"<{wrapper}>{esc}</{wrapper}>")
        if rng.random() < 0.2:
            parts.append("<!-- boundary -->")
    parts.append("</body></html>")
    return "".join(parts).encode("utf-8")


def synth_pages_local(gaz: Gazetteer, n_pages: int, seed: int = 42) -> tuple[list[tuple], list[tuple]]:
    """Driver-side generation for small test corpora."""
    gidx = _GazIndex(gaz)
    pages, golds = [], []
    for pid in range(n_pages):
        page, g = render_page(pid, gidx, seed)
        pages.append(page)
        golds.extend(g)
    return pages, golds


def synth_pages_spark(
    spark: SparkSession,
    gaz: Gazetteer,
    n_pages: int,
    seed: int = 42,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed generation: ``spark.range(n)`` → ``mapInPandas`` rendering.

    Scales linearly with executors (no driver materialization, no shuffle);
    per-row determinism keyed on (seed, page_id) makes output invariant to the
    partition layout.
    """
    import pandas as pd

    gidx = _GazIndex(gaz)
    sc = spark.sparkContext
    bc = sc.broadcast(gidx)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        g = bc.value
        for batch in batches:
            rows = [render_page(int(pid), g, seed)[0] for pid in batch["id"]]
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

    rng_df = spark.range(n_pages, numPartitions=partitions)
    return rng_df.mapInPandas(gen, schema=PAGES_SCHEMA)
