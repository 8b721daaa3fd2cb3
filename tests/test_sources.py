"""Generator determinism + schema contracts."""

from pyspark.sql import functions as F

from address_parser_spark.gazetteer import build_nodes, synth_gazetteer
from address_parser_spark.sources.pages import (
    PAGES_SCHEMA,
    synth_pages_local,
    synth_pages_spark,
)


def test_gazetteer_deterministic_and_fk_closed():
    g1, g2 = synth_gazetteer(), synth_gazetteer()
    assert g1.counts() == g2.counts()
    assert g1.old_wards == g2.old_wards
    p_codes = {p["code"] for p in g1.old_provinces}
    d_codes = {d["code"] for d in g1.old_districts}
    assert all(d["province_code"] in p_codes for d in g1.old_districts)
    assert all(w["district_code"] in d_codes for w in g1.old_wards)
    np_codes = {p["code"] for p in g1.new_provinces}
    assert all(w["province_code"] in np_codes for w in g1.new_wards)
    # mapping closure
    nw_codes = {w["code"] for w in g1.new_wards}
    ow_codes = {w["code"] for w in g1.old_wards}
    assert all(m["old_ward_code"] in ow_codes and m["new_ward_code"] in nw_codes for m in g1.ward_mappings)
    # new-ward names unique within a province (gold-label identifiability)
    seen = set()
    for w in g1.new_wards:
        key = (w["province_code"], w["name"])
        assert key not in seen
        seen.add(key)


def test_nodes_have_unique_ids_and_nonempty_profiles(gaz):
    nodes = build_nodes(gaz)
    assert len({n["node_id"] for n in nodes}) == len(nodes)
    assert all(n["std_name"] for n in nodes)
    assert all(n["ngrams"] for n in nodes)
    levels = {n["level"] for n in nodes}
    assert levels == {"P", "D", "PD", "W", "DW", "PDW", "NP", "NW", "NPW"}


def test_spark_generator_matches_local(spark, gaz):
    """Distributed generation is partition-invariant and equals driver-side."""
    local_pages, _ = synth_pages_local(gaz, 60)
    df4 = synth_pages_spark(spark, gaz, 60, partitions=4).orderBy("url").collect()
    df1 = synth_pages_spark(spark, gaz, 60, partitions=1).orderBy("url").collect()
    assert [tuple(r) for r in df4] == [tuple(r) for r in df1]
    local_sorted = sorted(local_pages)
    spark_sorted = sorted(tuple(r) for r in df4)
    assert [p[0] for p in local_sorted] == [p[0] for p in spark_sorted]
    assert [p[3] for p in local_sorted] == [p[3] for p in spark_sorted]  # text byte-equal


def test_schemas(spark, gaz):
    pages = synth_pages_spark(spark, gaz, 5)
    assert pages.schema == PAGES_SCHEMA
    row = pages.filter(F.col("lang") == "vi").first()
    assert row["html"].startswith(b"<!DOCTYPE html>")
    # html→text invariant holds on the distributed generator too
    from address_parser_spark.textops.html import html_to_text
    assert html_to_text(bytes(row["html"])) == row["text"]


def test_gazetteer_dir_reads_mappings_from_a_uri(spark, gaz, tmp_path):
    """A catalog directory given as a ``file://`` URI reads the same ward
    mappings as its plain path; a directory without ``ward_mappings.json``
    reads none and raises nothing."""
    import json
    from pathlib import Path

    from address_parser_spark.sources.readers import GAZETTEER_FILES, gazetteer_from_dir

    def write(d: Path, mappings: bool) -> Path:
        d.mkdir()
        files = {name: getattr(gaz, table) for table, name in GAZETTEER_FILES.items()}
        if mappings:
            files["ward_mappings.json"] = gaz.ward_mappings
        for name, rows in files.items():
            (d / name).write_text(json.dumps(rows, ensure_ascii=False), encoding="utf-8")
        return d

    d = write(tmp_path / "gaz", mappings=True)
    plain = gazetteer_from_dir(spark, str(d))
    uri = gazetteer_from_dir(spark, d.as_uri())
    assert len(plain.ward_mappings) == len(gaz.ward_mappings) == 243
    assert uri.ward_mappings == plain.ward_mappings
    assert uri.counts() == plain.counts()

    bare = write(tmp_path / "bare", mappings=False)
    assert gazetteer_from_dir(spark, bare.as_uri()).ward_mappings == []
