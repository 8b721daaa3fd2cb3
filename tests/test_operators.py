"""Operator-level tests: ward mapping (J4), NER pipeline, dedup family,
similarity search, readers."""

import pytest
from pyspark.sql import functions as F

from address_parser_spark.gazetteer import synth_gazetteer
from address_parser_spark.operators.mapping import map_new_to_old, map_old_to_new, mappings_to_spark


@pytest.fixture(scope="module")
def mappings(spark, gaz):
    return mappings_to_spark(spark, gaz.ward_mappings).persist()


def test_map_old_to_new_prefers_matching_district(spark, gaz, mappings):
    # every old ward maps to exactly one preferred new row
    old = spark.createDataFrame(
        [(w["code"], None, None) for w in gaz.old_wards],
        "ward_code string, province string, district string",
    )
    mapped = map_old_to_new(old, mappings)
    assert mapped.count() == len(gaz.old_wards)
    assert mapped.filter(F.col("new_ward_code").isNull()).count() == 0
    # mapping correctness vs the generator's truth table
    truth = {m["old_ward_code"]: m["new_ward_code"] for m in gaz.ward_mappings}
    got = {r["ward_code"]: r["new_ward_code"] for r in mapped.collect()}
    wrong = {k for k, v in got.items() if truth.get(k) != v}
    assert not wrong


def test_map_new_to_old_roundtrip(spark, gaz, mappings):
    new = spark.createDataFrame(
        [(w["code"],) for w in gaz.new_wards], "ward_code string"
    )
    mapped = map_new_to_old(new, mappings, province_name_col=None)
    assert mapped.count() == len(gaz.new_wards)
    # each new ward's preferred old row must be one of its true members
    members: dict[str, set] = {}
    for m in gaz.ward_mappings:
        members.setdefault(m["new_ward_code"], set()).add(m["old_ward_code"])
    for r in mapped.collect():
        assert r["old_ward_code"] in members[r["ward_code"]]


def test_ner_pipeline(spark, gaz):
    from address_parser_spark.plans.ner_pipeline import build_ner_dataset
    from address_parser_spark.plans.pipeline import run_pipeline
    from address_parser_spark.sources.pages import PAGES_SCHEMA, synth_pages_local

    pages, _ = synth_pages_local(gaz, 120)
    resolved = run_pipeline(spark, spark.createDataFrame(pages, PAGES_SCHEMA), gaz)
    train, test = build_ner_dataset(resolved)
    n_train, n_test = train.count(), test.count()
    assert n_train > 0
    assert n_train + n_test <= resolved.count()
    row = train.first()
    assert len(row["tokens"]) == len(row["ner_tags"])
    assert any(t.startswith("B-") for t in row["ner_tags"])
    # split determinism
    train2, _ = build_ner_dataset(resolved)
    assert train2.count() == n_train


def test_dedup_exact_finds_planted_duplicates(spark):
    from address_parser_spark.operators.dedup import exact_duplicates

    docs = spark.createDataFrame(
        [(1, "Hello World"), (2, "hello world"), (3, "other text")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in exact_duplicates(docs).collect()}
    assert out[1]["dup_count"] == 2 and out[2]["dup_count"] == 2
    assert out[1]["is_canonical"] and not out[2]["is_canonical"]
    assert out[3]["dup_count"] == 1


def test_grouped_docs_bounded_matches_naive_collect(spark):
    """The count-then-join collection must be value-identical to the naive
    groupBy+collect_list for every surviving key, drop exactly the df>cap
    keys BEFORE any list is collected, preserve same-doc multiplicity, and
    plan exactly ONE wide exchange of the instances (count agg, df-filter
    join, and collect_list all reuse it)."""
    import re

    from pyspark.sql import functions as F

    from address_parser_spark.operators.dedup import _grouped_docs_bounded

    rows = [("hot", d) for d in range(40)]            # df 40 — dropped at cap 5
    rows += [("warm", d) for d in (3, 1, 2, 1)]       # df 4, doc 1 twice
    rows += [("cold", 9)]                             # df 1
    df = spark.createDataFrame(rows, "shh string, doc_id long")
    out = _grouped_docs_bounded(df, "shh", cap=5)
    got = {r["shh"]: (r["df"], r["docs"]) for r in out.collect()}
    assert set(got) == {"warm", "cold"}, got
    assert got["warm"] == (4, [1, 1, 2, 3])  # sorted, multiplicity kept
    assert got["cold"] == (1, [9])
    # single-exchange property: exactly one hashpartitioning exchange of
    # the instances net of reuses (the scale guarantee the docstring
    # promises — a reintroduced count+semi-join shape would plan TWO
    # independent instance shuffles and must fail here)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE echoes the pre-AQE plan below
    shuffles = re.findall(r"Exchange hashpartitioning\(shh", final)
    reused = re.findall(r"ReusedExchange", final)
    assert len(shuffles) - len(reused) <= 1, final


def test_minhash_band_pairs_rejects_nondividing_rows_per_band(spark):
    import pytest

    from address_parser_spark.operators.dedup import minhash_band_pairs

    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with pytest.raises(ValueError, match="rows_per_band"):
        minhash_band_pairs(docs, rows_per_band=3)


def test_minhash_band_pairs_recall_on_near_dup(spark):
    from address_parser_spark.operators.dedup import minhash_band_pairs

    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    near = base.replace("today", "tonight")
    far = "completely different words in this unrelated document about spark engines"
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = {(r["doc_a"], r["doc_b"]) for r in minhash_band_pairs(docs).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_embedding_near_dups_and_ann(spark):
    from address_parser_spark.operators.dedup import embedding_near_dups
    from address_parser_spark.operators.similarity_search import ann_lsh_topk, cosine_topk

    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [-1.0, 0.0, 0.0, 0.0]),   # different sign bucket
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    dups = {(r["id_a"], r["id_b"]) for r in embedding_near_dups(emb, threshold=0.95).collect()}
    assert (0, 1) in dups and len(dups) == 1

    topk = cosine_topk(emb, query_ids=[0], k=2).collect()
    assert [r["neighbor_id"] for r in topk] == [1, 2]
    ann = ann_lsh_topk(emb, query_ids=[0], k=3, bucket_dims=4).collect()
    assert all(r["neighbor_id"] != 3 for r in ann)  # 3 is outside 0's bucket
