"""End-to-end gates (SURVEY §5 / BASELINE.json):

1. extraction invariant — byte-identical extracted mention text per url;
2. blocking recall — every gold pair shares ≥1 blocking key;
3. pairwise F1 ≥ 0.99 on labeled pairs at shared blocking keys;
4. resume — stages read back from committed snapshots, identical output;
   another input through the same store raises;
5. degenerate input — empty and undecodable pages, one mention on 10^5 pages.
"""

import dataclasses
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from address_parser_spark.gazetteer import synth_gazetteer
from address_parser_spark.operators.eval import gold_entity_col, labeled_pairs, pairwise_f1
from address_parser_spark.operators.pairs import with_blocking_keys
from address_parser_spark.plans.pipeline import run_pipeline
from address_parser_spark.sources.lineage import StageStore
from address_parser_spark.sources.pages import GOLD_SCHEMA, PAGES_SCHEMA, synth_pages_local
from address_parser_spark.textops.extract import extract_mentions
from address_parser_spark.textops.html import html_to_text

N_PAGES = 250


@pytest.fixture(scope="module")
def corpus(gaz):
    return synth_pages_local(gaz, N_PAGES)


@pytest.fixture(scope="module")
def clustered(spark, gaz, corpus):
    pages, _ = corpus
    pages_df = spark.createDataFrame(pages, PAGES_SCHEMA)
    return run_pipeline(spark, pages_df, gaz).persist()


def test_extraction_byte_identity(corpus):
    pages, golds = corpus
    gold_by_url: dict[str, set[str]] = {}
    for g in golds:
        gold_by_url.setdefault(g[0], set()).add(g[1])
    for url, _ts, _html, text, lang in pages:
        got = set(extract_mentions(text))
        want = gold_by_url.get(url, set())
        assert want <= got, f"missed mentions on {url}: {want - got}"
        if lang == "vi":
            assert got == want, f"false spans on {url}: {got - want}"


def test_overlong_abbrev_extension_falls_back_to_longest_cut():
    # An abbreviation dot ("TP.") extends the span into a long terminator-free
    # tail that overshoots MAX_MENTION_LEN. The extractor must fall back to
    # the longest unextended cut instead of silently dropping the mention —
    # and strip the dangling bare admin-prefix token the cut lands on (the
    # ", TP" with no following name), so no stray token reaches detection.
    addr = "12 Nguyễn Trãi, P. Bến Thành, Q. 1"
    text = "Địa chỉ: " + addr + ", TP. " + "x" * 250
    assert extract_mentions(text) == [addr]


_DOTTED = "12 Lê Lợi, P.5, Q.3, TP.Hồ Chí Minh"


@pytest.mark.parametrize("tail, want", [
    (".\ufffd Xem thêm", _DOTTED),
    (".) tiếp", _DOTTED),
    ('." Gọi', _DOTTED),
    ("._x", _DOTTED),
    ("... tiếp", _DOTTED),
    (".", _DOTTED),
    (".5 tiếp", _DOTTED + ".5 tiếp"),
])
def test_sentence_dot_before_a_non_alphanumeric_ends_the_span(tail, want):
    # A '.' followed by whitespace, the end of the text, or any character
    # that is neither a letter nor a digit closes the sentence; a '.' glued
    # to a letter or digit ("P.5", "TP.Hồ") is an abbreviation inside it.
    assert extract_mentions("Địa chỉ: " + _DOTTED + tail) == [want]


def test_blocking_recall_on_gold_pairs(spark, corpus, clustered):
    _, golds = corpus
    gold_df = (
        spark.createDataFrame(golds, GOLD_SCHEMA)
        .withColumn("gold_entity", gold_entity_col())
        .select("url", "mention", "gold_entity")
    )
    keyed = (
        with_blocking_keys(clustered)
        .join(gold_df, ["url", "mention"])
        .select("mid", F.explode("keys").alias("key"), "gold_entity")
        .distinct()
    )
    # nearly every gold entity with >=2 mentions must have at least one key
    # shared by >=2 of its mentions (the pair is generatable). A small tail of
    # glued-compound variants ("TP.ĐàNẵng" → "danang" vs "da nang") legally
    # escapes key sharing — those still cluster via canonical-node anchors.
    per_entity = (
        keyed.groupBy("gold_entity", "key").agg(F.countDistinct("mid").alias("n"))
        .groupBy("gold_entity").agg(F.max("n").alias("max_shared"))
    )
    multi = (
        keyed.groupBy("gold_entity").agg(F.countDistinct("mid").alias("m")).filter("m >= 2")
    )
    joined = multi.join(per_entity, "gold_entity")
    total = joined.count()
    bad = joined.filter(F.col("max_shared") < 2).count()
    assert total > 20
    assert bad / total <= 0.02, f"{bad}/{total} multi-mention entities lack a shared key"


def test_pairwise_f1_gate(spark, corpus, clustered):
    _, golds = corpus
    gold_df = (
        spark.createDataFrame(golds, GOLD_SCHEMA)
        .withColumn("gold_entity", gold_entity_col())
        .select("url", "mention", "gold_entity")
    )
    keyed = with_blocking_keys(clustered).join(gold_df, ["url", "mention"])
    metrics = pairwise_f1(labeled_pairs(keyed.select("mid", "keys", "gold_entity", "cluster_id")))
    assert metrics["n_pairs"] > 100
    assert metrics["f1"] >= 0.99, metrics


def test_resume_from_checkpoint(spark, gaz, corpus, tmp_path_factory):
    pages, _ = corpus
    pages_df = spark.createDataFrame(pages[:80], PAGES_SCHEMA)
    base = str(tmp_path_factory.mktemp("ckpt"))

    store = StageStore(spark, base)
    first = run_pipeline(spark, pages_df, gaz, store=store)
    a = first.select("mid", "cluster_id").collect()
    # only the resolve kernel's output and the result are snapshotted: keys,
    # edges and the (small-graph, driver-side) CC write nothing
    stages = {e["stage"] for e in store.lineage() if "rows" in e}
    assert stages == {"resolved", "clustered"}

    # simulate a crash after 'resolved': final stage lost, resolved resumes
    shutil.rmtree(f"{base}/clustered", ignore_errors=True)
    store2 = StageStore(spark, base)
    second = run_pipeline(spark, pages_df, gaz, store=store2)
    resumed = {e["stage"] for e in store2.lineage() if e.get("resumed")}
    assert resumed == {"resolved"}
    # identical cluster structure, not just row count
    b = second.select("mid", "cluster_id").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_resume_rejects_another_input(spark, gaz, corpus, tmp_path_factory):
    """A store holds the snapshots of one input: rerunning another corpus or
    another gazetteer through the same directory raises instead of returning the first
    corpus's clusters, and a fresh store on the same input still resumes."""
    pages, _ = corpus
    first_df = spark.createDataFrame(pages[:80], PAGES_SCHEMA)
    other_df = spark.createDataFrame(pages[80:160], PAGES_SCHEMA)
    base = str(tmp_path_factory.mktemp("stale"))

    a = run_pipeline(spark, first_df, gaz, store=StageStore(spark, base))
    want = sorted(map(tuple, a.select("url", "mention", "cluster_id").collect()))
    with pytest.raises(ValueError, match="another input") as err:
        run_pipeline(spark, other_df, gaz, store=StageStore(spark, base))
    assert base in str(err.value)
    assert (Path(base) / "_input.sha256").read_text() in str(err.value)
    other_gaz = dataclasses.replace(gaz, ward_mappings=gaz.ward_mappings[:-1])
    with pytest.raises(ValueError, match="another input"):
        run_pipeline(spark, first_df, other_gaz, store=StageStore(spark, base))

    again = StageStore(spark, base)
    b = run_pipeline(spark, first_df, gaz, store=again)
    assert {e["stage"] for e in again.lineage() if e.get("resumed")} == {"resolved", "clustered"}
    assert sorted(map(tuple, b.select("url", "mention", "cluster_id").collect())) == want


def test_pipeline_from_html_only_pages(spark, gaz, corpus, clustered):
    """input_hint closure: pages arriving with ONLY the html:binary column
    populated (text null) must produce exactly the text-path pipeline output
    — extract_normalize's html branch extracts the text from markup, and
    since html_to_text is byte-identical to the text column on this corpus,
    every downstream row (mention, std, entity_key) matches. F1 gate
    therefore holds verbatim."""
    pages, _ = corpus
    pages_df = (
        spark.createDataFrame(pages, PAGES_SCHEMA)
        .withColumn("text", F.lit(None).cast("string"))
    )
    out = run_pipeline(spark, pages_df, gaz)
    cols = ["url", "mention", "std", "entity_key"]
    got = {tuple(r) for r in out.select(*cols).collect()}
    want = {tuple(r) for r in clustered.select(*cols).collect()}
    assert got == want


def test_pipeline_over_no_vietnamese_pages(spark, gaz, corpus, clustered):
    """Zero ``vi`` pages → an empty frame with the full output schema."""
    pages, _ = corpus
    pages_df = spark.createDataFrame(pages[:5], PAGES_SCHEMA).withColumn("lang", F.lit("en"))
    out = run_pipeline(spark, pages_df, gaz)
    assert out.schema == clustered.schema
    assert out.count() == 0


def _nullable(schema: T.StructType) -> T.StructType:
    return T.StructType([T.StructField(f.name, f.dataType, True) for f in schema.fields])


def test_page_with_null_text_and_null_html_is_skipped(spark, gaz, corpus):
    """A ``vi`` page with neither text nor html adds no row and no error:
    the output equals the valid pages' output."""
    pages, _ = corpus
    valid = pages[:6]
    empty = ("https://empty.vn/p", valid[0][1], None, None, "vi")
    with_empty = spark.createDataFrame(valid + [empty], _nullable(PAGES_SCHEMA))
    got = {tuple(r) for r in run_pipeline(spark, with_empty, gaz).collect()}
    want = {tuple(r) for r in run_pipeline(
        spark, spark.createDataFrame(valid, PAGES_SCHEMA), gaz).collect()}
    assert want
    assert got == want


def test_html_with_invalid_utf8_matches_its_text(spark, gaz, corpus, clustered):
    """Html bytes holding invalid UTF-8 (a ``\\xff\\xfe`` prefix and a lone
    ``\\x80`` on the mention's line) resolve exactly like the same page with
    ``html_to_text(html)`` as its text: the html branch decodes with
    replacement instead of failing the stage. The mention text and entity
    equal the clean page's: the replacement character glued to the closing
    period ends the span like a space would."""
    pages, golds = corpus
    url, ts, html, _text, lang = pages[0]
    mention = next(g[1] for g in golds if g[0] == url)
    tail = mention[-12:].encode()
    end = html.index(b"<", html.index(tail) + len(tail))  # the line's closing tag
    bad = b"\xff\xfe" + html[:end] + b"\x80" + html[end:]
    with pytest.raises(UnicodeDecodeError):
        bad.decode("utf-8")

    html_only = spark.createDataFrame([(url, ts, bad, None, lang)], _nullable(PAGES_SCHEMA))
    texted = spark.createDataFrame([(url, ts, bad, html_to_text(bad), lang)], PAGES_SCHEMA)
    cols = ["mention", "entity_key"]
    got = {tuple(r) for r in run_pipeline(spark, html_only, gaz).select(*cols).collect()}
    want = {tuple(r) for r in run_pipeline(spark, texted, gaz).select(*cols).collect()}
    clean = {tuple(r) for r in clustered.filter(F.col("url") == url).select(*cols).collect()}
    assert got == want == clean


def test_one_mention_repeated_on_1e5_pages(spark, gaz):
    """One address on 10^5 pages, built JVM-side: extract, resolve and
    cluster hold no per-mention list, and every row lands in one entity and
    one cluster."""
    n = 100_000
    text = ("Địa chỉ liên hệ: số 432 hai bà trưng, phường nghĩa khánh, "
            "quận nhà bè, thành phố hồ chí minh.")
    pages_df = spark.range(n).select(
        F.concat(F.lit("https://rep.vn/p"), F.col("id").cast("string")).alias("url"),
        F.lit(text).alias("text"),
        F.lit("vi").alias("lang"),
    )
    out = run_pipeline(spark, pages_df, gaz)
    got = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("mention").alias("mentions"),
        F.countDistinct("entity_key").alias("keys"),
        F.countDistinct("cluster_id").alias("clusters"),
    ).first()
    assert (got["n"], got["mentions"], got["keys"], got["clusters"]) == (n, 1, 1, 1)
