"""The code-generated MinHash signature (explode shingle positions, hash in a
plain Project, min-aggregate per doc) and the exact band keys must give the
same rows as the ``transform``-lambda formulation they replaced. That
formulation is kept here, test-local, as the reference."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from address_parser_spark.operators.dedup import (
    MINHASH_P, MINHASH_PARAMS, minhash_band_pairs, minhash_signatures,
)
from address_parser_spark.operators.textquality import _md5_60, tokens_col
from address_parser_spark.sources.documents import synth_documents_spark

EDGE_DOCS = [
    (900001, None), (900002, ""), (900003, "  \t\n "), (900004, "one"),
    (900005, "Two words"), (900006, " leading space then more tokens"),
    (900007, "one"), (900008, "two  WORDS"),
]


def _filter_tokens(text):
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def _reference_sig(docs, k: int, fast_hash: bool):
    """(doc_id, _sig array<struct<h_idx, minhash>>): one ``transform`` over a
    literal (h_idx, a, b) array, each evaluating a lambda per distinct
    shingle hash."""
    toks = F.col("_t")
    n = F.size(toks)
    if fast_hash:
        sh = F.when(
            n >= k, F.transform(F.sequence(F.lit(1), n - (k - 1)), lambda i: F.xxhash64(F.slice(toks, i, k)))
        ).otherwise(F.array(F.xxhash64(toks)))
    else:
        sh = F.transform(
            F.when(
                n >= k,
                F.transform(F.sequence(F.lit(1), n - (k - 1)), lambda i: F.concat_ws(" ", F.slice(toks, i, k))),
            ).otherwise(F.array(F.concat_ws(" ", toks))),
            _md5_60,
        )
    staged = (
        docs.withColumn("_t", _filter_tokens(F.lower(F.col("text"))))
        .withColumn("_h", F.transform(F.array_distinct(sh), lambda h: F.pmod(h, F.lit(MINHASH_P))))
    )
    params = F.array(*[
        F.struct(F.lit(j).alias("h_idx"), F.lit(a).alias("a"), F.lit(b).alias("b"))
        for j, (a, b) in enumerate(MINHASH_PARAMS)
    ])
    sig = F.transform(params, lambda p: F.struct(
        p["h_idx"].alias("h_idx"),
        F.coalesce(
            F.array_min(F.transform(F.col("_h"), lambda h: F.pmod(p["a"] * h + p["b"], F.lit(MINHASH_P)))),
            F.lit(MINHASH_P),
        ).alias("minhash"),
    ))
    return staged.select("doc_id", sig.alias("_sig"))


def _reference_band_pairs(docs, fast_hash: bool, rows_per_band: int = 2, max_block: int = 50):
    """Band buckets keyed by ``xxhash64("<band>#<sorted 'h_idx:minhash'>")``,
    collected naively (the cap applies to the bucket's instance count)."""
    sig = _reference_sig(docs, 3, fast_hash)
    keys = []
    for j in range(len(MINHASH_PARAMS) // rows_per_band):
        members = F.array(*[
            F.concat_ws(":", F.lit(str(i)), F.element_at(F.col("_sig"), i + 1)["minhash"].cast("string"))
            for i in range(j * rows_per_band, (j + 1) * rows_per_band)
        ])
        keys.append(F.xxhash64(F.concat_ws("#", F.lit(str(j)), F.array_join(F.array_sort(members), ","))))
    buckets = (
        sig.select("doc_id", F.explode(F.array(*keys)).alias("bkey"))
        .groupBy("bkey")
        .agg(F.collect_list("doc_id").alias("docs"))
        .filter((F.size("docs") >= 2) & (F.size("docs") <= max_block))
    )
    rows = {}
    for r in buckets.collect():
        ds = sorted(r["docs"])
        for x in range(len(ds)):
            for y in range(x + 1, len(ds)):
                if ds[x] != ds[y]:
                    rows[(ds[x], ds[y])] = rows.get((ds[x], ds[y]), 0) + 1
    return sorted((a, b, c) for (a, b), c in rows.items())


@pytest.fixture(scope="module")
def docs(spark):
    edge = spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")
    corpus = synth_documents_spark(spark, 400, partitions=4, seed=7).select("doc_id", "text")
    return corpus.unionByName(edge).cache()


@pytest.mark.parametrize("fast_hash", [False, True])
def test_signature_equals_transform_reference(docs, fast_hash):
    ref = sorted(
        (r["doc_id"], r["s"]["h_idx"], r["s"]["minhash"])
        for r in _reference_sig(docs, 3, fast_hash).select("doc_id", F.explode("_sig").alias("s")).collect()
    )
    got = sorted(tuple(r) for r in minhash_signatures(docs, fast_hash=fast_hash).collect())
    assert got == ref
    assert len(got) == 8 * (400 + len(EDGE_DOCS))  # null, empty and blank docs keep a signature


@pytest.mark.parametrize("fast_hash", [False, True])
def test_exact_band_keys_equal_hashed_band_keys(docs, fast_hash):
    got = sorted(tuple(r) for r in minhash_band_pairs(docs, fast_hash=fast_hash).collect())
    assert got == _reference_band_pairs(docs, fast_hash)
    # non-vacuous: planted near-dups, and the two "one" docs share every band
    assert len(got) > 10 and (900004, 900007, 4) in got


def test_tokens_col_equals_filter_form(spark):
    texts = [(None,), ("",), ("  ",), ("\t\na  b\n",), (" lead",), ("a b  c",)]
    df = spark.createDataFrame(texts, "text string")
    rows = df.select(
        tokens_col(F.col("text")).alias("new"), _filter_tokens(F.col("text")).alias("old")
    ).collect()
    assert all(r["new"] == r["old"] for r in rows), rows
    assert [r["new"] for r in rows] == [None, [], [], ["a", "b"], ["lead"], ["a", "b", "c"]]


def test_band_pairs_signature_stage_is_code_generated(spark, tmp_path):
    """In the executed plan, nothing below the band-key exchange evaluates a
    lambda, and the per-doc signature aggregate sits inside whole-stage
    codegen (``*(n)``). The corpus is read back from parquet: the synthetic
    generator's own ``transform`` must not be part of the plan."""
    path = str(tmp_path / "docs.parquet")
    synth_documents_spark(spark, 300, partitions=2, seed=3).write.parquet(path)
    out = minhash_band_pairs(spark.read.parquet(path), fast_hash=True)
    out.collect()
    plan = out.sparkSession.sparkContext._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
        out._jdf.queryExecution(), "simple"
    )
    final = plan.split("== Initial Plan ==")[0].splitlines()
    at = next(i for i, line in enumerate(final) if "Exchange hashpartitioning(bkey" in line)
    depth = len(final[at]) - len(final[at].lstrip(" +-:"))
    below = []
    for line in final[at + 1:]:
        if len(line) - len(line.lstrip(" +-:")) <= depth:
            break
        below.append(line)
    assert below and not any("lambdafunction" in line for line in below), "\n".join(below)
    aggs = [line for line in below if re.search(r"HashAggregate\(keys=\[doc_id#", line)]
    assert aggs and all(re.search(r"\*\(\d+\) HashAggregate", line) for line in aggs), "\n".join(below)
