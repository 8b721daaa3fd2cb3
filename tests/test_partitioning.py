"""fan_out scan-width defense + staged-shingle parity (operators/partitioning,
dedup.with_word_shingles)."""

from pyspark.sql import functions as F

from address_parser_spark.operators.dedup import with_word_shingles
from address_parser_spark.operators.partitioning import fan_out


def test_fan_out_widens_narrow_plans(spark):
    narrow = spark.range(1000).coalesce(1)
    widened = fan_out(narrow)
    target = spark.sparkContext.defaultParallelism
    assert widened.rdd.getNumPartitions() == target
    assert widened.count() == 1000


def test_fan_out_is_noop_on_wide_plans(spark):
    target = spark.sparkContext.defaultParallelism
    wide = spark.range(1000).repartition(target)
    # already at parallelism: the plan must come back untouched (no shuffle)
    assert fan_out(wide) is wide


def test_fan_out_never_probes_shuffle_derived_frames(spark):
    """A frame derived through a shuffle must come back untouched WITHOUT an
    .rdd width probe: under AQE, converting a shuffle-bearing plan to RDD
    finalizes the adaptive plan and eagerly EXECUTES every upstream stage
    just to read a partition count — the upstream pipeline would then run
    twice. Post-shuffle frames are already shuffle.partitions wide, so
    fan_out has nothing to fix there."""
    from address_parser_spark.operators import partitioning

    agg = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    joined = agg.join(spark.range(7).withColumnRenamed("id", "k"), "k")
    # a cached shuffle-derived frame prints PHYSICAL nodes (InMemoryRelation
    # wrapping Exchange/HashAggregate) — must classify as not-narrow too
    cached = agg.cache()
    try:
        for wide in (agg, joined, spark.range(10).repartition(32), cached,
                     spark.range(10).hint("rebalance")):
            assert not partitioning._is_narrow_over_scan(wide)
            assert fan_out(wide) is wide
    finally:
        cached.unpersist()
    # ...while narrow-over-scan shapes (including coalesce) still qualify
    for narrow in (spark.range(10), spark.range(10).coalesce(1),
                   spark.range(10).filter(F.col("id") > 2).select("id")):
        assert partitioning._is_narrow_over_scan(narrow)


def test_fan_out_preserves_rows_and_values(spark):
    df = spark.createDataFrame([(i, f"t{i}") for i in range(50)], "id long, text string").coalesce(1)
    out = fan_out(df)
    assert sorted(r["id"] for r in out.collect()) == list(range(50))


def test_with_word_shingles_matches_column_form(spark):
    """The staged JVM shingles equal the pure-Python ``word_shingles`` over
    the lowercased whitespace tokens, as a distinct set."""
    from address_parser_spark.textops.ngrams import word_shingles

    texts = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "short text",
        3: "One Two Three One Two Three One Two Three",
        4: "solo",
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    staged = {
        r["doc_id"]: sorted(r["sh"])
        for r in with_word_shingles(docs, "text", 3, out="sh").select("doc_id", "sh").collect()
    }
    assert staged == {
        doc_id: sorted(set(word_shingles(text.lower().split(), 3)))
        for doc_id, text in texts.items()
    }
    assert staged[2] == ["short text"]  # below k: single joined shingle
    assert len(staged[3]) == 3  # distinct shingles of a repeating text


def test_with_word_shingles_drops_staging_column(spark):
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    out = with_word_shingles(docs, "text", 3)
    assert set(out.columns) == {"doc_id", "text", "_sh"}


def test_hashed_shingles_fast_path_matches_string_path(spark):
    """The fast path (xxhash64 over token slices, no shingle strings) must
    induce the same shingle SETS as the string formulation: same distinct
    count per doc, and equal hash sets iff the string shingle sets are equal
    (docs 3 and 5 repeat the same text)."""
    from address_parser_spark.operators.dedup import with_hashed_shingles

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "short text"),
            (3, "One Two Three One Two Three One Two Three"),
            (4, "solo"),
            (5, "one two three one two three one two three"),  # = doc 3 lowered
        ],
        "doc_id long, text string",
    )
    strings = {
        r["doc_id"]: set(r["sh"])
        for r in with_word_shingles(docs, "text", 3, out="sh").collect()
    }
    hashes = {
        r["doc_id"]: set(r["_shh_arr"])
        for r in with_hashed_shingles(docs, "text", 3, fast_hash=True).collect()
    }
    md5s = {
        r["doc_id"]: set(r["_shh_arr"])
        for r in with_hashed_shingles(docs, "text", 3, fast_hash=False).collect()
    }
    for d in strings:
        assert len(hashes[d]) == len(strings[d]) == len(md5s[d])
    # same text (case-insensitive) -> same hash set; different text -> disjoint
    assert hashes[3] == hashes[5]
    assert not hashes[1] & hashes[2]
    assert strings[2] == {"short text"} and len(hashes[2]) == 1  # n<k edge
