"""Deduplication operators for web-scale training corpora (documents table).

Five families (task brief): exact (hash groupBy), MinHash+LSH banding,
SimHash, word-n-gram Jaccard, embedding-cosine near-dup. Everything is pure
Column logic / relational algebra — no Python on the data path — so each
operator runs on the JVM and has an exact DuckDB oracle. Higher-order
functions (``transform``/``aggregate``) are ``CodegenFallback``: the Project
holding one runs outside whole-stage codegen, row by row.

Scale shape notes (the part that matters at 100 TB):
- exact dedup: one hash agg on a 16-byte digest — shuffle width is (digest,
  doc_id), partial-agg'd map-side.
- MinHash banding: shingle positions are exploded and hashed scan-side,
  and the 8 per-permutation minima are one ``groupBy(doc_id)`` whose
  exchange carries a partial aggregate (one row per doc and map
  partition, not the shingle instances); band keys are the exact
  signature values. The other shuffles are the band-key membership
  collection (one hash exchange, window-count-bounded state —
  ``_grouped_docs_bounded``) and the pair agg; oversized buckets are
  capped at ``max_block`` before any member list exists, and pairs are
  generated JVM-side from each bucket's member list — never a bucket
  self-join.
- Jaccard pairs: shingle explode → one hash exchange on which a window
  count sizes each shingle's doc set BEFORE the list is collected →
  JVM-side pair combinations → per-pair intersection counts (union size =
  |A|+|B|−∩ needs no second pass). A shingle shared by n docs yields n²/2
  pairs, so globally-hot shingles (document frequency > ``max_df`` —
  boilerplate headers, licence blurbs) are DROPPED before any pair exists
  — without ever materializing their doc lists (see
  ``_grouped_docs_bounded``) — from both the intersections and the per-doc
  set sizes; the drop is surfaced by ``dropped_shingles`` (no silent caps).
- hash functions: md5-derived 60-bit ints by default (bit-identical to the
  DuckDB oracles); pass ``fast_hash=True`` for xxhash64 on the production /
  bench path (~3× faster, Spark-only — same dataflow shape).
- cosine near-dup: brute force is O(n²) — only for gold/test scale; the
  LSH-bucketed variant in similarity_search bounds candidates per bucket.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from address_parser_spark.operators.partitioning import fan_out
from address_parser_spark.operators.similarity_search import _as_double, _dot, _norm, sign_bucket_col
from address_parser_spark.operators.textquality import _md5_60, shingle_starts, tokens_col

MINHASH_P = 2147483647  # Mersenne 2^31-1: a·h+b < 2^63 under ANSI arithmetic

DEFAULT_MAX_DF = 200  # shingle document-frequency cap for the Jaccard self-join


# Deterministic (a, b) parameter table shared with the SQL oracle.
MINHASH_PARAMS: list[tuple[int, int]] = [
    ((17 * (j + 1) ** 2 + 31 * (j + 1) + 7) % MINHASH_P or 1, (101 * (j + 1) ** 3 + 13) % MINHASH_P)
    for j in range(8)
]


def with_word_shingles(df: DataFrame, text_col: str, k: int = 3, out: str = "_sh") -> DataFrame:
    """``df`` + a distinct word-k-shingle array column ``out``.

    Tokens are staged as a REAL column before the shingle transform: the
    lambda body then references a cheap attribute instead of re-running
    the tokenizer per shingle position (CollapseProject leaves multi-referenced
    non-trivial aliases staged — the same trap ``fingerprints`` documents)."""
    toks = F.col("_wsh_toks")
    sh = F.transform(shingle_starts(toks, k), lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
    return (
        df.withColumn("_wsh_toks", tokens_col(F.lower(F.col(text_col))))
        .withColumn(out, F.array_distinct(sh))
        .drop("_wsh_toks")
    )


def with_hashed_shingles(df: DataFrame, text_col: str, k: int, fast_hash: bool,
                         out: str = "_shh_arr") -> DataFrame:
    """``df`` + an array<long> column of DISTINCT word-k-shingle hashes.

    The fast path hashes each token slice directly (``xxhash64`` recurses
    into array elements) — the shingle STRING is never built, so the scan
    stage skips one ``concat_ws`` allocation + UTF8 re-hash per shingle
    instance and dedups over longs instead of strings. That matters beyond
    constant factors: the memory-bandwidth probe recorded in BASELINE.md
    shows this box's per-core bandwidth collapsing 2.9 → 1.1 GB/s from 4- to
    16-wide, so allocation-heavy scan stages are what break the N→4N scaling
    target — fewer bytes touched per row is a scaling fix, not a micro-opt.
    The md5 path keeps the string formulation byte-compatible with the
    DuckDB oracles. Hash-collision risk on the fast path is the usual
    64-bit birthday bound (~1e-8 at a billion distinct shingles)."""
    if not fast_hash:
        sh = with_word_shingles(df, text_col, k, out="_hsh_str")
        return sh.withColumn(
            out, F.transform(F.col("_hsh_str"), lambda s: _md5_60(s))
        ).drop("_hsh_str")
    toks = F.col("_hsh_toks")
    hashed = F.transform(shingle_starts(toks, k), lambda i: F.xxhash64(F.slice(toks, i, k)))
    return (
        df.withColumn("_hsh_toks", tokens_col(F.lower(F.col(text_col))))
        .withColumn(out, F.array_distinct(hashed))
        .drop("_hsh_toks")
    )


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: (doc_id, content hash, group size, is_canonical) — the
    canonical representative is the minimum doc_id per digest."""
    h = fan_out(docs).select("doc_id", F.md5(F.lower(F.col(text_col))).alias("content_md5"))
    groups = h.groupBy("content_md5").agg(
        F.count(F.lit(1)).alias("dup_count"), F.min("doc_id").alias("canonical_doc_id")
    )
    return (
        h.join(groups, "content_md5")
        .select(
            "doc_id", "content_md5", "dup_count",
            (F.col("doc_id") == F.col("canonical_doc_id")).alias("is_canonical"),
        )
    )


def _minhash_signature(docs: DataFrame, text_col: str, k: int,
                       fast_hash: bool) -> DataFrame:
    """(doc_id, m0 … m7): the 8-permutation MinHash signature, one row per
    document. ``doc_id`` is the documents table's key — the signature is
    grouped by it (as the DuckDB oracle's band SQL is).

    Every operator here is code-generated: the shingle positions are
    exploded (``explode(sequence(1, greatest(n−k+1, 1)))``), each position
    is hashed in a plain Project, and one ``groupBy(doc_id)`` takes the 8
    per-permutation minima. Spark's higher-order functions
    (``transform``/``aggregate``/``filter``) are ``CodegenFallback`` — the
    previous ``transform`` over a parameter array evaluated eight lambdas
    per shingle row by row and kept its whole Project out of whole-stage
    codegen. The one exchange (``hashpartitioning(doc_id)``) carries the
    partial aggregate — one row per doc and map partition, not the shingle
    instances.

    A doc with fewer than ``k`` tokens is one shingle, its whole token list
    (``textquality.shingle_starts``). Shingles are hashed per instance
    rather than per distinct value; repeats do not move a minimum. pmod maps
    signed hashes into [0, P) so xxhash64 and the unsigned md5-60 ints
    behave identically under the permutation."""
    toks = F.col("_mh_toks")
    shingle = F.slice(toks, F.col("_mh_pos"), k)
    h = F.xxhash64(shingle) if fast_hash else _md5_60(F.concat_ws(" ", shingle))
    hashed = (
        fan_out(docs)
        .select("doc_id", tokens_col(F.lower(F.col(text_col))).alias("_mh_toks"))
        .select("doc_id", "_mh_toks", F.explode(shingle_starts(toks, k)).alias("_mh_pos"))
        .select("doc_id", F.pmod(h, F.lit(MINHASH_P)).alias("_mh_h"))
    )
    hp = F.col("_mh_h")
    return hashed.groupBy("doc_id").agg(*[
        F.min(F.pmod(a * hp + b, F.lit(MINHASH_P))).alias(f"m{j}")
        for j, (a, b) in enumerate(MINHASH_PARAMS)
    ])


def minhash_signatures(docs: DataFrame, text_col: str = "text", k: int = 3,
                       fast_hash: bool = False) -> DataFrame:
    """8-permutation MinHash signature per document, exploded one row per
    hash index: (doc_id, h_idx, minhash). ``doc_id`` must be the table's key
    (see ``_minhash_signature``). Cross-engine deterministic with the
    default md5 shingle hashing; ``fast_hash=True`` switches to xxhash64 for
    the production/bench path (signatures differ but dedup semantics and the
    dataflow shape are identical)."""
    sig = _minhash_signature(docs, text_col, k, fast_hash)
    mins = F.array(*[F.col(f"m{j}") for j in range(len(MINHASH_PARAMS))])
    return sig.select("doc_id", F.posexplode(mins).alias("h_idx", "minhash"))


def _grouped_docs_bounded(rows: DataFrame, key: str, cap: int) -> DataFrame:
    """(key, df=instance count, docs=sorted ``doc_id`` array) for keys
    with df <= cap, with BOUNDED aggregation state on corpus-hot keys and
    ONE wide shuffle of the instances. minhash_band_pairs and
    ngram_jaccard_pairs share this one implementation, so the
    single-exchange plan guarantee is tested once and holds for both.

    A naive ``groupBy(key).agg(collect_list(doc_id)).filter(size <= cap)``
    materializes the FULL doc list of every key before the filter — one
    boilerplate shingle shared by millions of documents puts a multi-million-
    element array in a single aggregation buffer (OOM / extreme skew) even
    though the key is discarded the next instant. Instead the instances are
    hash-partitioned by key ONCE, and everything downstream rides that same
    exchange (Spark writes the shuffle once and re-reads it per consumer —
    ReusedExchange):

      1. ``df`` per key: a window count over the partition — WindowExec
         buffers one key group at a time in a SPILLABLE row array
         (ExternalAppendOnlyUnsafeRowArray), so a hot key costs disk, never
         an OOM;
      2. the df <= cap filter drops every hot key's instances BEFORE any
         list exists;
      3. the collect_list — its state is now ≤ cap elements per key by
         construction, and the window's clustering satisfies its
         distribution, so no second exchange.

    Results are bit-identical to the naive formulation (and the DuckDB
    oracles): exact df, exact multiset doc lists, same-doc multiplicity
    preserved. Two alternatives were built and rejected on measurement:
    a salted two-stage collection (pre-aggregation cannot compress
    mostly-unique keys — the normal shingle distribution — so it
    re-shuffled ~every instance with array overhead on top, −26% on the
    800k-doc sweep) and a count-aggregate + co-partitioned semi-join
    (column-pruning divergence defeats ReuseExchange, so the instances
    shipped twice). The plan-shape test below pins the single-exchange
    property."""
    from pyspark.sql.window import Window

    inst = rows.repartition(F.col(key))
    return (
        inst.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy(key)))
        .filter(F.col("df") <= cap)
        .groupBy(key, "df")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
        .select(key, "df", "docs")
    )


def _doc_pairs_per_bucket(grouped: DataFrame, docs_col: str = "docs") -> DataFrame:
    """All (doc_a < doc_b) pairs from each row's SORTED doc_id array,
    generated JVM-side (``transform × slice`` combinations, no self-join).
    Duplicate ids inside one array contribute multiplicity, same-doc pairs
    are skipped."""
    ds = F.col(docs_col)
    return (
        grouped.select(
            F.explode(
                F.flatten(
                    F.transform(
                        ds,
                        lambda x, i: F.transform(
                            F.slice(ds, i + 2, F.size(ds)),
                            lambda y: F.struct(x.alias("a"), y.alias("b")),
                        ),
                    )
                )
            ).alias("p")
        )
        .filter(F.col("p.a") != F.col("p.b"))
        .select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
    )


def minhash_band_pairs(docs: DataFrame, text_col: str = "text", rows_per_band: int = 2,
                       max_block: int = 50, fast_hash: bool = False) -> DataFrame:
    """LSH banding → candidate near-dup pairs (doc_a < doc_b, shared bands).
    ``doc_id`` must be the table's key (see ``_minhash_signature``).

    Each band's bucket key is the exact ``struct(band, m_i, m_{i+1}, …)`` of
    its signature values — no hash of a built string, so bucket membership
    cannot collide. The keys are built from the per-doc signature row after
    its ``doc_id`` aggregation; bucket membership is collected with BOUNDED
    per-key state (``_grouped_docs_bounded`` — degenerate buckets like the
    all-short-docs band can hold millions of members before the
    ``max_block`` filter discards them), then one hash-agg by pair counts
    shared bands."""
    if rows_per_band <= 0 or len(MINHASH_PARAMS) % rows_per_band:
        raise ValueError(
            f"rows_per_band={rows_per_band} must divide the signature size "
            f"{len(MINHASH_PARAMS)} — trailing permutations would be silently dropped"
        )
    sig = _minhash_signature(docs, text_col, 3, fast_hash)
    band_keys = [
        F.struct(
            F.lit(j).alias("band"),
            *[F.col(f"m{j * rows_per_band + r}").alias(f"m{r}") for r in range(rows_per_band)],
        )
        for j in range(len(MINHASH_PARAMS) // rows_per_band)
    ]
    bands = sig.select("doc_id", F.explode(F.array(*band_keys)).alias("bkey"))
    grouped = _grouped_docs_bounded(bands, "bkey", max_block).filter(F.col("df") >= 2)
    return (
        _doc_pairs_per_bucket(grouped)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_bands"))
    )


def simhash32(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """32-bit SimHash over word tokens (md5-hashed; bit b of the fingerprint
    is the sign of the per-bit vote sum, votes weighted by term frequency).

    ZERO shuffle: SimHash is per-document math, so the 32 vote counters are
    folded map-side by ``F.aggregate`` passes over the token-hash array. The
    previous explode → groupBy(doc_id) formulation shuffled every token
    INSTANCE — at web scale that is a shuffle of the whole tokenized corpus
    to compute a per-row value (``_minhash_signature`` can afford its doc_id
    exchange because a min partially aggregates map-side to one row per doc;
    ``test_simhash_plans_zero_shuffle`` pins the zero-shuffle form here).
    Docs with no tokens are dropped, matching the explode semantics (and the
    DuckDB oracle) — via a whitespace-only-text predicate applied BEFORE
    fan_out, deliberately: a `size(tokens) > 0` filter gets predicate-pushed
    below the staging projection AND the repartition, re-running the whole
    tokenization a second time serially at the scan (measured on the
    optimized plan); ``rlike '\\S'`` is scan-cheap and prunes exactly the
    zero-token rows (tokens_col drops whitespace-only splits — trim() would
    miss tab/newline-only texts, which trim spaces only)."""
    # Hash array staged as a REAL column: the 32 popcount passes all read
    # it, and an inlined Column tree would re-run md5 per pass
    # (plan-verified: one md5, one split). Per bit, the vote
    # sign reduces to a POPCOUNT comparison: votes_b = ones_b − (n − ones_b),
    # so bit b is set iff 2·ones_b > n. 32 scalar int-add aggregates over the
    # staged array replace the previous single aggregate that allocated a
    # fresh 32-field struct PER TOKEN — same operation count, zero per-token
    # allocation (measured 0.52 → 0.30 s warm at sf0.1; bit-identical on all
    # 5000 fixture docs).
    hashed = F.col("_simh_hs")
    n = F.size(hashed)

    def _popcount(b: int) -> Column:
        # integer bit extraction — float division would lose low bits
        return F.aggregate(
            hashed,
            F.lit(0),
            lambda acc, h: acc + F.shiftright(h, b).bitwiseAND(F.lit(1)).cast("int"),
        )

    fingerprint = None
    for b in range(32):
        ones = _popcount(b)
        bit = F.when(ones * 2 > n, F.lit(1 << b)).otherwise(F.lit(0))
        fingerprint = bit if fingerprint is None else fingerprint + bit
    return (
        fan_out(docs.filter(F.col(text_col).rlike(r"\S")))
        .withColumn("_simh_toks", tokens_col(F.lower(F.col(text_col))))
        .withColumn("_simh_hs", F.transform(F.col("_simh_toks"), lambda t: _md5_60(t)))
        .select("doc_id", fingerprint.cast("long").alias("simhash"))
    )


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text", k: int = 3,
                        threshold: float = 0.2, max_df: int = DEFAULT_MAX_DF,
                        fast_hash: bool = False) -> DataFrame:
    """Word-k-shingle Jaccard near-dup pairs: explode → hash-agg by shingle
    → JVM-side pair combinations → intersection counts; union = |A|+|B|−∩
    (no second pass, no self-join).

    Shingles with document frequency > ``max_df`` are dropped globally BEFORE
    the self-join (a shingle in n docs produces n²/2 join rows — one piece of
    common boilerplate would otherwise make the join quadratic in corpus
    size). Jaccard is computed over the FILTERED shingle sets on both sides
    of the ratio, so the result is exactly "Jaccard similarity ignoring
    corpus-hot shingles" — which is also the better dedup signal: boilerplate
    shared by everything carries no near-duplicate evidence. Inspect the drop
    with ``dropped_shingles`` (no silent caps)."""
    raw_sh = with_hashed_shingles(fan_out(docs), text_col, k, fast_hash).select(
        "doc_id", F.explode("_shh_arr").alias("shh")
    )
    # ONE shuffle of the shingle instances (window-count sizing + collect
    # on the same exchange): per shingle hash, the sorted multiset of
    # containing docs — same result as the previous count(*)-then-semi-join
    # formulation, which paid three shuffles over the exploded shingles and
    # re-evaluated the shingling per consumer (75% of the dedup-sweep
    # profile). Collection state on corpus-hot shingles is BOUNDED (see
    # _grouped_docs_bounded): the df > max_df boilerplate keys this filter
    # exists for are exactly the ones that would otherwise accumulate
    # million-element arrays before being discarded.
    #
    # NOTE (measured, round 6): the grouped doc lists feed TWO consumers
    # (per-doc sizes, pair intersections), and each consumer re-runs the
    # window sort + df-filter + collect_list pipeline above the ONE reused
    # instance exchange. A staging repartition(shh) after the aggregation is
    # elided by the planner (same-key, same partitioning), so the extra pass
    # cannot be removed that way; timing the duplicated pass at sf0.1 showed
    # it within run-to-run noise (the shuffle — the scale-limiting term — is
    # already shared via ReusedExchange, and the duplicated work is CPU over
    # post-filter compact lists).
    grouped = _grouped_docs_bounded(raw_sh, "shh", max_df)
    # per-doc surviving-shingle counts (compact post-shuffle longs, the
    # exchange below is reused for the pair branch)
    sizes = (
        grouped.select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    inter = (
        _doc_pairs_per_bucket(grouped.filter(F.col("df") >= 2))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    # Cheap integer-arithmetic pre-filter before the rounded ratio: round()
    # goes through BigDecimal/double-to-string per row (a measured 26-thread
    # dtoa hot spot with 1.1M candidate pairs feeding 258 survivors at
    # sf0.1), so it must only run on pairs that can possibly pass. The
    # margin keeps every pair whose ROUNDED ratio could still reach the
    # threshold (round-half-up at 4 decimals moves a value by < 5e-5); the
    # exact rounded filter below is unchanged, so results are bit-identical.
    prefilter = F.col("inter") >= (
        F.lit(threshold - 1e-4) * (F.col("n_a") + F.col("n_b") - F.col("inter"))
    )
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .filter(prefilter)
        .withColumn("jaccard", F.round(F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 4))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "inter", "jaccard")
    )


def dropped_shingles(docs: DataFrame, text_col: str = "text", k: int = 3,
                     max_df: int = DEFAULT_MAX_DF, fast_hash: bool = False) -> DataFrame:
    """Shingle hashes excluded from ``ngram_jaccard_pairs`` by the document-
    frequency cap — surfaced for lineage/metrics (no silent caps). One row per
    dropped shingle hash with its document frequency."""
    raw_sh = with_hashed_shingles(fan_out(docs), text_col, k, fast_hash).select(
        "doc_id", F.explode("_shh_arr").alias("shh")
    )
    return raw_sh.groupBy("shh").agg(F.count(F.lit(1)).alias("df")).filter(F.col("df") > max_df)


def embedding_near_dups(embeddings: DataFrame, threshold: float = 0.95,
                        bucket_dims: int = 4) -> DataFrame:
    """Embedding-cosine near-dup pairs, LSH-bucketed by the sign pattern of
    the first ``bucket_dims`` dimensions (deterministic axis projections).
    Exact within buckets; candidates across buckets are sacrificed — the
    recall/cost dial is ``bucket_dims`` (0 = brute force)."""
    v = F.col("v")
    # per-vector norm computed ONCE scan-side, not once per candidate pair
    e = (
        fan_out(embeddings).select("vec_id", _as_double(F.col("embedding")).alias("v"))
        .withColumn("bucket", sign_bucket_col(v, bucket_dims))
        .withColumn("nrm", _norm(v))
    )
    a = e.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"), "bucket")
    b = e.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 4))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
