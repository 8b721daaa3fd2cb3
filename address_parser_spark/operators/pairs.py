"""Mention↔mention string identity: the clustering signature, and the
blocking keys that evaluation reads.

``canon_col`` (the entity-canonical string) and ``digit_sig_col`` (the
must-match digit/format signature) are the one definition of the string
star: ``operators.cluster.cluster_mentions`` links every mention to the
smallest ``mid`` of its exact ``(canon, digit_sig)`` group, which is
``plans/er_oracle.py``'s string-edge rule.

Only exact string identity makes an edge. Looser rules were measured and
rejected: overlap-coefficient ≥1 merges subset token sets ("tan thuan …" ⊂
"thanh tan thuan …" = adjacent wards), and Jaro-Winkler on sorted strings
inflates on long shared prefixes — both crater precision at the F1≥0.99 bar.

``with_blocking_keys`` attaches ``canon``, ``digit_sig`` and ``keys``
(sorted-token, glued, initials and MinHash-LSH band keys — all JVM-side,
functions.columns); ``operators.eval.labeled_pairs`` builds its precision
surface from mention pairs that share a key. ``equality_edges`` (the same
star, restricted to groups with a blocking key of at most ``max_block``
members), ``dropped_blocks`` and ``DEFAULT_MAX_BLOCK`` are off the pipeline
path: the pipeline builds no keys and applies no cap. They stay only because
the benchmark's traced path (``perfbench/workloads.py``) imports them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from address_parser_spark.functions.columns import (
    canonical_tokens_col,
    char_ngrams_col,
    gram_hash_col,
    lsh_band_keys_from_hashes,
)

DEFAULT_MAX_BLOCK = 64


def canon_col():
    """The entity-canonical string: the sorted distinct tokens of
    ``entity_std``. CANON keeps the full token set (precision: generic words
    like "thanh"/"xa" are also real name syllables — "Thạnh Xá" must not
    collapse onto a sibling ward)."""
    return F.concat_ws(" ", F.array_sort(F.array_distinct(F.split(F.col("entity_std"), " "))))


def digit_sig_col():
    """Must-match signature for string edges: the resolved FORMAT tag (a
    post-merger new-format ward and its old-format twin share every
    component name — only is_new separates the entities) plus ROLE-TAGGED
    digits. Raw std digits are type-stripped, so "quận 4 phường 12" and
    "phường 4, quận 12" carry the same digit sequence and bridge two
    different entities; when the resolver assigned components, their
    per-role digits disambiguate. Fully unresolved mentions fall back to the
    std digit sequence (only comparable against other unresolved mentions —
    the coalesced role slots make the two shapes never collide). Digit
    tokens come from the FULL normalized mention in ORIGINAL order: "phuong 3
    quan 10" vs "phuong 10 quan 3" share a sorted token set but are
    different entities, and when street extraction leaves digits behind the
    entity_std can degenerate (to just the province)."""
    fmt = F.coalesce(F.col("format"), F.lit("?"))
    return F.when(
        F.col("district").isNotNull() | F.col("ward").isNotNull(),
        F.concat_ws(
            "|", fmt, F.lit("r"),
            F.coalesce(F.col("district"), F.lit("")),
            F.coalesce(F.col("ward"), F.lit("")),
        ),
    ).otherwise(
        F.concat_ws(
            "|", fmt, F.lit("u"),
            F.concat_ws(" ", F.filter(F.split(F.col("std"), " "), lambda t: t.rlike("^[0-9]+$"))),
        )
    )


def with_blocking_keys(mentions: DataFrame) -> DataFrame:
    """Attach ``canon`` (entity-canonical string), ``digit_sig`` and ``keys
    array<string>``, all derived from ``entity_std`` (``digit_sig`` also from
    the resolved components and ``std``).

    Four key families per mention, all JVM-side:
    - ``tok#``  sorted non-generic distinct tokens, joined — exact-ish key;
    - ``glue#`` the same tokens glued — catches token-splitting variants
      ("nhuanthanh" vs "nhuan thanh" after sorting);
    - ``init#`` token-initial skeleton — survives glue/split AND single-token
      drops; collision-prone, but oversized blocks are capped downstream;
    - ``b#``    MinHash-LSH band keys over char-4-grams of the canonical
      string (``lsh_band_keys_from_hashes`` defaults, 10 bands × 3 rows:
      ≥98% hit probability at Jaccard 0.7, ~25% at 0.3) — fuzzy recall for
      typos / partial token agreement.
    """
    # KEY tokens drop generic unit words (recall: typed vs untyped renderings
    # share keys); ``canon_col`` keeps the full token set. Keys may
    # over-group; edges must not.
    #
    # The token pipeline is staged through real columns: a Column is an
    # expression TREE, so composing the canonical-tokens (or ngram-hash)
    # expression directly into the 30 per-band minhash lambdas pastes and
    # re-evaluates it once PER BAND PER ROW (measured 46 s vs 0.5 s on 4.7k
    # rows for the tokens; ~180 CPU-s for the ngram generation at 11k rows).
    staged = (
        mentions
        .withColumn("_key_toks", canonical_tokens_col(F.col("entity_std")))
        .withColumn("_key_str", F.concat_ws(" ", F.col("_key_toks")))
        .withColumn("_key_ghash", gram_hash_col(char_ngrams_col(F.col("_key_str"))))
        .withColumn("canon", canon_col())
        .withColumn("digit_sig", digit_sig_col())
    )
    return (
        staged
        .withColumn(
            "keys",
            F.array_union(
                F.array(
                    F.concat(F.lit("tok#"), F.col("_key_str")),
                    F.concat(F.lit("glue#"), F.concat_ws("", F.col("_key_toks"))),
                    F.concat(
                        F.lit("init#"),
                        F.concat_ws("", F.transform(F.col("_key_toks"), lambda t: F.substring(t, 1, 1))),
                    ),
                ),
                lsh_band_keys_from_hashes(F.col("_key_ghash")),
            ),
        )
        .drop("_key_toks", "_key_str", "_key_ghash")
    )


def equality_edges(keyed: DataFrame, max_block: int = DEFAULT_MAX_BLOCK) -> DataFrame:
    """String-identity edges ``(src, dst)``: one star per exact
    ``(canon, digit_sig)`` group, every member pointing at the group's
    smallest ``mid``.

    Invariant: the blocking keys are a pure function of ``canon`` — both come
    from the sorted distinct tokens of ``entity_std``. So every member of a
    ``(canon, digit_sig)`` group carries the same keys, each with the same
    member count ``df``, and the group is either linked whole (some key has
    ``df <= max_block``) or not at all. A star therefore yields the same
    components as a clique inside every surviving block, with one edge per
    member instead of one per pair and per shared key.

    Groups are compared as strings by the ``groupBy``, never by a hash, so no
    hash collision can merge two entities. Per-group state is bounded: every
    surviving row sits in a block of at most ``max_block`` rows that holds the
    whole group, so ``collect_set`` never holds more than ``max_block`` ids.
    Hot keys are sized by a window count, which buffers one key at a time in
    a spillable row array, and dropped before any list exists.

    ``df`` counts key rows, a repeated ``mid`` included. The cap is the only
    difference from ``plans/er_oracle.py``, which links every identical
    ``(canon, digit_sig)`` group. A ``mid`` belongs to one group, so each
    edge is emitted once.
    """
    members = (
        keyed.select("mid", "canon", "digit_sig", F.explode("keys").alias("key"))
        .withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("key")))
        .filter(F.col("df") <= max_block)
        .groupBy("canon", "digit_sig")
        .agg(F.collect_set("mid").alias("ms"))
    )
    return (
        members.select(F.explode("ms").alias("src"), F.array_min("ms").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )


def dropped_blocks(keyed: DataFrame, max_block: int = DEFAULT_MAX_BLOCK) -> DataFrame:
    """Oversized buckets excluded from pairing — surfaced for lineage metrics
    (no silent caps)."""
    exploded = keyed.select("mid", F.explode("keys").alias("key")).distinct()
    return (
        exploded.groupBy("key")
        .agg(F.count(F.lit(1)).alias("block_n"))
        .filter(F.col("block_n") > max_block)
    )
