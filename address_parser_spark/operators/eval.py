"""Pairwise-F1 evaluation of entity clusters against gold labels.

The BASELINE.json gate: over labeled mention pairs *at a shared blocking key*,
label = "same gold entity" (generator ground truth == reference semantics:
two mentions match iff they resolve to the same canonical (province, district,
ward) triple, SURVEY §2.3 J7); prediction = "same cluster_id". F1 = 2PR/(P+R).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def gold_entity_col() -> F.Column:
    return F.concat_ws(
        "|",
        F.coalesce("province_code", F.lit("")),
        F.coalesce("district_code", F.lit("")),
        F.coalesce("ward_code", F.lit("")),
        F.col("is_new").cast("string"),
    )


def labeled_pairs(
    keyed_with_labels: DataFrame,
    max_block: int = 1 << 20,
    max_gold_entity: int = 256,
) -> DataFrame:
    """Labeled + predicted mention pairs for the F1 gate.

    Two pair surfaces, unioned and deduped:

    - **key-conditioned pairs** (mentions sharing ≥1 blocking key) — the
      precision surface: spurious same-cluster decisions can only arise where
      candidate pairs exist;
    - **gold same-entity pairs** (self-join on gold_entity) — the recall
      surface. A gold pair whose mentions land in no common block would
      otherwise be invisible to ``fn``, which is exactly the failure mode the
      blocking stage introduces; recall must be charged for it. The self-join
      is quadratic per entity, so entities larger than ``max_gold_entity``
      mentions are REPRESENTED BY a deterministic per-entity sample (smallest
      ``max_gold_entity`` mids): at web scale one hot entity ("ha noi") has
      10^7 mentions, and its sampled pairs estimate the same recall the full
      10^14-pair surface would. The sample is deterministic: each entity
      keeps its ``max_gold_entity`` smallest mids.

    Input columns: mid, keys (array), gold_entity, cluster_id.
    Output: mid_a, mid_b, is_match (gold), same_cluster (predicted).
    """
    e = keyed_with_labels.select(
        "mid", F.explode("keys").alias("key"), "gold_entity", "cluster_id"
    ).distinct()
    sizes = e.groupBy("key").agg(F.count(F.lit(1)).alias("n"))
    e = e.join(sizes.filter((F.col("n") >= 2) & (F.col("n") <= max_block)).select("key"), "key")

    a = e.select("key", F.col("mid").alias("mid_a"), F.col("gold_entity").alias("g_a"), F.col("cluster_id").alias("c_a"))
    b = e.select("key", F.col("mid").alias("mid_b"), F.col("gold_entity").alias("g_b"), F.col("cluster_id").alias("c_b"))
    key_pairs = (
        a.join(b, "key")
        .filter(F.col("mid_a") < F.col("mid_b"))
        .select(
            "mid_a", "mid_b",
            (F.col("g_a") == F.col("g_b")).alias("is_match"),
            (F.col("c_a") == F.col("c_b")).alias("same_cluster"),
        )
    )

    from pyspark.sql.window import Window

    m = (
        keyed_with_labels.select("mid", "gold_entity", "cluster_id").distinct()
        .withColumn(
            "_rk",
            F.row_number().over(Window.partitionBy("gold_entity").orderBy("mid")),
        )
        .filter(F.col("_rk") <= max_gold_entity)
        .drop("_rk")
    )
    ga = m.select(F.col("mid").alias("mid_a"), "gold_entity", F.col("cluster_id").alias("c_a"))
    gb = m.select(F.col("mid").alias("mid_b"), "gold_entity", F.col("cluster_id").alias("c_b"))
    gold_pairs = (
        ga.join(gb, "gold_entity")
        .filter(F.col("mid_a") < F.col("mid_b"))
        .select(
            "mid_a", "mid_b",
            F.lit(True).alias("is_match"),
            (F.col("c_a") == F.col("c_b")).alias("same_cluster"),
        )
    )

    return (
        key_pairs.unionByName(gold_pairs)
        .groupBy("mid_a", "mid_b")
        .agg(
            F.max("is_match").alias("is_match"),
            F.first("same_cluster").alias("same_cluster"),
        )
    )


def adapt_result_cols(df: DataFrame) -> DataFrame:
    """Reference ``_adapt_new_result`` (tests/eval_parsers.py:42-75) as pure
    column logic: parser output columns (province/district/ward/
    street_address/format/is_new) → the baseline comparison shape
    (ctryname, ctrysubdivname, ctrysubsubdivname array), lower/trimmed
    (``_normalize_value``, :9-21). New-format rows map (province, ward,
    [street]); old-format rows map (province, district, [street, ward])."""

    def norm(col: str) -> F.Column:
        return F.coalesce(F.trim(F.lower(F.col(col))), F.lit(""))

    is_new = (F.col("format") == "new") | (F.col("is_new") == True)  # noqa: E712
    street, ward, district = norm("street_address"), norm("ward"), norm("district")
    non_empty = lambda c: F.filter(c, lambda x: x != "")  # noqa: E731
    return df.withColumns(
        {
            "ctryname": norm("province"),
            "ctrysubdivname": F.when(is_new, ward).otherwise(district),
            "ctrysubsubdivname": F.when(is_new, non_empty(F.array(street)))
            .otherwise(non_empty(F.array(street, ward))),
        }
    )


def differential_eval(
    parsed: DataFrame, baseline: DataFrame, key: str = "address"
) -> DataFrame:
    """Reference ``evaluate`` (tests/eval_parsers.py:76-114) relationally:
    per-row field-mismatch flags of an adapted parse against an external
    baseline already in the comparison shape. Returns one row per key with
    ``diff_*`` booleans and both sides' values — ``diff_counts`` aggregates
    it; filter ``any_diff`` for the mismatch dump.

    FULL-outer joined on the key: the reference charges every dataset row,
    so an address the parser failed to emit counts as a full mismatch
    (parse side normalized to ''/empty array, ``missing_parse`` flags it),
    and a parse row whose key has no baseline analog (key-normalization
    drift, phantom emissions) is flagged ``extra_parse`` instead of
    silently vanishing — ``diff_counts`` reports it separately while
    charging per-field mismatches over baseline rows only (the reference's
    denominator)."""
    p = adapt_result_cols(parsed).select(
        key,
        F.col("ctryname").alias("new_ctryname"),
        F.col("ctrysubdivname").alias("new_ctrysubdivname"),
        F.col("ctrysubsubdivname").alias("new_ctrysubsubdivname"),
    )
    b = baseline.select(
        key,
        F.coalesce(F.trim(F.lower(F.col("ctryname"))), F.lit("")).alias("base_ctryname"),
        F.coalesce(F.trim(F.lower(F.col("ctrysubdivname"))), F.lit("")).alias("base_ctrysubdivname"),
        F.coalesce(
            F.transform(F.col("ctrysubsubdivname"), lambda x: F.trim(F.lower(x))),
            F.array().cast("array<string>"),
        ).alias("base_ctrysubsubdivname"),
    )
    joined = (
        b.join(p, key, "full")
        .withColumn("extra_parse", F.col("base_ctryname").isNull())
        .withColumn(
            "missing_parse", F.col("new_ctryname").isNull() & ~F.col("extra_parse")
        )
        .withColumns(
            {
                "new_ctryname": F.coalesce("new_ctryname", F.lit("")),
                "new_ctrysubdivname": F.coalesce("new_ctrysubdivname", F.lit("")),
                "new_ctrysubsubdivname": F.coalesce(
                    "new_ctrysubsubdivname", F.array().cast("array<string>")
                ),
                "base_ctryname": F.coalesce("base_ctryname", F.lit("")),
                "base_ctrysubdivname": F.coalesce("base_ctrysubdivname", F.lit("")),
                "base_ctrysubsubdivname": F.coalesce(
                    "base_ctrysubsubdivname", F.array().cast("array<string>")
                ),
            }
        )
    )
    diffs = {
        "diff_ctryname": F.col("new_ctryname") != F.col("base_ctryname"),
        "diff_ctrysubdivname": F.col("new_ctrysubdivname") != F.col("base_ctrysubdivname"),
        "diff_ctrysubsubdivname": F.col("new_ctrysubsubdivname") != F.col("base_ctrysubsubdivname"),
    }
    out = joined.withColumns(diffs)
    # missing_parse / extra_parse are included explicitly: a one-sided row
    # whose compared fields are all empty matches the coalesced empty other
    # side, so the field-diff flags alone would silently drop it from the
    # mismatch dump even though diff_counts charges it.
    return out.withColumn(
        "any_diff",
        F.col("diff_ctryname")
        | F.col("diff_ctrysubdivname")
        | F.col("diff_ctrysubsubdivname")
        | F.col("missing_parse")
        | F.col("extra_parse"),
    )


def diff_counts(diffed: DataFrame) -> dict[str, int]:
    """Aggregate of ``differential_eval``: total rows + per-field mismatch
    counts (the reference's ``summary`` Counter). ``total`` and the field
    counts charge baseline rows only (the reference's denominator);
    parse-only keys are reported as ``extra_parse``."""
    charged = ~F.col("extra_parse")
    row = diffed.select(
        F.sum(charged.cast("long")).alias("total"),
        F.sum((F.col("diff_ctryname") & charged).cast("long")).alias("ctryname"),
        F.sum((F.col("diff_ctrysubdivname") & charged).cast("long")).alias("ctrysubdivname"),
        F.sum((F.col("diff_ctrysubsubdivname") & charged).cast("long")).alias("ctrysubsubdivname"),
        F.sum(F.col("missing_parse").cast("long")).alias("missing_parse"),
        F.sum(F.col("extra_parse").cast("long")).alias("extra_parse"),
    ).collect()[0]
    return {
        "total": int(row["total"] or 0),
        "ctryname": int(row["ctryname"] or 0),
        "ctrysubdivname": int(row["ctrysubdivname"] or 0),
        "ctrysubsubdivname": int(row["ctrysubsubdivname"] or 0),
        "missing_parse": int(row["missing_parse"] or 0),
        "extra_parse": int(row["extra_parse"] or 0),
    }


def pairwise_f1(pairs: DataFrame) -> dict[str, float]:
    row = pairs.select(
        F.sum((F.col("is_match") & F.col("same_cluster")).cast("long")).alias("tp"),
        F.sum((~F.col("is_match") & F.col("same_cluster")).cast("long")).alias("fp"),
        F.sum((F.col("is_match") & ~F.col("same_cluster")).cast("long")).alias("fn"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    tp, fp, fn = int(row["tp"] or 0), int(row["fp"] or 0), int(row["fn"] or 0)
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "tp": tp, "fp": fp, "fn": fn, "n_pairs": int(row["n"]),
        "precision": precision, "recall": recall, "f1": f1,
    }
