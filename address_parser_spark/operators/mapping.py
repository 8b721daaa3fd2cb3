"""Old→new ward-code mapping as a relational reference (reference J4).

The reference picks a ward's preferred mapping row per record
(``map_old_ward_to_new`` / ``map_old_address_ids_to_new``;
fuzz/inexus_parser.py:1355-1423). ``map_old_to_new`` re-expresses that
relationally: the mapping table is a broadcast dimension, and "preferred
row" semantics (strict province/district agreement, else first) become a
``row_number`` over a match-rank ordering. The pipeline does not run it:
``plans.pipeline.ward_map_frame`` builds the same table on the driver, and
the tests pin it against ``map_old_to_new`` over ``mappings_to_spark``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from address_parser_spark.session import local_frame

MAPPING_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("old_ward_code", T.StringType(), False),
        T.StructField("old_ward_name", T.StringType(), True),
        T.StructField("old_district_name", T.StringType(), True),
        T.StructField("old_province_name", T.StringType(), True),
        T.StructField("new_ward_code", T.StringType(), False),
        T.StructField("new_ward_name", T.StringType(), True),
        T.StructField("new_province_name", T.StringType(), True),
        T.StructField("created_at", T.StringType(), True),
        T.StructField("updated_at", T.StringType(), True),
    ]
)


def mappings_to_spark(spark, ward_mappings: list[dict]) -> DataFrame:
    """The catalog's ward mappings as an Arrow-backed local frame:
    ``map_old_to_new``'s mapping table in the tests that pin
    ``plans.pipeline.ward_map_frame``."""
    names = MAPPING_SCHEMA.fieldNames()
    return local_frame(spark, ([m.get(f) for f in names] for m in ward_mappings), MAPPING_SCHEMA)


def map_old_to_new(
    records: DataFrame,
    mappings: DataFrame,
    ward_code_col: str = "ward_code",
    province_name_col: str | None = "province",
    district_name_col: str | None = "district",
) -> DataFrame:
    """Attach the preferred new-format ward mapping to old-format records.

    Preference (reference ``map_old_address_ids_to_new`` :1396-1423): a
    mapping row agreeing with the record's province AND district names beats
    province-only, beats any; within a rank the lowest mapping id wins
    (deterministic stand-in for the reference's insertion-order 'first').

    This is the reference that ``plans.pipeline.ward_map_frame`` is pinned
    against (``test_ward_map_frame_matches_map_old_to_new``,
    ``test_attach_new_ward_codes_on_a_hand_gazetteer``). The pipeline does
    not run it: ``ward_map_frame`` applies the same preference per old ward
    code on the driver.
    """
    m = F.broadcast(mappings.select(
        F.col("old_ward_code"),
        F.col("old_district_name"), F.col("old_province_name"),
        F.col("new_ward_code"), F.col("new_ward_name"), F.col("new_province_name"),
        F.col("id").alias("mapping_id"),
    ))
    # One preferred mapping row PER INPUT ROW: the window partitions on a
    # unique row id, not the record columns (full-column partitioning silently
    # merged duplicate records and shuffled on a full-row-wide key).
    tagged = records.withColumn("__row_id", F.monotonically_increasing_id())
    joined = tagged.join(m, tagged[ward_code_col] == m["old_ward_code"], "left")

    def _name_match(rec_col: str | None, map_col: str) -> F.Column:
        if rec_col is None:
            return F.lit(0)
        return (
            F.col(map_col).isNotNull()
            & F.col(rec_col).isNotNull()
            & F.col(map_col).contains(F.col(rec_col))
        ).cast("int")

    rank = (
        _name_match(district_name_col, "old_district_name") * 2
        + _name_match(province_name_col, "old_province_name")
    )
    w = Window.partitionBy("__row_id").orderBy(
        F.desc("match_rank"), F.asc("mapping_id")
    )
    return (
        joined.withColumn("match_rank", rank)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "match_rank", "__row_id",
              "old_ward_code", "old_district_name", "old_province_name")
    )
