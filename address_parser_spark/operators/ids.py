"""ID-surface lookups — the reference's code→component APIs, relationally.

The reference exposes per-call dict lookups over the catalog:
``get_address_components_from_ids`` (fuzz/inexus_parser.py:1579) attaches
names + a formatted full address to (province_id, district_id, ward_id), and
``map_address_ids`` (:1613) maps a ward across the old↔new administrative
reform and resolves BOTH sides' components. Re-expressed Spark-first: the
catalog levels are broadcast dimensions; every lookup is a broadcast left
join on the code column, so the operators run over arbitrarily large fact
tables with no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from address_parser_spark.gazetteer.synth import Gazetteer
from address_parser_spark.session import local_frame

_DIM_SCHEMA = T.StructType(
    [
        T.StructField("code", T.StringType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("full_name", T.StringType(), True),
    ]
)


def _dim(spark: SparkSession, records: list[dict], prefix: str) -> DataFrame:
    rows = [(str(r.get("code")), r.get("name"), r.get("full_name")) for r in records]
    df = local_frame(spark, rows, _DIM_SCHEMA)
    return F.broadcast(
        df.select(
            F.col("code").alias(f"{prefix}_code_key"),
            F.col("name").alias(f"{prefix}_name"),
            F.col("full_name").alias(f"{prefix}_full_name"),
        )
    )


def components_from_codes(
    records: DataFrame,
    gaz: Gazetteer,
    province_code_col: str = "province_code",
    district_code_col: str = "district_code",
    ward_code_col: str = "ward_code",
    is_new_col: str = "is_new",
) -> DataFrame:
    """Attach component names + the formatted ``full_address`` to code columns
    (reference ``get_address_components_from_ids``, inexus_parser.py:1579).

    Per-row format dispatch: old-format rows resolve against the 3-level
    catalog, new-format rows against the 2-level one — six broadcast left
    joins total, names picked by the row's ``is_new`` flag."""
    spark = records.sparkSession
    dims = {
        "op": _dim(spark, gaz.old_provinces, "op"),
        "od": _dim(spark, gaz.old_districts, "od"),
        "ow": _dim(spark, gaz.old_wards, "ow"),
        "np": _dim(spark, gaz.new_provinces, "np"),
        "nw": _dim(spark, gaz.new_wards, "nw"),
    }
    out = records
    for prefix, code_col in (
        ("op", province_code_col), ("od", district_code_col), ("ow", ward_code_col),
        ("np", province_code_col), ("nw", ward_code_col),
    ):
        out = out.join(
            dims[prefix], out[code_col] == dims[prefix][f"{prefix}_code_key"], "left"
        ).drop(f"{prefix}_code_key")

    is_new = F.col(is_new_col)
    province_name = F.when(is_new, F.col("np_name")).otherwise(F.col("op_name"))
    province_full = F.when(is_new, F.col("np_full_name")).otherwise(F.col("op_full_name"))
    district_name = F.when(is_new, F.lit(None)).otherwise(F.col("od_name"))
    district_full = F.when(is_new, F.lit(None)).otherwise(F.col("od_full_name"))
    ward_name = F.when(is_new, F.col("nw_name")).otherwise(F.col("ow_name"))
    ward_full = F.when(is_new, F.col("nw_full_name")).otherwise(F.col("ow_full_name"))

    parts = F.array(ward_full, district_full, province_full)
    full_address = F.array_join(F.filter(parts, lambda x: x.isNotNull()), ", ")

    return (
        out
        .withColumn("province_name", province_name)
        .withColumn("district_name", district_name)
        .withColumn("ward_name", ward_name)
        .withColumn("full_address", full_address)
        .drop(*[f"{p}_{c}" for p in ("op", "od", "ow", "np", "nw")
                for c in ("name", "full_name")])
    )


def map_address_codes(
    records: DataFrame,
    gaz: Gazetteer,
    to_new: bool = True,
    ward_code_col: str = "ward_code",
    province_name_col: str | None = "province_name",
    district_name_col: str | None = "district_name",
) -> DataFrame:
    """Reference ``map_address_ids`` (:1613) as a dataflow: attach the
    preferred cross-reform mapping row (operators.mapping preference
    semantics) plus the TARGET side's component names/full address — one
    broadcast mapping join + broadcast dimension joins."""
    from address_parser_spark.operators.mapping import (
        map_new_to_old,
        map_old_to_new,
        mappings_to_spark,
    )

    spark = records.sparkSession
    mappings = mappings_to_spark(spark, gaz.ward_mappings)
    if to_new:
        mapped = map_old_to_new(
            records, mappings,
            ward_code_col=ward_code_col,
            province_name_col=province_name_col,
            district_name_col=district_name_col,
        )
        target = _dim(spark, gaz.new_wards, "tw")
        out = mapped.join(
            target, mapped["new_ward_code"] == target["tw_code_key"], "left"
        ).drop("tw_code_key")
        return (
            out
            .withColumn("target_ward_name", F.col("tw_name"))
            .withColumn(
                "target_full_address",
                F.concat_ws(", ", F.col("tw_full_name"), F.col("new_province_name")),
            )
            .drop("tw_name", "tw_full_name")
        )
    mapped = map_new_to_old(
        records, mappings,
        ward_code_col=ward_code_col,
        province_name_col=province_name_col,
    )
    target = _dim(spark, gaz.old_wards, "tw")
    out = mapped.join(
        target, mapped["old_ward_code"] == target["tw_code_key"], "left"
    ).drop("tw_code_key")
    return (
        out
        .withColumn("target_ward_name", F.col("tw_name"))
        .withColumn(
            "target_full_address",
            F.concat_ws(
                ", ", F.col("tw_full_name"),
                F.col("old_district_name"), F.col("old_province_name"),
            ),
        )
        .drop("tw_name", "tw_full_name")
    )
