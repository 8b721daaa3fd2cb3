"""The gazetteer scan of the reference (SURVEY §2.1, S1 ``_read_json_file``):
``read_gazetteer_dir`` reads a reference-shaped catalog directory with one
schema'd ``spark.read.json`` per file, and ``gazetteer_from_dir`` collects it
into the driver-side ``Gazetteer`` the CLI runs on.

The reference's other scans and sinks (JSON-array streaming, JSONL, name
lists) have no caller in the engine; Spark's own ``spark.read.json`` /
``DataFrame.write.json`` cover them directly. ``multiLine=true`` reads
whole-array files (non-splittable — the same trade-off as the reference's
"memory" mode).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

ADMIN_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("code", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("name_en", T.StringType()),
        T.StructField("full_name", T.StringType()),
        T.StructField("full_name_en", T.StringType()),
        T.StructField("code_name", T.StringType()),
        T.StructField("province_code", T.StringType()),
        T.StructField("district_code", T.StringType()),
        T.StructField("administrative_unit_id", T.IntegerType()),
    ]
)

GAZETTEER_FILES = {
    "old_provinces": "old_provinces.json",
    "old_districts": "old_districts.json",
    "old_wards": "old_wards.json",
    "new_provinces": "provinces.json",
    "new_wards": "wards.json",
}


def read_gazetteer_dir(spark: SparkSession, data_dir: str) -> dict[str, DataFrame]:
    """S1: load a reference-shaped gazetteer directory (``fuzz/data`` layout)
    into schema'd DataFrames keyed by logical table name."""
    out: dict[str, DataFrame] = {}
    for table, filename in GAZETTEER_FILES.items():
        out[table] = (
            spark.read.schema(ADMIN_RECORD_SCHEMA)
            .option("multiLine", True)
            .json(f"{data_dir}/{filename}")
        )
    return out


def gazetteer_from_dir(spark: SparkSession, data_dir: str):
    """S1 end-to-end: reference-shaped gazetteer directory → in-memory
    ``Gazetteer`` catalog (the dimension is ≤ tens of thousands of rows —
    collected once on the driver, then broadcast by the pipeline's node/index
    builders). ``ward_mappings.json`` is optional. Every file goes through
    ``spark.read``, so ``data_dir`` may be any path or URI Spark reads
    (``file://``, ``hdfs://``, ``s3a://``); only Spark's ``PATH_NOT_FOUND``
    means "no mappings"."""
    from address_parser_spark.gazetteer.synth import Gazetteer

    dfs = read_gazetteer_dir(spark, data_dir)
    gaz = Gazetteer(
        old_provinces=[r.asDict() for r in dfs["old_provinces"].collect()],
        old_districts=[r.asDict() for r in dfs["old_districts"].collect()],
        old_wards=[r.asDict() for r in dfs["old_wards"].collect()],
        new_provinces=[r.asDict() for r in dfs["new_provinces"].collect()],
        new_wards=[r.asDict() for r in dfs["new_wards"].collect()],
    )
    mapping_path = f"{data_dir}/ward_mappings.json"
    try:
        rows = spark.read.option("multiLine", True).json(mapping_path).collect()
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        rows = []
    gaz.ward_mappings = [r.asDict() for r in rows]
    return gaz
