"""SparkSession factory with scale-appropriate defaults, and the one way
driver-built rows become a DataFrame (``local_frame``).

One place to encode the engine's execution posture: AQE on (runtime skew-join
splitting + partition coalescing), Arrow exchange for pandas UDFs, bounded
shuffle partitions for local runs. ``get_spark`` layers a session's confs, a
later layer winning on each key: (1) the engine's values: ``DEFAULT_CONFS``,
shuffle partitions derived from the master and, on a local master, the
worker daemon below; (2) what ``spark-submit`` started the JVM with: its
``--master``, ``--conf`` values and spark-defaults; (3) the caller's
``extra_confs``. The master is the ``master`` argument, else the submitted
one, else ``local[SPARK_GRAFT_CPUS]``. ``spark.sql.optimizer.excludedRules``
and ``spark.executorEnv.PYTHONPATH`` keep every layer's entries, the winning
layer's first.

On a local master a new session also runs two one-time warm-ups: it spawns
the Python worker pool, and it loads the Catalyst expression classes and
ICU's case-mapping tables from one thread. The first real job of a process
then pays neither.

A local session's Python workers fork from ``address_parser_spark._daemon``
(``spark.python.daemon.module``) rather than from ``pyspark.daemon``, unless
a daemon module is named at launch or by the caller. PySpark calls
``importlib.invalidate_caches()`` before every task, and on CPython 3.11
that re-reads every zip archive on the worker's path, ``pyspark.zip``
included; the engine's daemon skips the re-read of an archive that has not
changed. The daemon starts before any task ships ``--py-files``, so the
engine's own root (its directory or zip) goes on the workers' PYTHONPATH.
"""

from __future__ import annotations

import os
import zipfile

from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # AQE sizes post-shuffle partitions by BYTES; expression-bound stages are
    # tiny in bytes but heavy in CPU — e.g. the pair combinations that
    # operators.dedup._doc_pairs_per_bucket expands from compact doc-id
    # lists after the shingle/band exchange. The default 1m floor can
    # coalesce such a stage into a task or two on one core while the rest
    # idle. A 64k floor keeps CPU-heavy small-byte stages wide while still
    # merging true slivers.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # InferFiltersFromGenerate turns every explode(e) into a pre-filter
    # `size(e) > 0 AND isnotnull(e)`; predicate pushdown then substitutes the
    # alias chain, so when e is a computed column the WHOLE upstream
    # expression pipeline is re-evaluated a second time in a Filter at the
    # scan — below any repartition, i.e. at the scan's own (often single-
    # split) parallelism. Measured on minhash_signatures at sf0.1: 33 s with
    # the inferred filter vs 3.6 s without, when it exploded a staged
    # signature column. The rule only fires when the explode's input is an
    # attribute: the signature now explodes an inline sequence(...) and is
    # safe either way, but ngram_jaccard_pairs and dropped_shingles explode
    # the staged _shh_arr column, and with the rule on their optimized plans
    # tokenize 27 and 9 times instead of 3 and 1 (sf0.001, optimizedPlan
    # split( counts). Every explode in this engine feeds on computed
    # arrays, never on stored arrays with many empties — the rule's win
    # case — so it is excluded engine-wide.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.driver.memory": "16g",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}


def _master_cores(master: str) -> int | None:
    if master.startswith("local["):
        spec = master[len("local["):-1].split(",")[0]  # local[N,F]: N cores, F retries
        if spec == "*":
            return os.cpu_count() or 8
        try:
            return int(spec)
        except ValueError:
            return None
    return None


# Sessions (by application id) already taken through the one-time runtime
# warm-ups below — they run once per JVM/worker pool, not per get_spark call.
_WARMED: set[str] = set()


def _warm_python_workers(spark: SparkSession) -> None:
    """Spawn the Python worker pool (and its pandas/pyarrow imports) before
    the first real Python-UDF stage needs it.

    With ``spark.python.worker.reuse`` (default) the daemon forks one worker
    per core and each worker imports pandas + pyarrow on its first Arrow
    batch; left lazy, that spawn+import storm lands inside whichever query
    first crosses the Python boundary (measured: media_decode 2.2 s first
    run vs 0.55 s warm at local[32]). One ``mapInPandas`` no-op over
    ``defaultParallelism`` single-row partitions forks every worker and pulls
    the imports once, at session creation. Parallelism-derived, so the same
    code warms a 4-core test session and a 32-core bench session.

    Re-measured with the engine's daemon (4 vCPU, local[4], perfbench
    seeds 11-13 on ``er_durable``, medians): without this warm-up
    ``setup_s`` falls 7.04 → 6.03 s but ``cold_s`` rises 2.79 → 3.81 s, so
    it stays. Importing pandas and pyarrow in the daemon before it forks
    instead moved neither (``setup_s`` 7.15 s, ``cold_s`` 2.80 s) and is
    not done."""
    dp = max(1, spark.sparkContext.defaultParallelism)

    def _noop_batches(batches):
        for batch in batches:
            yield batch

    spark.range(dp, numPartitions=dp).mapInPandas(
        _noop_batches, schema="id long"
    ).write.format("noop").mode("overwrite").save()


def _warm_expression_classes(spark: SparkSession) -> None:
    """Preload the Catalyst expression/runtime classes the engine's operator
    vocabulary uses (split/lower/filter/transform/sequence/slice/xxhash64/
    md5-conv/aggregate/array_distinct/array_min/round/explode/window/
    row_number/collect_list/array_sort) with ONE two-row query at session
    creation. Thread dumps of cold shuffle-heavy chains showed 20-30
    executor threads serialized on BuiltinClassLoader.loadClass /
    class-init locks while a 32-task first stage faulted those classes in
    concurrently (measured: ~0.8 s off the cold n-gram Jaccard chain).

    The literal is computed (not foldable) and non-ASCII, so its
    ``lower()`` also loads ICU's full case-mapping tables from one thread.
    Spark 4 routes ``lower()``/``upper()`` through CollationSupport's ICU
    path, whose tables load in a static initializer on first use; when
    that first use is a 32-task stage, every task thread parks on
    UCharacter's class-init lock (measured: the first ``lower(text)`` query
    of a session took 9-18 s at local[32], 0.3 s warm).
    Purely class loading — two literal rows, nothing data-dependent."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    df = (
        spark.range(2)
        .select(F.concat(F.lit("Đà Nẵng a b c d "), F.col("id").cast("string")).alias("t"))
        .withColumn("toks", F.filter(F.split(F.lower("t"), r"\s+"), lambda x: x != ""))
        .withColumn(
            "sh",
            F.transform(
                F.sequence(F.lit(1), F.size("toks")),
                lambda i: F.xxhash64(F.slice("toks", i, 2)),
            ),
        )
        .withColumn("md", F.conv(F.substring(F.md5("t"), 1, 15), 16, 10).cast("long"))
        .withColumn(
            "agg",
            F.aggregate(
                "sh",
                F.lit(0),
                lambda a, x: a + F.shiftright(x, 1).bitwiseAND(F.lit(1)).cast("int"),
            ),
        )
        .withColumn("d", F.array_distinct("sh"))
        .withColumn("rr", F.round(F.col("md") / F.greatest(F.col("agg") + 1, F.lit(1)), 4))
        .select(F.explode("d").alias("h"), "agg", "rr")
    )
    (
        df.withColumn("rn", F.row_number().over(Window.partitionBy("agg").orderBy("h")))
        .groupBy("h")
        .agg(F.array_sort(F.collect_list("agg")).alias("xs"), F.count(F.lit(1)).alias("n"))
        .write.format("noop").mode("overwrite").save()
    )


def _warm_runtime(spark: SparkSession) -> None:
    """Local masters only: on a long-lived cluster the one-time inits
    amortize over hours of work; the warm-ups exist because a local
    benchmark of 1-second queries charges them to the first unlucky query.

    Each of the two is kept because deleting it slows the first real job
    (measured with and without, at local[4]). While any warm-up runs, the
    session's first-job overhead (2.5-5 s at local[4], whatever the job) is
    paid here rather than by that first job."""
    if not spark.sparkContext.master.startswith("local"):
        return
    key = spark.sparkContext.applicationId
    if key in _WARMED:
        return
    _warm_python_workers(spark)
    _warm_expression_classes(spark)
    _WARMED.add(key)


_DAEMON = "spark.python.daemon.module"
# List-valued keys keep every layer's entries, the winning layer's first: a
# submitted or caller rule list must not drop the load-bearing
# InferFiltersFromGenerate exclusion, nor a PYTHONPATH the daemon's root.
_LIST_KEYS = {"spark.sql.optimizer.excludedRules": ",",
              "spark.executorEnv.PYTHONPATH": os.pathsep}


def _launch_confs() -> dict[str, str]:
    """What ``spark-submit`` started the JVM with. Nothing outside it: there the
    JVM's properties hold the builder confs of this process's first session."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return {}
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized()
    return dict(SparkConf().getAll())


def _layer_confs(master: str | None, launch: dict[str, str],
                 caller: dict[str, str]) -> dict[str, str]:
    """The session's confs, ``spark.master`` included (module docstring)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    master = master or caller.get("spark.master") or launch.get("spark.master") or f"local[{cpus}]"
    # Shuffle partitions = TWO task waves per core set (2×cores, floor 32).
    # Measured on the 150k-page pipeline (round-4 campaign, pinned cores,
    # quiet box — BASELINE.md "Measured scaling"):
    #   32 cores: 32 parts (1 wave) 638 p/s, 64 parts (2 waves) 1358 p/s,
    #             128 parts (4 waves) 579 p/s
    #   16 cores: 32 parts (2 waves) 873 p/s, 64 parts (4 waves) 689 p/s
    #    8 cores: 16 parts (2 waves) 423 p/s, 32 parts (floor)    461 p/s
    # One wave has zero straggler slack and doubles per-task execution
    # memory (spill/GC on the JVM-side shuffle chain — the r2/r3 "16→32
    # collapse"); four waves re-pay per-task overhead on every small-byte
    # CPU-heavy shuffle. On a real cluster the spark-submit conf wins; the
    # same rule applies there: two waves per total executor-core count.
    partitions = max(2 * (_master_cores(master) or 0), 32)
    engine = {**DEFAULT_CONFS, "spark.sql.shuffle.partitions": str(partitions)}
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))  # checkout dir or zip
    if (master.startswith("local") and _DAEMON not in launch and _DAEMON not in caller
            and (os.path.isdir(root) or zipfile.is_zipfile(root))):
        engine[_DAEMON] = "address_parser_spark._daemon"
        engine["spark.executorEnv.PYTHONPATH"] = root
    layers = (engine, launch, caller)
    confs = {key: value for layer in layers for key, value in layer.items()}
    confs["spark.master"] = master
    for key, sep in _LIST_KEYS.items():
        entries = [e.strip() for layer in reversed(layers) for e in layer.get(key, "").split(sep)]
        if any(entries):
            confs[key] = sep.join(dict.fromkeys(filter(None, entries)))
    return confs


def get_spark(app_name: str = "address_parser_spark", master: str | None = None,
              extra_confs: dict[str, str] | None = None) -> SparkSession:
    """A session whose confs are layered as the module docstring says;
    ``master`` (or ``extra_confs["spark.master"]``) defaults to the submitted
    one, else ``local[SPARK_GRAFT_CPUS]``. The builder gets only the confs
    that differ from their submitted value."""
    launch = _launch_confs()
    builder = SparkSession.builder.appName(app_name)
    for key, value in _layer_confs(master, launch, extra_confs or {}).items():
        if launch.get(key) != value:
            builder = builder.config(key, value)
    spark = builder.getOrCreate()
    _warm_runtime(spark)
    return spark


def local_frame(spark: SparkSession, rows: Iterable[Sequence],
                schema: T.StructType) -> DataFrame:
    """Driver rows (one sequence per row, in ``schema`` field order) → a
    DataFrame built from one Arrow table, so it plans as ``LocalTableScan``
    and no action on it starts a Python worker.

    A list-of-tuples ``createDataFrame`` plans a pickled Python RDD
    (``Scan ExistingRDD``) instead, and every action on it pays
    defaultParallelism Python-worker round trips (measured 0.4–1.4 s per
    action at local[32]). The Arrow-table path needs no session conf and has
    no silent non-Arrow fallback; an empty ``rows`` gives an empty frame."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    columns = [list(c) for c in zip(*rows)] or [[] for _ in schema.fields]
    table = pa.Table.from_arrays(columns, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)
