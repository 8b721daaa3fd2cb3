"""spark-submit entry point for the entity-resolution pipeline.

Packaging + launch (the ``--py-files`` zip ships the library to executors —
on a real cluster the driver-side package alone is not enough):

    cd <repo>
    zip -qr address_parser_spark.zip address_parser_spark
    spark-submit --master yarn --conf spark.sql.shuffle.partitions=400 \
        --py-files address_parser_spark.zip jobs/run_pipeline.py \
        --pages /data/pages.parquet --output /data/clusters.parquet \
        --store /data/er_store --gazetteer /data/fuzz_data

The session runs on the submitted master and keeps every submitted
``--conf``: they beat the engine's defaults (``session.DEFAULT_CONFS``);
this script's own ``--master`` overrides the submitted master. The
summary JSON (the last stdout line) names the master the run used.

``--pages`` is a parquet table of web pages (url STRING, warc_ts TIMESTAMP,
html BINARY, text STRING, lang STRING — BASELINE.json input_hint); the
output is one row per resolved mention with canonical components, street
address, old↔new ward codes, and a stable cluster id. ``--store`` turns on
durable snapshots of the resolved and clustered stages + lineage (resume =
rerun on the same input with the same store; another input raises).
Without ``--gazetteer`` a deterministic synthetic catalog is used (tests /
smoke runs; no external data).

This is the distributed form of the reference's bulk pipeline
(ner/build_real_dataset.py:159-247 — per-row parser.process loop) plus an
explicit clustering stage over exact-string stars (SURVEY §3.2, §7).
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

# Allow running from a repo checkout without --py-files (local smoke runs).
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="Run the ER pipeline over a pages parquet table.")
    p.add_argument("--pages", required=True, help="input parquet path (pages table)")
    p.add_argument("--output", required=True, help="output parquet path (clustered mentions)")
    p.add_argument("--store", default=None,
                   help="stage-store directory for durable snapshots + lineage (resumable)")
    p.add_argument("--gazetteer", default=None,
                   help="reference-shaped JSON gazetteer dir (fuzz/data layout, read via "
                        "sources.readers.gazetteer_from_dir); default: deterministic synthetic catalog")
    p.add_argument("--master", default=None,
                   help="spark master override (default: the master spark-submit was given, "
                        "else local[SPARK_GRAFT_CPUS])")
    p.add_argument("--synth-pages", type=int, default=None,
                   help="smoke mode: first generate N deterministic synthetic pages at --pages")
    return p


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)

    from address_parser_spark.gazetteer.synth import synth_gazetteer
    from address_parser_spark.plans.pipeline import run_pipeline
    from address_parser_spark.session import get_spark
    from address_parser_spark.sources.lineage import StageStore
    from address_parser_spark.sources.readers import gazetteer_from_dir

    spark = get_spark("er_run_pipeline", master=args.master)
    spark.sparkContext.setLogLevel("WARN")

    gaz = gazetteer_from_dir(spark, args.gazetteer) if args.gazetteer else synth_gazetteer()

    if args.synth_pages:
        from address_parser_spark.sources.pages import synth_pages_spark

        synth_pages_spark(spark, gaz, args.synth_pages).write.mode("overwrite").parquet(args.pages)

    pages = spark.read.parquet(args.pages)
    store = StageStore(spark, args.store) if args.store else None

    clustered = run_pipeline(spark, pages, gaz, store=store)
    clustered.write.mode("overwrite").parquet(args.output)

    result = spark.read.parquet(args.output)
    summary = {
        "pages": pages.count(),
        "mentions": result.count(),
        "clusters": result.select("cluster_id").distinct().count(),
        "output": args.output,
        "master": spark.sparkContext.master,
    }
    if store is not None:
        summary["lineage_rows"] = len(store.lineage())
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
