"""spark-submit entrypoint for the dedup pipeline (north rule: "run via
spark-submit --py-files on multi-executor clusters").

    spark-submit --master <cluster> \
        --py-files smqtk_indexing_spark.zip \
        jobs/dedup_job.py \
        --input  /data/files_parquet \
        --output /data/dedup_out \
        --checkpoint-dir /data/dedup_ckpt \
        [--config config.json] [--pair-mode star|all] \
        [--include-substrings] [--partition-lineage]

The session comes from spark-submit's conf (master/executors are cluster
args, not code); the job only sets engine-level SQL conf. It builds its
own session rather than calling ``session.get_spark``, so its Python
workers keep the stock ``pyspark.daemon``, not the engine's
``worker_daemon``: ``--py-files`` archives join a worker's path per task,
after the daemon has started, so the daemon could not import this
package from the zip. Outputs under
--output: clusters/, dup_pairs/, lineage/ (+ partition_lineage/ when
requested) as parquet. --checkpoint-dir enables stage resume: re-running
after a failure skips completed stages (config-hash guarded).

Build the --py-files zip with: python tools/build_pyfiles_zip.py
"""
from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="parquet dir of files "
                   "(repo, path, commit, lang, content + doc_id)")
    p.add_argument("--output", required=True, help="output dir (parquet tables)")
    p.add_argument("--checkpoint-dir", default=None,
                   help="stage checkpoint dir (enables resume)")
    p.add_argument("--config", default=None, help="DedupConfig JSON file")
    p.add_argument("--pair-mode", default=None, choices=["star", "all"])
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="content")
    p.add_argument("--include-substrings", action="store_true")
    p.add_argument("--partition-lineage", action="store_true")
    args = p.parse_args(argv)

    # imports deferred until after spark-submit has the zip on sys.path
    from pyspark.sql import SparkSession

    from smqtk_indexing_spark.config import DedupConfig
    from smqtk_indexing_spark.plans.pipeline import run_dedup

    if args.config:
        with open(args.config) as f:
            cfg = DedupConfig.from_json(f.read())
    else:
        cfg = DedupConfig()
    if args.pair_mode:
        from dataclasses import replace

        cfg = replace(cfg, pair_mode=args.pair_mode)

    spark = (
        SparkSession.builder.appName("smqtk-indexing-dedup")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.constraintPropagation.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(cfg.shuffle_partitions))
        .getOrCreate()
    )
    files = spark.read.parquet(args.input)
    res = run_dedup(
        spark,
        files,
        cfg,
        out_dir=args.checkpoint_dir,
        id_col=args.id_col,
        text_col=args.text_col,
        include_substrings=args.include_substrings,
        partition_lineage=args.partition_lineage,
    )
    out = args.output.rstrip("/")
    res.tables["clusters"].write.mode("overwrite").parquet(f"{out}/clusters")
    res.tables["dup_pairs"].write.mode("overwrite").parquet(f"{out}/dup_pairs")
    res.lineage_df(spark).write.mode("overwrite").parquet(f"{out}/lineage")
    if args.partition_lineage:
        res.partition_lineage_df(spark).write.mode("overwrite").parquet(
            f"{out}/partition_lineage"
        )
    n = res.tables["clusters"].count()
    print(json.dumps({"clusters_rows": n, "config_hash": cfg.config_hash}))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
