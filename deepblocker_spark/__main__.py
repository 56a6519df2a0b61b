"""spark-submit entrypoint (north_rule: "ships as a spark-submit --py-files
job"). Runs the checkpointed ER pipeline end to end:

  # run.py: from deepblocker_spark.__main__ import main; sys.exit(main())
  spark-submit --py-files deepblocker_spark.zip run.py \\
      --input /data/repo_files.parquet --checkpoint-dir /data/ckpt/run1 \\
      --cols repo,path,lang,content --k 20 --output /data/clusters.parquet

or locally: python -m deepblocker_spark --input ... --checkpoint-dir ...
Exercised end-to-end (real spark-submit binary, package imported from the
zip alone) by tests/test_spark_submit_e2e.py.
"""

from __future__ import annotations

import argparse
import json
import sys

from deepblocker_spark.operators.pairing import PAIRING_MODES


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="deepblocker_spark")
    p.add_argument("--input", required=True, help="parquet path or Iceberg table")
    p.add_argument("--format", default="parquet", choices=["parquet", "iceberg"])
    p.add_argument("--checkpoint-dir", required=True)
    p.add_argument("--output", required=True, help="output parquet for (id, component)")
    p.add_argument("--cols", default="repo,path,lang,content",
                   help="comma-separated cols_to_block")
    p.add_argument("--id-col", default="id")
    p.add_argument("--k", type=int, default=50)
    p.add_argument("--pairing", default="auto", choices=PAIRING_MODES,
                   help="candidate generator; auto picks exact, lsh or "
                        "ivfpq by row count and embedding bytes (see "
                        "operators.pairing.resolve_pairing)")
    p.add_argument("--lsh-threshold-rows", type=int, default=None,
                   help="auto's exact->lsh row threshold (default: "
                        "BlockerConfig.pairing_lsh_threshold_rows; see "
                        "operators.pairing.resolve_pairing)")
    p.add_argument("--min-sim", type=float, default=None)
    p.add_argument("--verify-jaccard", type=float, default=0.4)
    p.add_argument("--emb-dim", type=int, default=300)
    p.add_argument("--master", default=None)
    p.add_argument("--force", action="store_true", help="recompute all stages")
    args = p.parse_args(argv)

    from dataclasses import replace

    from deepblocker_spark.config import BlockerConfig
    from deepblocker_spark.plans.checkpoint import CheckpointManager, run_blocking_pipeline
    from deepblocker_spark.session import get_spark
    from deepblocker_spark.sources.repo_files import load_repo_table

    spark = get_spark("deepblocker-pipeline", master=args.master)
    try:
        src = load_repo_table(spark, args.input, fmt=args.format)
        cfg = BlockerConfig(emb_dim=args.emb_dim, top_k=args.k)
        if args.lsh_threshold_rows is not None:
            cfg = replace(cfg, pairing_lsh_threshold_rows=args.lsh_threshold_rows)
        ckpt = CheckpointManager(spark, args.checkpoint_dir)
        clusters = run_blocking_pipeline(
            spark, src, ckpt, args.cols.split(","), id_col=args.id_col,
            k=args.k, min_sim=args.min_sim, verify_jaccard=args.verify_jaccard,
            config=cfg, force=args.force, pairing=args.pairing,
        )
        clusters.write.mode("overwrite").parquet(args.output)
        summary = {
            "clusters_rows": ckpt.manifest("clusters")["rows"],
            "lineage": [
                {k: m[k] for k in ("stage", "rows", "wall_seconds", "content_fingerprint")}
                for m in ckpt.lineage()
            ],
        }
        print(json.dumps(summary))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
