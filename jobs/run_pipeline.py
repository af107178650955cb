"""spark-submit entrypoint for the flagship parse→enrich→route→aggregate
pipeline with resumable checkpoints (north rule: "run via spark-submit
--py-files on a multi-executor cluster").

Cluster usage:
  zip -r otel_spark.zip opentelemetry_collector_contrib_spark
  spark-submit --master <cluster> --py-files otel_spark.zip \
      jobs/run_pipeline.py --input /path/to/transcripts_dir \
      --checkpoint-dir /path/to/ckpt

Local smoke:
  python jobs/run_pipeline.py --input /root/testdata/sf0.001 \
      --checkpoint-dir /tmp/otel_ckpt --cores 8

Re-running with the same --input and --checkpoint-dir skips every
committed stage (fingerprint match); pass --force to recompute all.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="fixture/table dir")
    ap.add_argument("--checkpoint-dir", required=True)
    ap.add_argument("--cores", default=None)
    ap.add_argument("--force", action="store_true", help="ignore committed state")
    args = ap.parse_args(argv)

    from opentelemetry_collector_contrib_spark.fixtures import ensure_fixture_dir
    from opentelemetry_collector_contrib_spark.plans.flagship import flagship_stages
    from opentelemetry_collector_contrib_spark.plans.runner import PipelineRunner
    from opentelemetry_collector_contrib_spark.session import get_spark

    if args.force and os.path.isdir(args.checkpoint_dir):
        shutil.rmtree(args.checkpoint_dir)

    fixture_dir = ensure_fixture_dir(args.input)
    spark = get_spark("otel-flagship-pipeline", cores=args.cores)
    runner = PipelineRunner(spark, args.checkpoint_dir)
    stages, fps = flagship_stages(fixture_dir)

    t0 = time.time()
    runner.run(stages, fps)
    wall = time.time() - t0

    print(f"computed: {runner.computed}")
    print(f"skipped (resumed from checkpoint): {runner.skipped}")
    print(f"wall: {wall:.2f}s")
    print("\n_pipeline_state metrics table:")
    runner.metrics_table().orderBy("stage").show(50, truncate=False)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
