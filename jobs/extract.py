"""spark-submit entry point for the extraction pipeline.

    spark-submit --py-files ocr_engine_spark.zip jobs/extract.py \
        --input  /path/to/transcripts \
        --output /path/to/extracted \
        --audit  /path/to/audit \
        --buckets 4096 --salt 8

Locally: ``python jobs/extract.py --input ... --output ...``.
Resume: re-run the same command after a failure — completed buckets
(per the audit table) are skipped, incomplete ones are overwritten
idempotently.

The job prints its run stats as one JSON line on stdout (``run_id``,
``resumed_buckets_skipped``, ``buckets_processed``, ``wall_sec``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, _REPO)
# Python *workers* resolve the package via PYTHONPATH, not the
# driver's sys.path: under spark-submit --py-files this is handled by
# Spark; under plain `python jobs/extract.py` from another cwd it is
# not — export it before the JVM forks workers.
os.environ["PYTHONPATH"] = (
    _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")
).rstrip(os.pathsep)

from ocr_engine_spark.plans.extract_plan import ExtractConfig, run_extract  # noqa: E402
from ocr_engine_spark.session import build_session  # noqa: E402


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="transcript extraction pipeline")
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--audit", default=None)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--salt", type=int, default=4)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--master", default=None)
    ap.add_argument("--arrow-batch", type=int, default=4096)
    args = ap.parse_args(argv)

    # --buckets bounds the pre-coalesce shuffle partition count, so it
    # bounds the Python task count; AQE merges down from there.
    spark = build_session(master=args.master, arrow_batch=args.arrow_batch,
                          shuffle_partitions=args.buckets)
    t0 = time.time()
    stats = run_extract(
        spark,
        ExtractConfig(
            input_path=args.input,
            output_path=args.output,
            audit_path=args.audit,
            num_buckets=args.buckets,
            salt_buckets=args.salt,
            run_id=args.run_id,
        ),
    )
    stats["wall_sec"] = round(time.time() - t0, 3)
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
