"""spark-submit entry point for the engine (north-rule M6).

Usage (cluster):
    zip -r protosc_spark.zip protosc_spark
    spark-submit --py-files protosc_spark.zip jobs/run.py \
        --input /path/to/transcripts --output /path/to/features \
        --n-buckets 4096 --buckets-per-wave 256

Usage (sandbox smoke, generated input):
    python jobs/run.py --generate 500 --output /tmp/features_run

Reads the transcript table (Iceberg catalog table name or parquet
path; parquet in this sandbox), runs the flagship feature pipeline,
and writes resumably with per-bucket lineage manifests + metrics
(protosc_spark.checkpoint). Re-submitting after a failure resumes
from the last committed wave.

Incremental mode (the daily production job):
    spark-submit --py-files protosc_spark.zip jobs/run.py \
        --backfill-day 2025-06-01 --snapshot-table /path/transcripts \
        --output /path/features
refreshes ONLY the day's affected conversations in the feature table
(snapshot-isolated MERGE, protosc_spark.backfill) — O(blast radius),
never O(table).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from protosc_spark.checkpoint import run_resumable  # noqa: E402
from protosc_spark.datagen import (  # noqa: E402
    generate_attribute_updates,
    generate_transcripts,
)
from protosc_spark.pipeline import flagship_features  # noqa: E402
from protosc_spark.session import get_spark  # noqa: E402


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", help="transcript table: parquet path or catalog table")
    p.add_argument("--updates", help="optional attribute-update table (as-of source)")
    p.add_argument("--generate", type=int, default=0,
                   help="generate N synthetic conversations instead of --input")
    p.add_argument("--output", required=True)
    p.add_argument("--n-buckets", type=int, default=64,
                   help="output buckets; with --backfill-day it sets only "
                        "the layout of a newly created feature table (a "
                        "MERGE uses the count in the table's manifest)")
    p.add_argument("--buckets-per-wave", type=int, default=16)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--backfill-day",
                   help="incremental mode: refresh features for this "
                        "day (YYYY-MM-DD) only")
    p.add_argument("--snapshot-table",
                   help="snapshot transcript table for --backfill-day")
    args = p.parse_args(argv)

    spark = get_spark("protosc_spark_run")

    if args.backfill_day:
        if not args.snapshot_table:
            p.error("--backfill-day requires --snapshot-table")
        from protosc_spark.backfill import incremental_backfill

        summary = incremental_backfill(
            spark, args.snapshot_table, args.output, args.backfill_day,
            n_buckets=args.n_buckets,
        )
        print(json.dumps(summary, sort_keys=True))
        spark.stop()
        return

    def _read(ref: str):
        if os.path.isdir(ref) or ref.endswith(".parquet"):
            return spark.read.parquet(ref)
        return spark.read.table(ref)  # Iceberg / catalog table

    def build(s):
        if args.generate:
            tr = generate_transcripts(s, n_conversations=args.generate, seed=args.seed)
            up = generate_attribute_updates(
                s, n_conversations=args.generate, seed=args.seed
            )
        else:
            tr = _read(args.input)
            up = _read(args.updates) if args.updates else None
        out, _registry = flagship_features(tr, up)
        return out

    metrics = run_resumable(
        build,
        args.output,
        n_buckets=args.n_buckets,
        buckets_per_wave=args.buckets_per_wave,
        spark=spark,
    )
    print(json.dumps(metrics, sort_keys=True))
    spark.stop()


if __name__ == "__main__":
    main()
