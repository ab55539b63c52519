"""Small-file compaction job: rewrite a parquet table into target-size files.

Long-running ingestion (streaming triggers, per-task sinks, funnel stages)
leaves warehouses with thousands of KB-scale parquet files; at 100 TB the
resulting open/footer overhead dominates scan time and pressures the
driver's file listing. This job rewrites a table into ceil(bytes/target)
files — the routine Iceberg/Delta `rewrite_data_files` maintenance action,
expressed as plain Spark.

Usage:
  python jobs/compact.py --input /warehouse/table --output /warehouse/table_c \
      [--target-mb 512] [--order-by doc_id]

Shape: one scan + one Exchange (round-robin when unordered, range when
--order-by is given — range-ordered files compress better and carry
min/max footer stats a later reader can prune on) + file-per-task write.
Row-count equality before/after is verified IN the job; the summary line
reports files/bytes before and after.

100-TB note: --target-mb sizes from the INPUT's on-disk bytes, so output
file count tracks data volume, not the accidental input partitioning.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from intelligent_document_processing_on_aws_spark.session import get_spark  # noqa: E402


def _walk_parquet(path: str) -> tuple[int, int]:
    """(n_files, total_bytes) of *.parquet under path."""
    n = b = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                b += os.path.getsize(os.path.join(root, f))
    return n, b


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--target-mb", type=int, default=512,
                    help="target output file size (of INPUT bytes)")
    ap.add_argument("--order-by", default=None, metavar="COL",
                    help="range-order output files by this column "
                         "(better compression + min/max pruning stats)")
    args = ap.parse_args()

    t0 = time.time()
    files_in, bytes_in = _walk_parquet(args.input)
    n_out = max(1, -(-bytes_in // (args.target_mb * 1024 * 1024)))

    spark = get_spark("idp-compact")
    df = spark.read.parquet(args.input)
    rows_in = df.count()

    if args.order_by:
        out = df.repartitionByRange(n_out, args.order_by)
    else:
        out = df.repartition(n_out)
    out.write.mode("overwrite").parquet(args.output)

    rows_out = spark.read.parquet(args.output).count()
    if rows_out != rows_in:
        raise SystemExit(
            f"compaction row-count mismatch: {rows_in} in, {rows_out} out")
    files_out, bytes_out = _walk_parquet(args.output)
    print(json.dumps({
        "rows": rows_in,
        "files_before": files_in, "files_after": files_out,
        "mb_before": round(bytes_in / 1048576, 2),
        "mb_after": round(bytes_out / 1048576, 2),
        "target_mb": args.target_mb,
        "sec": round(time.time() - t0, 2),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
