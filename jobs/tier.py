"""Quality-tier extraction job: score -> tier -> tier-partitioned corpus.

The tier stage of a training-data pipeline (FineWeb-Edu/DCLM shape):
one map-only pass scores every document into integer-ppm quality tiers
(operators/tiers.py) and lands the corpus Hive-partitioned by
tier_label, so every downstream tier-scoped read is partition-pruned —
a mix designer reading `tier_label = 'head'` never scans the other 4/5
of the corpus. Optionally derives the alpha=0.5 temperature mix rates
across tiers for a token budget (the tier_mix query's math).

Usage:
  python jobs/tier.py --input /root/testdata/sf0.01/documents.parquet \
      --output /tmp/idp_tiered [--mix-budget 40000]
Prints one JSON line {"docs", "tiers": {label: {docs, tokens}},
"mix_rates_ppm": {label: ppm} | null, "sec", "docs_per_sec"}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from intelligent_document_processing_on_aws_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="documents parquet (doc_id, text[, source])")
    ap.add_argument("--output", required=True,
                    help="tier-partitioned parquet root (tier_label=*/)")
    ap.add_argument("--mix-budget", type=int, default=None, metavar="TOKENS",
                    help="also derive alpha=0.5 temperature mix rates "
                         "across tiers for this token budget")
    args = ap.parse_args()

    from intelligent_document_processing_on_aws_spark.operators.sampling import (
        temperature_mix_rates,
    )
    from intelligent_document_processing_on_aws_spark.operators.tiers import (
        write_tiered,
    )

    t0 = time.time()
    spark = get_spark("idp-tier")
    docs = spark.read.parquet(args.input)
    write_tiered(docs, args.output)

    # rollup from the WRITTEN table: reads only the pruned columns and
    # doubles as a read-back sanity check of the partition layout
    tiered = spark.read.parquet(args.output)
    roll = {
        r["tier_label"]: {"docs": r["docs"], "tokens": r["tokens"]}
        for r in tiered.groupBy("tier_label")
        .agg({"n_tokens": "sum", "*": "count"})
        .withColumnRenamed("sum(n_tokens)", "tokens")
        .withColumnRenamed("count(1)", "docs")
        .collect()
    }

    mix = None
    if args.mix_budget is not None:
        mix = {
            r["stratum"]: r["rate_ppm"]
            for r in temperature_mix_rates(
                tiered, "tier_label", args.mix_budget
            ).collect()
        }

    n = sum(v["docs"] for v in roll.values())
    sec = round(time.time() - t0, 2)
    print(json.dumps({
        "docs": n,
        "tiers": {k: roll[k] for k in sorted(roll)},
        "mix_rates_ppm": mix,
        "sec": sec,
        "docs_per_sec": round(n / sec, 1) if sec else None,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
