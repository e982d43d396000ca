"""Time registry queries with the noop sink (best-of-N).

Usage: python tools/time_queries.py <sf_dir> [--best-of N] [--split-mb M] [name...]

With no names, every registered query is timed. The queries share one
fresh session whose memos are primed first, so one-time index builds are
not billed to the first query that reads them; each run carries the job
description "<name> run<i>", and the cache is cleared between queries.
A query that raises (a quadratic guard at scale, say) is recorded as
``ERR:<ExceptionName>`` and the run goes on. One line per query as it
finishes, then one JSON line {name: seconds or "ERR:..."}.

The noop sink, not collect: output-heavy queries (full signature
tables, per-doc frames) measure several times slower under collect,
which mis-ranks the slow ones. The end-to-end benchmark of the fraud
pipeline is perfbench/run.py, not this tool.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from real_time_fraud_detection_system_spark.operators import all_queries
from real_time_fraud_detection_system_spark.operators._memo import prime_memos
from real_time_fraud_detection_system_spark.session import cpu_count, get_spark


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("names", nargs="*")
    ap.add_argument("--best-of", type=int, default=2)
    ap.add_argument("--split-mb", type=int, default=64)
    ap.add_argument("--no-memo", action="store_true")
    args = ap.parse_intermixed_args()
    qs = all_queries()
    unknown = [n for n in args.names if n not in qs]
    if unknown:
        ap.error(f"not registered: {' '.join(unknown)}")

    spark = get_spark(
        "time-queries",
        cpus=cpu_count(),
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(
                args.split_mb * 1024 * 1024
            )
        },
    )
    if not args.no_memo:
        t0 = time.time()
        prime_memos(spark, args.sf_dir)
        print(f"memo prime: {time.time() - t0:.1f}s", flush=True)
    out: dict[str, float | str] = {}
    for name in args.names or qs:
        try:
            best = float("inf")
            for i in range(args.best_of):
                spark.sparkContext.setJobDescription(f"{name} run{i}")
                t0 = time.time()
                qs[name](spark, args.sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.time() - t0)
            out[name] = round(best, 2)
        except Exception as exc:  # noqa: BLE001 -- one failure must not end the run
            out[name] = f"ERR:{type(exc).__name__}"
            print(f"{name}: {exc}".splitlines()[0], file=sys.stderr, flush=True)
        spark.catalog.clearCache()
        print(f"{name} {out[name]}", flush=True)
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
