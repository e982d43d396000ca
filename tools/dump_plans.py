"""Dump .explain("formatted") output for named registry queries.

Usage: python tools/dump_plans.py <suffix> [sf_dir] name [name...]

Writes plans/<name>_<suffix>.txt for each query (suffix is
"before" / "after"): the evidence behind a plan-change claim. Explain
output is captured from the exact frame the registry callable returns,
on the same session config bench.py uses for the sf0.1 section (1 MB
splits), so Exchange counts and join strategies match the measured
runs.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from real_time_fraud_detection_system_spark.operators import all_queries
from real_time_fraud_detection_system_spark.session import cpu_count, get_spark


def main() -> int:
    suffix = sys.argv[1]
    args = sys.argv[2:]
    if args and os.path.isdir(args[0]):
        sf_dir, names = args[0], args[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.1", args
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(
        "dump-plans",
        cpus=cpu_count(),
        extra_conf={"spark.sql.files.maxPartitionBytes": str(1024 * 1024)},
    )
    qs = all_queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt.splitlines())} lines)")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
