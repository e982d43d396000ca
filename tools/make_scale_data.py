"""Materialize an sf1-scale dataset (10x sf0.1) for local scale
validation of the bench suite.

The driver ships sf{0.001,0.01,0.1} only; the scaling story ("would this
plan survive 10x?") is validated empirically by replicating sf0.1 ten
times with disjoint key spaces into .scale/sf1 (gitignored -- rebuild
with this script). Replication semantics:

  * fact keys (custkey/orderkey/partkey/suppkey/event_id/user_id/doc_id/
    vec_id and their foreign keys) shift by replica * OFFSET, so joins
    stay consistent within a replica and key cardinality scales 10x --
    the realistic scale-up (more users/orders, same per-entity behavior);
  * region/nation are spec-fixed dimensions -- copied once;
  * document replicas keep a REALISTIC near-dup density: replica 1 of
    every 20th base doc is a suffix-only variant (a true near-dup of
    replica 0), while every other replica mutates every 3rd token with
    a replica tag -- no word 3-gram survives, so those replicas are
    genuinely distinct documents. The first version of this script made
    EVERY replica a suffix-variant; at factor=100 that corpus was 99%
    near-duplicates and the dedup output itself grew quadratically in
    the factor (25M true pairs at sf10) -- measuring output explosion,
    not engine scaling. Real corpora carry a few percent near-dups and
    the dup count scales linearly with corpus size, which this scheme
    reproduces at any factor;
  * embeddings get a per-replica scale factor (norm changes, cosine
    neighborhoods preserved);
  * timestamps are left as-is: time-range density scales 10x, which is
    what stresses the windowed/sessionize operators.

Usage: python tools/make_scale_data.py [src_sf_dir] [out_dir] [factor]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from real_time_fraud_detection_system_spark.session import cpu_count, get_spark

OFFSET = 10_000_000

# table -> columns shifted by replica * OFFSET
KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIMS = ["region", "nation"]


def build(src: str, out: str, factor: int = 10) -> None:
    spark = get_spark("make-scale-data", cpus=cpu_count())
    os.makedirs(out, exist_ok=True)
    for t in DIMS:
        spark.read.parquet(f"{src}/{t}.parquet").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{out}/{t}.parquet")
    for t, keys in KEY_COLS.items():
        if t == "events":
            # events.ts is TIMESTAMP(NANOS): read as raw int64 nanos and
            # write it back that way -- catalog.load_table does the
            # nanos->micros truncation at query time for any sf dir
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        base = spark.read.parquet(f"{src}/{t}.parquet")
        reps = []
        for i in range(factor):
            rep = base
            for k in keys:
                rep = rep.withColumn(k, (F.col(k) + F.lit(i * OFFSET)).cast("long"))
            if t == "documents" and i > 0:
                # doc_id is already replica-shifted; % OFFSET recovers
                # the base id, every 20th of which gets a near-dup
                near_dup = (F.col("doc_id") % OFFSET) % 20 == 0
                suffix_text = F.concat(F.col("text"), F.lit(f" r{i}"))
                mutated_text = F.expr(
                    "concat_ws(' ', transform(split(text, ' '), "
                    f"(x, i) -> IF(i % 3 = 2, concat(x, '_r{i}'), x)))"
                )
                rep = rep.withColumn(
                    "text",
                    F.when(near_dup & F.lit(i == 1), suffix_text).otherwise(
                        mutated_text
                    ),
                ).withColumn("n_chars", F.length("text").cast("long"))
            if t == "embeddings" and i > 0:
                rep = rep.withColumn(
                    "embedding",
                    F.expr(
                        f"transform(embedding, x -> CAST(x * (1.0 + {i} * 1e-4) AS FLOAT))"
                    ),
                )
            reps.append(rep)
        union = reps[0]
        for rep in reps[1:]:
            union = union.unionByName(rep)
        # a few files per table: enough read parallelism without
        # thousands of tiny splits. Row count = base x factor by
        # construction -- counting the union would materialize every
        # replica transformation a second time
        n_files = max(1, min(16, base.count() * factor // 500_000 + 1))
        union.repartition(n_files).write.mode("overwrite").parquet(
            f"{out}/{t}.parquet"
        )
        print(f"{t}: x{factor} -> {out}/{t}.parquet ({n_files} files)")
    spark.stop()


if __name__ == "__main__":
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, ".scale", "sf1")
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    build(src, out, factor)
