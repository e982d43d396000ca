"""Regression gate for the 100 TB plan audit: the set of queries whose
physical plans contain CARTESIAN / NLJ / GLOBALWIN / 1PART patterns must
equal the reviewed allowlist in tools/plan_audit.py. A new flag means a
scale regression to justify (add to ALLOWLIST with a comment) or fix."""

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from plan_audit import ALLOWLIST, _docbcast, plan_of, sweep  # noqa: E402


def test_docbcast_flags_forced_doc_map_hint(spark, sf_dir):
    """The round-9 scale flaw, kept dead: an EXPLICIT broadcast hint on
    an un-aggregated documents projection (linear in corpus rows; a
    hint overrides the 8 GB size check, so the job fails at ~10^9 docs)
    must flag, while (a) an aggregated hint and (b) a planner-chosen
    broadcast of the same projection must not -- AQE degrades those to
    a shuffle past the threshold, which is correct."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = docs.select("doc_id", "source")
    other = docs.select("doc_id", "n_chars")
    assert _docbcast(plan_of(other.join(F.broadcast(src), "doc_id")))
    # same join without the hint: planner's choice, not flagged
    assert not _docbcast(plan_of(other.join(src, "doc_id")))
    # hint on a per-source aggregate (bounded by |sources|): fine
    agg = docs.groupBy("source").agg(F.count("*").alias("n"))
    assert not _docbcast(
        plan_of(
            docs.select("doc_id", "source").join(F.broadcast(agg), "source")
        )
    )


def test_plan_flags_match_reviewed_allowlist(spark, sf_dir):
    got = sweep(spark, sf_dir)
    new = {k: sorted(v) for k, v in got.items() if ALLOWLIST.get(k) != v}
    gone = sorted(set(ALLOWLIST) - set(got))
    assert got == ALLOWLIST, (
        f"plan audit drift -- new/changed flags: {new}; "
        f"stale allowlist entries: {gone}"
    )
