"""Scale audit: sweep every registered query's physical plan for the
patterns that break at 100 TB.

Flags per query:
  CARTESIAN  -- CartesianProduct (quadratic)
  NLJ        -- BroadcastNestedLoopJoin (per-row scan of the broadcast)
  GLOBALWIN  -- Window with empty partition spec (single-task sort)
  1PART      -- Exchange SinglePartition feeding a non-scalar result
                (scalar aggregates legitimately collapse to one row)
  DOCBCAST   -- an EXPLICIT broadcast hint (ResolvedHint in the
                analyzed plan) whose subtree reads the documents table
                with NO aggregate below it: an un-reduced per-document
                projection is linear in corpus rows, and a hint
                overrides Spark's size check, so the job FAILS at the
                8 GB broadcast cap near 10^9 docs instead of falling
                back to a shuffle (the round-9 verdict's scale flaw --
                four sites force-broadcast the (doc_id, source) map;
                all fixed by carrying source in the signature memo,
                and this flag is the regression gate). Planner-chosen
                broadcasts are NOT flagged: without a hint AQE falls
                back to SMJ past the threshold, which is the correct
                adaptive behavior.

Usage: python tools/plan_audit.py [sf_dir]
Exit code 1 if the flag set differs from ALLOWLIST (regression gate; the
same check runs as tests/test_plan_audit.py).
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from real_time_fraud_detection_system_spark.operators import all_queries
from real_time_fraud_detection_system_spark.session import cpu_count, get_spark

# Every current flag, reviewed and justified. A query appearing here with
# different flags, or a new query flagging at all, FAILS the audit until
# it is re-reviewed and added with a justification.
#   * NLJ on ann_* / freshness_check / windowed_rates /
#     customers_without_orders: 1-row or N_QUERIES-row broadcasts (scalar
#     "now" anchor / query fan-out) -- constant-size at any data scale.
#     (ann_ivf_topk no longer flags: its centroid assignment moved from
#     a centroid-table broadcast join to the _nearest_cells_udf Arrow
#     kernel with the sqrt(n)-rate sample collected into the closure.)
#   * NLJ on embedding_near_dup: the documented all-pairs verification
#     primitive (LSH/IVF variants are the scale paths); guarded by a
#     row-count bound (operators/similarity.py).
#   * 1PART: scalar or near-scalar outputs (single-row summaries,
#     conversion_funnel's 4-counter result, q6/q15 scalar revenue).
#   * GLOBALWIN on moving_avg_revenue: orders day-grain aggregates; row
#     count bounded by calendar days, not data volume.
ALLOWLIST: dict[str, frozenset[str]] = {
    "ann_cosine_topk": frozenset({"NLJ"}),
    # index_tombstone_stats: the NLJs are the crossJoins of three
    # 1-row aggregate frames (docs / signature memo / pair memo --
    # the bounded-scalar report pattern) and the 1PART is those
    # single-row aggregates' own exchanges; the corpus-sized work is
    # the three conditional-sum scans, each a spread keyed input.
    "index_tombstone_stats": frozenset({"NLJ", "1PART"}),
    # ann_index_stats: the 1PART is the final one-row accounting
    # aggregate's own exchange, fed by a K-row (K ~ sqrt(n)) per-cell
    # aggregate -- the index_tombstone_stats bounded-scalar report
    # pattern; the corpus-sized work is the shuffle-free kernel
    # assignment scan plus one keyed cell aggregate.
    "ann_index_stats": frozenset({"1PART"}),
    # intrinsic_dim_twonn: the 1PART is the final single-row MLE fold
    # -- the near-scalar summary pattern. The corpus-sized work is the
    # shuffle-free Arrow-kernel distance scan (round 13: the anchors
    # ride inside the kernel closure, so the old TWONN_SAMPLE-row
    # broadcast NLJ is gone from the plan) and the sample-keyed top-2
    # exchange carries only the kernel's pruned survivor rows.
    "intrinsic_dim_twonn": frozenset({"1PART"}),
    # source_epoch_plan: the 1PART is the budget-share window over the
    # O(sources)-row token inventory -- the source_mixture_plan
    # near-scalar pattern; the corpus-sized work is the keyed token
    # count agg before it.
    "source_epoch_plan": frozenset({"1PART"}),
    # bm25_topk: the NLJ is the 1-row (n_docs, avgdl) corpus-stats
    # broadcast into the O(matching postings) scored frame (the
    # scalar-anchor pattern) and the 1PART is that scalar aggregate's
    # own exchange; the corpus-sized work is the postings-filtered
    # token scan and the (doc, term) keyed tf aggregate.
    "bm25_topk": frozenset({"NLJ", "1PART"}),
    # bm25_indexed_topk: the same scalar-anchor NLJ (the 1-row stats
    # frame broadcast into the scored postings) WITHOUT the 1PART --
    # the stats row is read pre-aggregated from the memoized parquet,
    # so no scalar-aggregate exchange exists; the corpus-sized work
    # is the term-filtered postings scan.
    "bm25_indexed_topk": frozenset({"NLJ"}),
    # bm25_discovered_topk: the same scalar-anchor NLJ -- the 1-row
    # stats anchor inside _bm25_rank; the term pick runs as its own
    # BM25_DISC_TERMS_K-row collect before the probe is planned.
    "bm25_discovered_topk": frozenset({"NLJ"}),
    # bm25_batch_topk: the same pre-aggregated 1-row stats broadcast
    # (scalar-anchor NLJ); the (q_id, t) query map is a broadcast HASH
    # join, df a t-partitioned window, and the top-k window is
    # q_id-partitioned -- corpus-sized work is the one term-filtered
    # postings scan shared by all queries.
    "bm25_batch_topk": frozenset({"NLJ"}),
    # text_index_stats: the index_tombstone_stats pattern exactly --
    # three O(1)-row aggregates (doc lengths, posting rows, per-term
    # survival count) cross-joined as bounded scalars; the 1PART is
    # each scalar aggregate's own final exchange, the NLJ is the
    # 1-row-x-1-row cross of those scalars. Corpus-sized work is the
    # memoized postings scan.
    "text_index_stats": frozenset({"NLJ", "1PART"}),
    # hybrid_topk: inherits bm25_topk's scalar-anchor NLJ/1PART; the
    # lexical ranks come from the BM25 scorer's q_id-partitioned
    # window, and the fusion join itself is two top-K frames. The
    # corpus-sized work is the two components' own audited plans.
    "hybrid_topk": frozenset({"NLJ", "1PART"}),
    # top_session_paths: the 1PART is the total-sessions window over
    # the O(distinct paths) rollup -- the source_mixture_plan
    # near-scalar pattern; the corpus-sized work is the user-keyed
    # session window and the (user, session) collect before it.
    "top_session_paths": frozenset({"1PART"}),
    # ann_int8_recall: the NLJs are the 1-row [min],[max]-arrays stats
    # broadcast (the scalar-anchor pattern -- dims doubles, ~1 KB at
    # any corpus size) and the two N_QUERIES-row query broadcasts
    # (ann_cosine_topk's bounded query fan-out); the 1PART is the stats
    # aggregate's own single-row exchange. The corpus-sized work is two
    # linear broadcast-query scans.
    "ann_int8_recall": frozenset({"NLJ", "1PART"}),
    # lsh_band_sweep: the 1PART is the single-row recall aggregate
    # (count + one conditional sum per banding config, stacked to 4
    # rows) -- a near-scalar output over the O(true pairs) truth frame;
    # the corpus-sized work is the keyed (cfg, band, bkey) count and
    # the keyed signature joins, all spread shuffles.
    "lsh_band_sweep": frozenset({"1PART"}),
    # activity_shape_buckets: the NLJs are the 1-row min-date anchor
    # broadcast and the 6-row segment-range VALUES cross join (both the
    # threshold_sweep scalar/VALUES pattern, constant size at any
    # scale); the 1PART is the anchor scalar's own exchange. The
    # corpus-sized work is the (user, segment) keyed count.
    "activity_shape_buckets": frozenset({"NLJ", "1PART"}),
    # activity_shape_matches: inherits _sax_words' anchor/VALUES
    # broadcasts (see activity_shape_buckets); the within-bucket
    # self-join itself is an equi-join on the shape word, quadratic
    # only inside buckets (the banding-confinement contract).
    "activity_shape_matches": frozenset({"NLJ", "1PART"}),
    # shape_match_recall: inherits _sax_words' anchor/VALUES
    # broadcasts; the truth side is a bounded sample x bucket join and
    # the output is a single summary row (near-scalar 1PART).
    "shape_match_recall": frozenset({"NLJ", "1PART"}),
    # kmv_source_overlap: the NLJ is the |sources| x |sources|
    # inequality pair-name join (20x20 rows, constant at any data
    # scale) anchoring the K-row-per-source sketch replication; the
    # corpus-sized work is the (source, h) distinct + h-keyed
    # aggregate, both keyed exchanges.
    "kmv_source_overlap": frozenset({"NLJ"}),
    # dup_chao1_estimate: the 1PART is the final single-row Chao1
    # summary fold over the frequency-of-frequencies partials -- the
    # near-scalar report pattern (null_id_check class); the
    # corpus-sized work is the md5 hash-groupBy before it.
    "dup_chao1_estimate": frozenset({"1PART"}),
    # pit_event_enrichment: the NLJ is the 1-row max(custkey) anchor
    # broadcast (the scalar-anchor pattern; the PIT join itself plans
    # as a broadcast HASH join on the key with the range residual) and
    # the 1PART is that scalar aggregate's own exchange plus the final
    # 6-row priority rollup.
    "pit_event_enrichment": frozenset({"NLJ", "1PART"}),
    # packing_budget_sweep: both aggregates are 1-row summaries (global
    # straddle counts; per-source bin totals folded to one row) joined
    # by a broadcast crossJoin -- the near-scalar report pattern
    # (conversion_funnel class); corpus-sized work is the keyed cumsum
    # window + two keyed aggregates before them.
    "packing_budget_sweep": frozenset({"NLJ", "1PART"}),
    # shingle_df_curve: the NLJ is the 1-row distinct-shingle-total
    # broadcast into the O(buckets) rollup and the 1PART is that scalar
    # aggregate's own exchange -- the scalar-anchor pattern.
    "shingle_df_curve": frozenset({"NLJ", "1PART"}),
    # dsir_importance_bins: the NLJ is the 1-row (nr, nt) corpus-totals
    # broadcast into the 4096-row model build, and the 1PART is that
    # scalar aggregate's own single-row exchange -- the allowlisted
    # scalar-anchor pattern (freshness_check/q22 class). The
    # corpus-sized work is the keyed (doc, bucket) count aggregate.
    "dsir_importance_bins": frozenset({"NLJ", "1PART"}),
    # ann_recall_eval composes the two queries above, so it inherits
    # exactly their allowlisted broadcast-nest-loop shapes (the query
    # side is a bounded broadcast in both); the eval join itself is a
    # TOPK x N_QUERIES-row equi-join.
    "ann_recall_eval": frozenset({"NLJ"}),
    "conversion_funnel": frozenset({"1PART"}),
    "customers_without_orders": frozenset({"NLJ", "1PART"}),
    "embedding_near_dup": frozenset({"NLJ"}),
    "freshness_check": frozenset({"NLJ", "1PART"}),
    "moving_avg_revenue": frozenset({"GLOBALWIN", "1PART"}),
    # decayed_user_value: the NLJ is the 1-row max(ts) anchor broadcast
    # and the 1PART is that scalar aggregate's own exchange -- the
    # freshness_check/windowed_rates scalar-anchor pattern.
    "decayed_user_value": frozenset({"NLJ", "1PART"}),
    "null_id_check": frozenset({"1PART"}),
    # predictions_profile: the final merge of the one-scan profile is a
    # global aggregate over partial (count/NDV/min/max) states -- the
    # exchange carries |columns| x n_partitions partial rows into one
    # 6-row result, the near-scalar summary pattern (same class as
    # conversion_funnel / null_id_check).
    "predictions_profile": frozenset({"1PART"}),
    "q15_top_supplier": frozenset({"1PART"}),
    "q6_revenue_change": frozenset({"1PART"}),
    # source_mixture_plan: the budget-share window runs over the
    # per-source token inventory -- O(sources) rows regardless of
    # corpus size (the corpus-sized work is the keyed count agg before
    # it); the near-scalar pattern.
    "source_mixture_plan": frozenset({"1PART"}),
    # mixture_apply_sample: same near-scalar shape -- the n_sources
    # window runs over the O(sources)-row inventory before the rates
    # broadcast back to the corpus-sized filter.
    "mixture_apply_sample": frozenset({"1PART"}),
    # Q11 shape: same class as q22 below -- the NLJ is the 1-row
    # nation-total-value broadcast and the 1PART is that scalar
    # aggregate's own single-row exchange; both constant-size at any
    # data scale (the corpus-sized work is the keyed per-part agg).
    "q11_important_stock": frozenset({"NLJ", "1PART"}),
    # Q22 shape: the NLJ is the 1-row avg-balance threshold broadcast
    # (constant size at any scale) and the 1PART is that scalar
    # aggregate's own exchange feeding it -- both the allowlisted
    # scalar-anchor pattern (same as freshness_check/windowed_rates).
    "q22_dormant_high_balance": frozenset({"NLJ", "1PART"}),
    # vocab_coverage: everything after the word-count shuffle operates
    # on the TakeOrdered TOP-K rows only -- the GLOBALWIN/1PART cover
    # VOCAB_TOP_K (=50) rows regardless of corpus size, and the NLJ is
    # the 1-row corpus-total broadcast (the scalar-anchor pattern).
    "vocab_coverage": frozenset({"NLJ", "GLOBALWIN", "1PART"}),
    "windowed_rates": frozenset({"NLJ", "1PART"}),
    # threshold_sweep: the NLJ is the 9-row threshold VALUES list
    # broadcast against the 1000-row bucket histogram -- both sides
    # constant-size regardless of data volume (the corpus-sized work
    # is the histogram aggregate before it); the bounded-fan-out
    # query-set pattern (same class as ann_cosine_topk's query rows).
    "threshold_sweep": frozenset({"NLJ"}),
    # supplier_pagerank: the GLOBALWIN is the final rank row_number over
    # the TakeOrdered TOP-{50} rows only -- bounded output regardless of
    # graph size (the vocab_coverage pattern); the iterative joins and
    # aggregates are all node/edge-keyed.
    "supplier_pagerank": frozenset({"GLOBALWIN"}),
    # token_concentration_bins: the cumulative-share windows run over
    # the log2-binned frame -- row count bounded by bit-width of
    # n_chars (<= 64 rows at any corpus size); the corpus-sized work is
    # the preceding keyed hash aggregate. The audit sees the bounded
    # frame's SinglePartition exchange (the global windows sit above
    # it); near-scalar pattern.
    "token_concentration_bins": frozenset({"1PART"}),
    # layout_pruning_stats: the NLJ is the 1-row min/max bounds
    # broadcast (scalar-anchor pattern) and the 1PART is the final
    # per-layout rollup over 2 x N_FILES = 128 simulated-file rows --
    # both constant-size at any data scale.
    "layout_pruning_stats": frozenset({"NLJ", "1PART"}),
    # rfm_segments: the NLJ is the 1-row max(ts) anchor broadcast and
    # the 1PART is the final rollup over <= 64 (r, f, m) cells -- the
    # decayed_user_value scalar-anchor + near-scalar-output pattern.
    "rfm_segments": frozenset({"NLJ", "1PART"}),
    # dq_expectations: a global conditional-sum aggregate whose partial
    # states collapse map-side into one O(rules)-row result -- the
    # predictions_profile near-scalar merge pattern.
    "dq_expectations": frozenset({"1PART"}),
    # join_blowup_probe: the NLJ is the 1-row total-pairs broadcast and
    # the 1PART is that scalar aggregate's own exchange -- the
    # freshness_check / decayed_user_value scalar-anchor pattern; the
    # data-sized work is one keyed count with map-side partials.
    "join_blowup_probe": frozenset({"NLJ", "1PART"}),
    # gapfill_hourly: the 1PART is the 1-row global hour-bounds
    # aggregate and the NLJ is the grid crossJoin -- sequence-exploded
    # hours x broadcast distinct types, both O(calendar x types) rows
    # at any data scale (the corpus-sized work is the preceding keyed
    # hour aggregate); the scalar-anchor + bounded-grid pattern.
    "gapfill_hourly": frozenset({"NLJ", "1PART"}),
    # ivf_probe_sweep: inherits ann_cosine_topk's bounded N_QUERIES
    # broadcast NLJ (the exact-baseline side); the 1PART is the
    # per-depth scalar recall aggregate (4 one-row results unioned) --
    # both constant-size at any corpus scale.
    "ivf_probe_sweep": frozenset({"NLJ", "1PART"}),
    # benford_first_digit: the NLJ is the dense digit grid -- distinct
    # event types crossJoined with the broadcast 9-row digit range,
    # O(types x 9) at any data scale (the corpus-sized work is the
    # preceding keyed digit census); the gapfill_hourly bounded-grid
    # pattern.
    "benford_first_digit": frozenset({"NLJ"}),
    # seasonal_hour_baseline: the 1PART is the 1-row global hour-bounds
    # aggregate that seeds the sequence-exploded calendar grid -- the
    # gapfill_hourly scalar-anchor pattern; the corpus-sized work is
    # the keyed epoch-hour aggregate before it, and every later join
    # (168-row dow/hour baseline) is an O(calendar) broadcast.
    "seasonal_hour_baseline": frozenset({"1PART"}),
    # survival_weekly: the 1PART is the collect_list of the
    # (duration, last-week) histogram -- <= weeks^2 rows regardless of
    # user count (two keyed aggregates collapse the corpus first); the
    # KM fold then runs as higher-order functions over that single
    # bounded row -- the near-scalar summary pattern.
    "survival_weekly": frozenset({"1PART"}),
    # cusum_changepoints: all three flags live PAST the day-grain
    # aggregate -- the unpartitioned running-sum window, its single
    # partition, and the two 1-row scalar-anchor broadcasts (n_days/
    # sum_ppm, peak) all touch O(calendar-days) rows -- the
    # moving_avg_revenue day-grain pattern.
    "cusum_changepoints": frozenset({"1PART", "GLOBALWIN", "NLJ"}),
    # risk_lift_matrix: the NLJ is the 1-row global-totals broadcast
    # over the <= |types| x 24 cell table and the 1PART is that scalar
    # aggregate's own exchange -- the freshness_check scalar-anchor
    # pattern.
    "risk_lift_matrix": frozenset({"1PART", "NLJ"}),
    # bloom_prefilter_stats: the NLJs are the six 1-row scalar-count
    # crossJoins assembling the summary row and the 1PART is those
    # scalar aggregates' own exchanges -- the freshness_check
    # scalar-anchor pattern; the data-sized work (bit-set build, probe
    # join) is keyed, with the <= BLOOM_BITS-row bit set broadcast.
    "bloom_prefilter_stats": frozenset({"NLJ", "1PART"}),
    # skyline_parts: the GLOBALWIN/1PART cover the per-size frontier
    # frame only -- <= 50 rows at any data scale (p_size's bounded
    # value domain); the corpus-sized work is the (size, cents) keyed
    # aggregate before it, and the frontier joins back as a broadcast.
    "skyline_parts": frozenset({"GLOBALWIN", "1PART"}),
    # event_comovement_corr: the NLJ is the dense day-grid crossJoin --
    # distinct days x the broadcast distinct-type set, O(calendar x
    # types) rows at any data scale (the corpus-sized work is the
    # (day, type) keyed count before it); the gapfill_hourly
    # bounded-grid pattern.
    "event_comovement_corr": frozenset({"NLJ"}),
    # fk_integrity_check: the 1PART is each relation's single-row
    # summary aggregate exchange -- the freshness_check scalar-anchor
    # pattern, eight times; the data-sized work is one keyed child
    # aggregate + one distinct-parent left join per relation. (The
    # round-13 single-aggregate restructure removed the former NLJ:
    # the 1-row stats-x-orphans crossJoin no longer exists.)
    "fk_integrity_check": frozenset({"1PART"}),
}


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("extended")
    return buf.getvalue()


def _tree_depth(line: str) -> int:
    """Start index of the node text in a physical-plan tree line (the
    prefix is built from ' ', ':', '+', '-' in 3-char levels)."""
    i = 0
    while i < len(line) and line[i] in " :+-":
        i += 1
    return i


def _docbcast(plan: str) -> bool:
    """True if any EXPLICIT broadcast hint's subtree reads the
    documents table without an intervening aggregate -- a forced
    corpus-linear broadcast (the hint overrides the size check, so
    this fails outright at the 8 GB cap instead of degrading to a
    shuffle). The documents relation is identified by its column
    signature (doc_id + text) in the analyzed logical plan, which is
    where ResolvedHint nodes are still visible as subtree wrappers."""
    try:
        analyzed = plan.split("== Analyzed Logical Plan ==")[1]
        analyzed = analyzed.split("== Optimized Logical Plan ==")[0]
    except IndexError:
        return False
    lines = analyzed.splitlines()
    for i, line in enumerate(lines):
        if "ResolvedHint" not in line or "broadcast" not in line:
            continue
        base = _tree_depth(line)
        reads_docs = has_agg = False
        for sub in lines[i + 1:]:
            if not sub.strip() or _tree_depth(sub) <= base:
                break
            if "Aggregate" in sub:
                has_agg = True
            if "Relation" in sub and "doc_id#" in sub and "text#" in sub:
                reads_docs = True
        if reads_docs and not has_agg:
            return True
    return False


def audit(name: str, df) -> list[str]:
    plan = plan_of(df)
    flags = []
    if "CartesianProduct" in plan:
        flags.append("CARTESIAN")
    if _docbcast(plan):
        flags.append("DOCBCAST")
    if "BroadcastNestedLoopJoin" in plan:
        flags.append("NLJ")
    if "windowspecdefinition(" in plan and "Window [" in plan:
        # empty partition spec renders as windowspecdefinition(<sort>...
        # with no partition columns before the ORDER spec
        for line in plan.splitlines():
            if "Window [" in line and "windowspecdefinition(" in line:
                spec = line.split("windowspecdefinition(")[1]
                # partition cols come first; a spec starting with the
                # sort column list only (ends "ASC NULLS FIRST" before
                # any comma-separated partition ref) is heuristic --
                # flag specs with no '#' before the first ASC/DESC
                head = spec.split(",")[0]
                if "ASC" in head or "DESC" in head:
                    flags.append("GLOBALWIN")
                break
    n_out_cols = len(df.columns)
    if "Exchange SinglePartition" in plan and n_out_cols > 1:
        # scalar summaries (1 row out) are fine; anything else funnels
        if "collect_limit" not in plan.lower():
            flags.append("1PART")
    return flags


def sweep(spark, sf_dir: str) -> dict[str, frozenset[str]]:
    """Flag set per flagged query (un-flagged queries omitted). A query
    whose plan fails to build gets an ERROR:<type> flag instead of
    aborting the sweep -- the audit must always report every query."""
    out: dict[str, frozenset[str]] = {}
    for name, fn in sorted(all_queries().items()):
        try:
            flags = audit(name, fn(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001
            out[name] = frozenset({f"ERROR:{type(exc).__name__}"})
            continue
        if flags:
            out[name] = frozenset(flags)
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit", cpus=min(8, cpu_count()))
    try:
        got = sweep(spark, sf_dir)
    finally:
        spark.stop()
    for name, flags in sorted(got.items()):
        mark = "" if ALLOWLIST.get(name) == flags else "  <-- NOT ALLOWED"
        print(f"FLAG  {name}: {', '.join(sorted(flags))}{mark}")
    missing = sorted(set(ALLOWLIST) - set(got))
    for name in missing:
        print(f"GONE  {name}: allowlisted but no longer flags (prune entry)")
    ok = got == ALLOWLIST
    print(f"\n{len(got)} flagged of {len(all_queries())}; "
          f"{'MATCHES' if ok else 'DIFFERS FROM'} allowlist")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
