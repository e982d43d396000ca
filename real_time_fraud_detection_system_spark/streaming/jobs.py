"""Scheduled batch jobs over the prediction store (EP3 + T9/T10).

daily_metrics_upsert -- A7: the reference's hourly
  INSERT ... ON CONFLICT (day) DO UPDATE (compute-daily-metrics.py:19-37)
  has no parquet equivalent, so the engine uses dynamic partition
  overwrite keyed by day: recompute affected days, overwrite exactly
  those partitions. Idempotent (run twice -> identical rows) and safe
  under late data (re-running refreshes any day, not just today --
  strictly better than the reference's drop-after-midnight behavior,
  SURVEY.md T3).

dq_checks -- T10: the three assertions from Data_quality_checks.py:18-40
  (freshness >= 1 row / 15 min; zero null ids; fraud rate in [0,1]).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..storage import (
    STORE_PARTITION_COL, append_bucketed, commit_epoch, index_table,
    unindexed_rows,
)


def daily_metrics_frame(predictions: DataFrame, days_filter=None) -> DataFrame:
    """A4: the grouped aggregation (COUNT + AVG x3 by day)."""
    df = predictions.withColumn("day", F.to_date("event_time"))
    if days_filter is not None:
        df = df.filter(F.col("day").isin(days_filter))
    return df.groupBy("day").agg(
        F.count("*").alias("num_predictions"),
        F.avg(F.col("prediction").cast("double")).alias("fraud_rate"),
        F.avg("amount").alias("avg_amount"),
        F.avg("proba").alias("avg_proba"),
    )


def daily_metrics_upsert(
    spark: SparkSession, predictions: DataFrame, metrics_dir: str,
    days_filter=None,
) -> None:
    """A7: keyed overwrite of the day partitions. With
    partitionOverwriteMode=dynamic only partitions present in the new
    frame are replaced -- the parquet-native ON CONFLICT (day) DO UPDATE."""
    from ..session import conf_override

    with conf_override(
        spark, "spark.sql.sources.partitionOverwriteMode", "dynamic"
    ):
        (
            daily_metrics_frame(predictions, days_filter)
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(metrics_dir)
        )


class DataQualityError(AssertionError):
    pass


def dq_checks(predictions: DataFrame, now_col=None) -> dict:
    """T10: run the three reference checks, raise DataQualityError on the
    first violation, return the measured values. One aggregation pass --
    the reference runs three separate queries; at scale one scan wins."""
    if now_col is not None:
        anchored = predictions.withColumn("_now", now_col)
    else:
        # deterministic anchor: max event_time, broadcast as a 1-row dim
        # (answered by parquet max stats, not a full scan)
        anchor = predictions.agg(F.max("event_time").alias("_now"))
        anchored = predictions.crossJoin(F.broadcast(anchor))
    row = anchored.agg(
        F.sum(
            (
                F.col("event_time") > F.col("_now") - F.expr("INTERVAL 15 MINUTES")
            ).cast("long")
        ).alias("recent"),
        F.sum(F.col("transaction_id").isNull().cast("long")).alias("null_ids"),
        F.avg(
            F.when(
                F.col("event_time") > F.col("_now") - F.expr("INTERVAL 1 HOUR"),
                F.col("prediction").cast("double"),
            )
        ).alias("fraud_rate_1h"),
    ).first()
    result = {
        "recent_rows": row["recent"] or 0,
        "null_ids": row["null_ids"] or 0,
        "fraud_rate_1h": row["fraud_rate_1h"],
    }
    if result["recent_rows"] < 1:
        raise DataQualityError(f"freshness violated: {result}")
    if result["null_ids"] > 0:
        raise DataQualityError(f"null transaction_ids: {result}")
    fr = result["fraud_rate_1h"]
    if fr is not None and not (0.0 <= fr <= 1.0):
        raise DataQualityError(f"fraud rate out of bounds: {result}")
    return result


def expectations_gate(
    df: DataFrame,
    rules,
    max_violation_ppm: int = 0,
) -> dict:
    """Scheduled-job form of operators/metrics.dq_expectations: evaluate
    a declarative (name, violation-predicate-SQL) rule table over any
    frame in ONE conditional-sum scan and raise DataQualityError naming
    every rule whose violation rate exceeds ``max_violation_ppm``
    (default: zero tolerance). Returns {rule: violations} plus _n.

    The job twin pattern: the oracle-checked query REPORTS, this gate
    ENFORCES -- same rule tuples, so a pipeline asserts exactly what
    the report shows (metrics.DQ_RULES is the events-table instance).
    """
    aggs = [
        F.sum(F.expr(f"CASE WHEN {pred} THEN 1 ELSE 0 END")).alias(name)
        for name, pred in rules
    ]
    aggs.append(F.count("*").alias("_n"))
    row = df.agg(*aggs).first()
    n = row["_n"] or 0
    result = {name: (row[name] or 0) for name, _ in rules}
    result["_n"] = n
    if n:
        # cross-multiplied, NOT floor-divided: v * 1e6 // n rounds a
        # sub-ppm rate down to 0 and would pass real violations through
        # a "zero tolerance" gate on any large frame (9 bad rows in
        # 10M = 0 ppm after flooring)
        failing = {
            name: v
            for name, v in result.items()
            if name != "_n" and v * 1_000_000 > max_violation_ppm * n
        }
        if failing:
            raise DataQualityError(
                f"expectations violated (> {max_violation_ppm} ppm):"
                f" {failing} of {n} rows"
            )
    return result


# ==========================================================================
# Incremental table profiling (T9/T10 general form). The batch operator
# operators/metrics.py predictions_profile is exact and one-shot; this
# is the job form for a table that GROWS: each micro-batch (or each
# scheduled run over new partitions) emits a tiny MERGEABLE partial --
# counts, min/max, and a DataSketches HLL sketch per column -- and the
# current profile is an aggregation over partials, never a rescan of
# history. Exactly the sketch-merge posture a 100 TB store needs: the
# only non-mergeable exact statistic (NDV) degrades to the sketch
# estimate, everything else stays exact.


def profile_partial(df: DataFrame, cols) -> DataFrame:
    """One-row frame of mergeable per-column states for this batch.
    ``cols``: [(name, 'num' | 'epoch_us' | None)] -- the
    operators/metrics.py PROFILE_COLS convention."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, kind in cols:
        src = F.unix_micros(F.col(c)) if kind == "epoch_us" else F.col(c)
        # HLL input must be int/long/string/binary: doubles profile
        # their string image (same cardinality, engine-stable).
        # + 0.0 first: -0.0 and 0.0 stringify differently but compare
        # equal under countDistinct, so normalize the sign of zero
        # before imaging (-0.0 + 0.0 == +0.0 in IEEE).
        sk = (src + F.lit(0.0)).cast("string") if kind == "num" else src
        aggs += [
            F.count(src).alias(f"{c}_nn"),
            F.hll_sketch_agg(sk).alias(f"{c}_hll"),
        ]
        if kind is not None:
            aggs += [
                F.min(src).cast("double").alias(f"{c}_min"),
                F.max(src).cast("double").alias(f"{c}_max"),
            ]
    return df.agg(*aggs)


def profile_merge(partials: DataFrame, cols) -> DataFrame:
    """Fold any number of partials into the per-column profile frame
    (same shape as predictions_profile, with approx_ndv in place of the
    exact n_distinct)."""
    aggs = [F.sum("n_rows").alias("_n")]
    for c, kind in cols:
        aggs += [
            F.sum(f"{c}_nn").alias(f"{c}_nn"),
            F.hll_sketch_estimate(
                F.hll_union_agg(F.col(f"{c}_hll"), True)
            ).alias(f"{c}_nd"),
        ]
        if kind is not None:
            aggs += [
                F.min(f"{c}_min").alias(f"{c}_min"),
                F.max(f"{c}_max").alias(f"{c}_max"),
            ]
    entries = []
    for c, kind in cols:
        mn, mx = (
            (f"{c}_min", f"{c}_max")
            if kind is not None
            else ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)")
        )
        entries.append(f"'{c}', {c}_nn, {c}_nd, {mn}, {mx}")
    unpivot = (
        f"stack({len(cols)}, {', '.join(entries)}) "
        "AS (col_name, n_nonnull, approx_ndv, min_value, max_value)"
    )
    return (
        profile_partial_rollup_select(partials.agg(*aggs), unpivot)
    )


def profile_partial_rollup_select(agged: DataFrame, unpivot: str) -> DataFrame:
    return (
        agged.select("_n", F.expr(unpivot))
        .select(
            "col_name",
            F.col("_n").alias("n_rows"),
            (F.col("_n") - F.col("n_nonnull")).alias("n_nulls"),
            "approx_ndv",
            "min_value",
            "max_value",
        )
        .orderBy("col_name")
    )


def expectations_sink_writer(report_dir: str, rules, dead_letter_dir=None):
    """foreachBatch hook: per micro-batch, append one monitoring row per
    rule (epoch, rule, violations, rows) and -- when a dead-letter dir
    is given -- divert the violating rows there instead of failing the
    stream. The streaming third of the expectations story: the query
    REPORTS, the gate ENFORCES, this sink MONITORS continuously.

    Each output commits through ``storage.commit_epoch``, so a replayed
    epoch adds no second report or dead-letter copy; every row carries
    its epoch_id."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # coalesce(sum, 0): an EMPTY micro-batch aggregates sum to NULL,
        # but the report contract is integer counts
        aggs = [
            F.coalesce(
                F.sum(F.expr(f"CASE WHEN {pred} THEN 1 ELSE 0 END")),
                F.lit(0),
            ).alias(name)
            for name, pred in rules
        ]
        aggs.append(F.count("*").alias("_n"))
        wide = batch_df.agg(*aggs)
        stack = ", ".join(f"'{n}', {n}" for n, _ in rules)
        report = wide.selectExpr(
            f"stack({len(rules)}, {stack}) AS (rule, n_violations)",
            "_n AS n_rows",
        )
        commit_epoch(
            report_dir,
            epoch_id,
            report.withColumn("epoch_id", F.lit(epoch_id)).write.parquet,
        )
        if dead_letter_dir is not None:
            bad = " OR ".join(f"({pred})" for _, pred in rules)
            commit_epoch(
                dead_letter_dir,
                epoch_id,
                batch_df.filter(F.expr(bad))
                .withColumn("epoch_id", F.lit(epoch_id))
                .write.parquet,
            )

    return write_batch


def profile_sink_writer(partials_dir: str, cols):
    """foreachBatch hook: one partial row per micro-batch, committed
    through ``storage.commit_epoch`` so a replay is not counted twice."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        commit_epoch(
            partials_dir,
            epoch_id,
            profile_partial(batch_df, cols)
            .withColumn("epoch_id", F.lit(epoch_id))
            .write.parquet,
        )

    return write_batch


def profile_from_partials(spark: SparkSession, partials_dir: str, cols) -> DataFrame:
    return profile_merge(
        spark.read.parquet(partials_dir).drop("epoch_id"), cols
    )


def retention_sweep(
    spark: SparkSession, store_dir: str, keep_days: int, today=None
) -> dict:
    """Partition-TTL for the date-partitioned prediction store: drop
    whole ``event_date=`` partitions (STORE_PARTITION_COL, written by
    prediction_sink_writer) strictly older than ``keep_days`` before
    ``today`` (defaults to the store's own max day, so replays of old
    data can't silently wipe newer history on a machine with a wrong
    clock). Deleting by PARTITION DIRECTORY is the parquet-native form
    of the reference's row DELETE (SURVEY T3: drop-after-midnight) --
    no rewrite, no tombstones, partition pruning makes the deleted
    range unreadable atomically per day. The null-date partition
    (``__HIVE_DEFAULT_PARTITION__``) has no age and is left alone.

    Returns {"deleted": [...], "kept": n} (n counts dated partitions)
    for the scheduler's log."""
    import datetime as dt

    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    conf = jsc.hadoopConfiguration()
    path_cls = jvm.org.apache.hadoop.fs.Path
    root = path_cls(store_dir)
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        return {"deleted": [], "kept": 0}
    prefix = f"{STORE_PARTITION_COL}="
    days = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if (
            st.isDirectory()
            and name.startswith(prefix)
            and name != prefix + "__HIVE_DEFAULT_PARTITION__"
        ):
            days.append(name[len(prefix):])
    if not days:
        return {"deleted": [], "kept": 0}
    if today is None:
        today = max(dt.date.fromisoformat(d) for d in days)
    elif isinstance(today, str):
        today = dt.date.fromisoformat(today)
    cutoff = today - dt.timedelta(days=keep_days)
    deleted = []
    for d in sorted(days):
        if dt.date.fromisoformat(d) < cutoff:
            fs.delete(path_cls(root, prefix + d), True)
            deleted.append(d)
    return {"deleted": deleted, "kept": len(days) - len(deleted)}


def ann_index_sink_writer(prefix: str = "ann_idx"):
    """foreachBatch hook over an (vec_id, embedding) stream: each
    arriving micro-batch assigns its NEW vectors to the persisted
    centroids ``{prefix}_cents`` (the persist_ann_index set --
    centroids stay fixed as the corpus grows, the standard IVF
    practice; re-train them offline when ivf_cell_stats says the
    balance drifted) and appends them to the c_id-bucketed
    ``{prefix}_members``, so ann_search sees new vectors at the next
    query with no index rebuild.

    The new vectors are ``storage.unindexed_rows`` on m_id: a
    re-delivered epoch contributes zero rows, and a tombstoned vec_id
    arriving again folds the tombstones first (compact_ann_index), so
    its new embedding replaces the old one. The append is
    ``storage.append_bucketed`` on persist_ann_index's c_id key --
    each batch adds new bucket files, it never rewrites existing ones.

    Visibility: a DIFFERENT SparkSession that already read the members
    table caches its file listing and will not see appended batches
    until spark.catalog.refreshTable(f"{prefix}_members") -- standard
    Spark managed-table behavior for out-of-band appends; the batch's
    own session (and any fresh session) sees them immediately."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        from ..operators.similarity import (
            _INDEX_PARTS,
            _ann_members,
            _widen,
            compact_ann_index,
        )

        spark = batch_df.sparkSession
        cents = index_table(spark, f"{prefix}_cents").orderBy("c_id").collect()
        members = _ann_members(
            _widen(batch_df),
            [r["c_id"] for r in cents],
            [r["c_emb"] for r in cents],
        )
        member = ("members", _INDEX_PARTS["members"])
        fresh = unindexed_rows(
            members, prefix, member, "m_id", compact_ann_index
        )
        if fresh.isEmpty():
            return  # full replay: every vector already indexed
        append_bucketed(fresh, f"{prefix}_members", _INDEX_PARTS["members"])

    return write_batch


def dedup_index_sink_writer(pairs_dir: str, prefix: str = "dedup_idx"):
    """foreachBatch hook over a (doc_id, text) document stream (the
    dedup.py shard-vs-index path as a streaming job): each micro-batch
    probes the live persisted dedup index (live_dedup_index, with
    incremental_dedup_pairs), writes the verified pairs its
    arrival adds under ``pairs_dir/epoch_id=N``, then appends its
    signature and band rows to ``{prefix}_sig`` / ``{prefix}_band``.
    The first non-empty batch creates the (empty) tables; a corpus
    indexed with persist_dedup_index, in this process or an earlier
    one (``storage.index_table``), is grown in place.

    Exactly-once under replays: the batch's new docs are
    ``storage.unindexed_rows`` on the signature table's doc_id, so a
    full replay finds nothing fresh and writes nothing, and a
    tombstoned doc_id arriving again folds the tombstones first
    (compact_dedup_index). A tombstoned doc never matches: the probe
    reads the live index. The pairs commit through
    ``storage.commit_epoch`` BEFORE the index append, so a crash
    between the two replays the batch with the index still pre-batch
    and the committed pairs are not written twice. The signature
    table, the membership table, is appended last, so a crash between
    the two appends replays the batch instead of leaving docs indexed
    without their band rows."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        from ..operators.dedup import (
            _INDEX_PARTS,
            _band_rows,
            compact_dedup_index,
            incremental_dedup_pairs,
            live_dedup_index,
            persist_dedup_index,
            signature_index,
        )

        spark = batch_df.sparkSession
        member = ("sig", _INDEX_PARTS["sig"])
        if index_table(spark, f"{prefix}_sig", member[1]) is None:
            if batch_df.isEmpty():
                return
            # first batch: create the empty tables, then append as usual
            persist_dedup_index(batch_df.limit(0), prefix)
        fresh = unindexed_rows(
            batch_df, prefix, member, "doc_id", compact_dedup_index
        )
        if fresh.isEmpty():
            return  # full replay: everything already indexed
        # pinned: the probe and both appends read the signatures
        new_sigs = signature_index(fresh).localCheckpoint()
        commit_epoch(
            pairs_dir,
            epoch_id,
            incremental_dedup_pairs(*live_dedup_index(spark, prefix), new_sigs)
            .withColumn("epoch_id", F.lit(int(epoch_id)))
            .write.partitionBy("epoch_id")
            .parquet,
        )
        append_bucketed(
            _band_rows(new_sigs), f"{prefix}_band", _INDEX_PARTS["band"]
        )
        append_bucketed(new_sigs, f"{prefix}_sig", _INDEX_PARTS["sig"])

    return write_batch


def ingest_census_sink_writer(census_dir: str, prefix: str = "dedup_idx"):
    """foreachBatch hook over a (doc_id, source, text, n_chars)
    document stream: per micro-batch, append the per-(source, status)
    ingest census against the persisted dedup index -- status =
    'added' (doc_id not among the live ``{prefix}_sig`` doc_ids) or
    'replayed' (already there) -- with doc and char counts. The
    STREAMING twin of corpus_snapshot_diff's batch census: where the
    batch form prices a whole dump after it lands, this writes the
    same triage row-by-row as shards arrive, so an ingest dashboard
    sees a source's replay mass or volume spike within one trigger
    instead of at the next dump boundary. Usually composed with
    dedup_index_sink_writer over the same stream and prefix (census
    first, then the index append).

    VALUE-STABLE under at-least-once retry BY FIRST-WRITE-WINS: the
    census lands under ``census_dir/epoch_id=N`` through
    ``storage.commit_epoch``, so once epoch N is committed a
    crash-retry that re-delivers it AFTER the composed index writer
    already appended N's docs cannot rewrite N's census as
    all-'replayed' and erase its original 'added' mass --
    foreachBatch re-delivers the same rows for the same epoch_id, so
    the committed census is still the truth. Consequence:
    intentionally RE-pricing an epoch re-delivered under the same
    epoch_id requires deleting its ``_epochs/N`` marker and
    ``epoch_id=N`` partition first. The membership join probes only
    the doc_id-bucketed signature table's doc_id column, so a shard's
    census costs the shard, not the corpus."""

    def write(batch_df: DataFrame, epoch_id: int, staging: str) -> None:
        from ..operators.dedup import _INDEX_PARTS, live_dedup_index

        spark = batch_df.sparkSession
        docs = batch_df.select("doc_id", "source", "n_chars")
        sig_t = index_table(spark, f"{prefix}_sig", _INDEX_PARTS["sig"])
        if sig_t is not None:
            known = live_dedup_index(spark, prefix)[0].select("doc_id")
            tagged = docs.join(
                known.withColumn("_known", F.lit(1)), "doc_id", "left"
            )
        else:  # first batch: no index yet
            tagged = docs.withColumn("_known", F.lit(None).cast("int"))
        census = (
            tagged.selectExpr(
                "source",
                "CASE WHEN _known IS NULL THEN 'added'"
                " ELSE 'replayed' END AS status",
                "n_chars",
            )
            .groupBy("source", "status")
            .agg(
                F.count("*").alias("n_docs"),
                F.expr("CAST(sum(n_chars) AS BIGINT)").alias("n_chars"),
            )
            .withColumn("epoch_id", F.lit(int(epoch_id)))
        )
        census.write.partitionBy("epoch_id").parquet(staging)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        commit_epoch(
            census_dir, epoch_id, lambda d: write(batch_df, epoch_id, d)
        )

    return write_batch


def text_index_sink_writer(prefix: str = "text_idx"):
    """foreachBatch hook over a (doc_id, text) document stream:
    append each micro-batch's NEW docs to the persisted lexical index
    (operators.textops.persist_text_index layout) -- posting rows to
    the t-bucketed ``{prefix}_post``, (doc_id, dl) rows to the
    doc_id-bucketed ``{prefix}_doc``, and ONE (n_docs, sum_dl) delta
    row to the ``{prefix}_stats`` append-log -- so bm25_search /
    hybrid_search see a landed shard within one trigger, with the
    index family's uniform lifecycle (this append leg + the
    tombstone/compact legs). The first non-empty batch persists the
    index (persist_text_index).

    The new docs are ``storage.unindexed_rows`` on the doc table's
    doc_id (its bucket layout makes that a shard-cost probe): a
    re-delivered epoch adds nothing, and a doc_id that was tombstoned
    (removed/changed) and then RE-INGESTED before compaction folds the
    tombstones first (compact_text_index), after which the doc is
    genuinely absent and re-indexes with its new content. Appends go
    through ``storage.append_bucketed`` on the persisted keys, so the
    probe plans keep their bucket-pruned shape across appends."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        from ..operators.textops import (
            _INDEX_PARTS,
            _TOKS,
            build_postings,
            build_text_stats,
            compact_text_index,
            persist_text_index,
        )

        spark = batch_df.sparkSession
        member = ("doc", _INDEX_PARTS["doc"])
        if index_table(spark, f"{prefix}_doc", member[1]) is None:
            if not batch_df.isEmpty():
                persist_text_index(batch_df, prefix=prefix)
            return
        fresh = unindexed_rows(
            batch_df, prefix, member, "doc_id", compact_text_index
        )
        if fresh.isEmpty():
            return  # full replay: everything already indexed
        append_bucketed(
            build_postings(fresh), f"{prefix}_post", _INDEX_PARTS["post"]
        )
        append_bucketed(
            # dl MUST come from the same tokenizer the postings use --
            # a hand-copied split() here would silently drift from
            # build_postings if the tokenizer ever changes
            fresh.selectExpr("doc_id", f"size({_TOKS}) AS dl"),
            f"{prefix}_doc",
            _INDEX_PARTS["doc"],
        )
        append_bucketed(build_text_stats(fresh), f"{prefix}_stats", ())

    return write_batch


def hybrid_query_sink_writer(
    out_dir: str,
    k: int | None = None,
    text_prefix: str = "text_idx",
    ann_prefix: str = "ann_idx",
):
    """foreachBatch hook over a QUERY stream -- rows (q_id BIGINT >= 0,
    terms ARRAY<STRING>, emb ARRAY<DOUBLE>) -- answering each
    micro-batch of retrieval requests against BOTH persisted indexes
    in one shared pass (operators.similarity.hybrid_search_batch: the
    lexical side probes the live postings for the batch's term union,
    the semantic side runs one kernel assignment over the batch's
    vectors, integer-exact RRF fuses per query) and landing the
    results under ``{out_dir}/epoch_id=N``. The streaming twin of
    hybrid_search: a retrieval service shape where queries ARRIVE as
    a stream and answers appear within one trigger, tombstone-aware
    on both legs by construction.

    VALUE-STABLE under at-least-once retry BY FIRST-WRITE-WINS (the
    ingest_census_sink_writer discipline, through
    ``storage.commit_epoch``): a replayed epoch must serve the answers
    its first delivery committed, even if either index absorbed new
    docs in between (re-scoring would silently change an
    already-served result set). Empty batches write nothing."""

    def write(batch_df: DataFrame, epoch_id: int, staging: str) -> None:
        from ..operators.similarity import hybrid_search_batch

        if batch_df.isEmpty():
            return
        kwargs = {} if k is None else {"k": k}
        results = hybrid_search_batch(
            batch_df.sparkSession,
            batch_df.select("q_id", "terms", "emb"),
            text_prefix=text_prefix,
            ann_prefix=ann_prefix,
            **kwargs,
        ).withColumn("epoch_id", F.lit(int(epoch_id)))
        results.write.partitionBy("epoch_id").parquet(staging)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        commit_epoch(
            out_dir, epoch_id, lambda d: write(batch_df, epoch_id, d)
        )

    return write_batch


def tombstone_sink_writer(prefix: str = "dedup_idx"):
    """foreachBatch hook over a DELETION stream (doc_id rows -- e.g.
    takedown notices, retention expiries, re-crawl invalidations):
    each micro-batch records its doc_ids as tombstones against the
    persisted dedup index (operators.dedup.tombstone_dedup_index), so
    every subsequent shard probe through live_dedup_index stops
    matching the dead docs WITHIN ONE TRIGGER of the deletion
    arriving -- the streaming leg of the tombstone/compaction
    lifecycle (compaction itself stays a scheduled batch job,
    compact_dedup_index, the retention_sweep discipline).

    Replay-idempotent BY THE TOMBSTONE'S OWN CONTRACT: appends are
    anti-join-gated per doc_id, so a re-delivered epoch records
    nothing new. Empty batches no-op."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        from ..operators.dedup import tombstone_dedup_index

        if batch_df.isEmpty():
            return
        tombstone_dedup_index(batch_df.sparkSession, batch_df, prefix)

    return write_batch


def scd2_dimension_sink_writer(
    dim_dir: str, key: str, effective_col: str = "effective_ts"
):
    """foreachBatch hook over a DIMENSION-UPDATE stream: each
    micro-batch applies ``storage.merge_dimension_scd2``, so the
    history-keeping dimension (valid_from/valid_to windows) stays
    current as updates arrive -- the streaming ingest shape of the
    SCD2 surface (batch merge: storage.py; declarative twin:
    operators/temporal._scd2_history; point-in-time reads:
    storage.point_in_time_join).

    Replay-idempotent under at-least-once foreachBatch semantics BY
    THE MERGE'S OWN CONTRACT: a replayed batch's updates are not newer
    than the key's current valid_from and drop as already-applied, and
    a first change equal to the current attributes is ignored -- no
    epoch bookkeeping needed. Batches must arrive in non-decreasing
    event-time order per key (the checkpointed-ingest shape)."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        from ..storage import merge_dimension_scd2

        if batch_df.isEmpty():
            return
        merge_dimension_scd2(
            batch_df.sparkSession, dim_dir, batch_df, key, effective_col
        )

    return write_batch
