"""Physical-layout levers for the 100 TB posture: bucketed tables.

A repeated big-big equi-join (orders x lineitem on orderkey here; at
100 TB, predictions x any event-keyed table) pays a full shuffle of both
sides every query. Bucketing pre-shuffles ONCE at write time: both
tables hash-clustered into the same number of buckets on the join key
make the join a zero-exchange sort-merge (each task reads matching
bucket files from both sides). The plan test asserts the join runs with
no Exchange on either side -- the property that survives any scale-up.

Date-partitioned + bucketed is the canonical prediction-store layout:
partition pruning serves the time filters (SURVEY.md P12/P13), buckets
serve the key joins.

The three persisted index families (dedup, ANN, text) share one
layout (INDEX_BUCKETS buckets, sorted on the bucket keys), one table
resolver (index_table: the indexes survive a restart), one build
(persist_index), one append gate (unindexed_rows) and one tombstone
lifecycle: tombstone_ids, live_index, compact_index.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession


INDEX_BUCKETS = 8  # bucket count of every persisted index table


def _warehouse_dir(spark: SparkSession, table: str) -> str:
    from urllib.parse import urlparse

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    return os.path.abspath(f"{warehouse}/{table}")


def index_table(
    spark: SparkSession, table: str, keys: list[str] = ()
) -> DataFrame | None:
    """The persisted index table ``table``, or None if there is none.
    The session catalog is in-memory, so a new process does not know
    the tables an earlier one wrote, but their warehouse dirs survive:
    a table missing from the catalog whose dir holds parquet files is
    registered over that dir, columns from the parquet schema and
    bucketed on ``keys`` if given (the part tables). A swap that
    write_bucketed left half done, old dir gone and
    ``{table}__new`` complete, is finished first. Every read, append
    and existence check of an index table goes through here."""
    if not spark.catalog.tableExists(table):
        path = _warehouse_dir(spark, table)
        if not os.path.isdir(path) and os.path.exists(
            f"{path}__new/_SUCCESS"
        ):
            os.rename(f"{path}__new", path)
        if not os.path.isdir(path) or not any(
            f.endswith(".parquet") for f in os.listdir(path)
        ):
            return None
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in spark.read.parquet(path).schema
        )
        k = ", ".join(keys)
        spec = (
            f" CLUSTERED BY ({k}) SORTED BY ({k}) INTO {INDEX_BUCKETS} BUCKETS"
            if keys
            else ""
        )
        spark.sql(
            f"CREATE TABLE {table} ({cols}) USING parquet{spec}"
            f" LOCATION '{path}'"
        )
    return spark.table(table)


def drop_index_table(spark: SparkSession, table: str) -> None:
    """Drop ``table`` and delete its warehouse dir: DROP keeps the
    files of a table index_table registered, and a later index_table
    would bring them back."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(_warehouse_dir(spark, table), ignore_errors=True)


def append_bucketed(df: DataFrame, table: str, keys: list[str]) -> None:
    """Append df to the index table ``table`` (resolved through
    index_table first, created if absent), hash-clustered and sorted by
    keys into INDEX_BUCKETS bucket files; with no keys, plain parquet
    (the tombstone and stats side tables). Each append adds files and
    never rewrites existing ones, so joins and aggregations keyed on
    ``keys`` keep skipping their shuffle (and sort) across appends."""
    index_table(df.sparkSession, table, keys)
    w = df.write.mode("append").format("parquet")
    if keys:
        w = w.bucketBy(INDEX_BUCKETS, *keys).sortBy(*keys)
    w.saveAsTable(table)


def write_bucketed(df: DataFrame, table: str, keys: list[str]) -> DataFrame:
    """Replace ``table`` with df in the append_bucketed layout; returns
    the catalog-backed table. The rows are written to the sibling
    table ``{table}__new`` first and swapped in only once complete
    (drop the old table, rename), so df may read ``table`` itself and
    a failed write leaves the old table whole."""
    spark = df.sparkSession
    drop_index_table(spark, f"{table}__new")
    append_bucketed(df, f"{table}__new", keys)
    drop_index_table(spark, table)
    spark.sql(f"ALTER TABLE {table}__new RENAME TO {table}")
    return spark.table(table)


# --------------------------------------------------------------------------
# The lifecycle of the persisted index families (dedup, ANN, text). An
# index ``prefix`` owns part tables ``{prefix}_{part}`` (bucketed on
# the family's ``parts[part]`` keys, each carrying the family's id
# column), optional plain side tables (centroids, stats) and one
# ``{prefix}_tomb`` table of removed ids (that id column alone).
# Removal only deletes rows -- no surviving row depends on a removed
# one -- so an O(removed)-row side table plus a probe-time anti-join is
# exact, and compaction (the LSM trade) folds it into one rewrite when
# the anti-join costs more than the rewrite.


def persist_index(
    prefix: str, frames: dict[str, DataFrame], parts: dict[str, list[str]]
) -> list[DataFrame]:
    """Replace the whole index ``prefix``: each ``frames[part]`` becomes
    ``{prefix}_{part}`` (bucketed on ``parts.get(part)``), then the
    tombstone table is dropped, since a rebuilt index has no removed
    rows. Returns the tables in ``frames`` order."""
    tables = [
        write_bucketed(df, f"{prefix}_{part}", parts.get(part, ()))
        for part, df in frames.items()
    ]
    drop_index_table(tables[0].sparkSession, f"{prefix}_tomb")
    return tables


def tombstone_ids(
    spark: SparkSession, ids: DataFrame, prefix: str, id_col: str
) -> int:
    """Record ``ids[id_col]`` in ``{prefix}_tomb`` without touching the
    index. Anti-join-gated per id, so re-applying the same ids records
    nothing; the new ids are pinned before the append, so the gate
    reads the table once. Returns the number of NEW tombstones."""
    tomb = f"{prefix}_tomb"
    ids = ids.select(id_col).distinct()
    dead = index_table(spark, tomb)
    if dead is not None:
        ids = ids.join(dead, id_col, "left_anti")
    ids = ids.localCheckpoint()  # pin: read the table once, pre-append
    n_new = ids.count()
    if n_new:
        append_bucketed(ids, tomb, ())
    return n_new


def live_index(
    spark: SparkSession, prefix: str, parts: dict[str, list[str]]
) -> tuple[DataFrame, ...]:
    """The part tables of ``prefix`` minus their tombstoned ids, in
    ``parts`` order. The anti-join's build side is the O(removed)-row
    tombstone table (AQE broadcasts it at size), so each part still
    scans its buckets with zero exchange and a probe costs the probe
    plus the tombstone count, never the index."""
    # a missing part raises the catalog's TABLE_OR_VIEW_NOT_FOUND
    tables = tuple(
        index_table(spark, f"{prefix}_{part}", keys)
        or spark.table(f"{prefix}_{part}")
        for part, keys in parts.items()
    )
    dead = index_table(spark, f"{prefix}_tomb")
    if dead is None:
        return tables
    dead = dead.distinct()
    return tuple(t.join(dead, dead.columns, "left_anti") for t in tables)


def unindexed_rows(
    batch: DataFrame,
    prefix: str,
    member: tuple[str, list[str]],
    id_col: str,
    compact,
) -> DataFrame:
    """The rows of ``batch`` whose ``id_col`` the index ``prefix`` does
    not hold yet: the one append gate of the index sinks, which then
    append what it returns with ``append_bucketed``. ``member`` is the
    membership part (one row per indexed id) and its bucket keys. In
    order:

      1. fold first: if the batch carries an id in ``{prefix}_tomb``,
         run the family's ``compact(spark, prefix)``. A tombstoned id
         arriving again (removed, then restored or changed) would
         otherwise pass as indexed and its new rows would never land,
         while dropping its tombstone would resurrect its old rows;
         after the fold the id is absent from every part;
      2. anti-join the batch on ``id_col`` of the membership table
         ``{prefix}_{part}``, so a re-delivered epoch yields nothing --
         its ids are live members by then, so it triggers no
         compaction either;
      3. pin the result with localCheckpoint, so the tables are read
         once, before the caller appends to them."""
    spark = batch.sparkSession
    dead = index_table(spark, f"{prefix}_tomb")
    if dead is not None and not batch.join(
        dead, id_col, "left_semi"
    ).isEmpty():
        compact(spark, prefix)
    part, keys = member
    members = index_table(spark, f"{prefix}_{part}", keys)
    return batch.join(
        members.select(id_col), id_col, "left_anti"
    ).localCheckpoint()


def compact_index(
    spark: SparkSession,
    prefix: str,
    parts: dict[str, list[str]],
    before_drop=None,
) -> dict:
    """Fold the tombstones into the index: rewrite each part table
    ``{prefix}_{part}`` as its live_index view, re-bucketed on its
    ``parts[part]`` keys, so probe plans keep their zero-exchange
    shape. write_bucketed swaps each part in only once its rewrite is
    complete, so a failure leaves every part whole, and the tombstones
    still filter it. ``before_drop()``, if given, runs after the
    rewrite and before the tombstone table is dropped; a crash before
    the drop is repaired by running the compaction again. Returns the
    exact row funnel: ``prefix``, ``{part}_rows_before`` / ``_after`` /
    ``_dropped`` and ``n_tombstones``."""
    funnel: dict = {"prefix": prefix}
    dead = index_table(spark, f"{prefix}_tomb")
    funnel["n_tombstones"] = 0 if dead is None else dead.distinct().count()
    lives = live_index(spark, prefix, parts)
    for (part, keys), live in zip(parts.items(), lives):
        n_before = index_table(spark, f"{prefix}_{part}", keys).count()
        n_after = write_bucketed(live, f"{prefix}_{part}", keys).count()
        funnel[f"{part}_rows_before"] = n_before
        funnel[f"{part}_rows_after"] = n_after
        funnel[f"{part}_rows_dropped"] = n_before - n_after
    if before_drop is not None:
        before_drop()
    drop_index_table(spark, f"{prefix}_tomb")
    return funnel


class CompactionError(RuntimeError):
    """Base for compaction concurrency failures."""


class CompactionInProgress(CompactionError):
    """Another compaction holds the store's lock file."""


class ConcurrentAppend(CompactionError):
    """Files appeared in the store between the compaction read and its
    rewrite -- aborting instead of silently dropping those rows."""


COMPACTION_LOCK = "_COMPACTION_LOCK"

# the prediction store's date partition column: the sink writes it,
# compaction and the retention sweep read it
STORE_PARTITION_COL = "event_date"


def compaction_locked(store_dir: str) -> bool:
    """True while a compaction rewrite holds the store. Cooperative
    writers (prediction_sink_writer) check this and fail loudly rather
    than appending rows the in-flight rewrite would silently drop."""
    return os.path.exists(os.path.join(store_dir, COMPACTION_LOCK))


def commit_epoch(out_dir: str, epoch_id: int, write) -> bool:
    """The one exactly-once commit for epoch-keyed foreachBatch file
    sinks: Spark replays an uncommitted epoch under the SAME epoch_id,
    so the sink is made idempotent on that id (Structured Streaming,
    SIGMOD 2018).

    Unless ``out_dir/_epochs/<epoch_id>`` exists, ``write(staging)``
    writes the epoch into a cleared ``out_dir/_staging/<epoch_id>``,
    then the marker is created -- the commit point. Then, every time,
    each staged file (``.crc`` sidecars included) moves to the same
    relative path under ``out_dir`` and the staging dir is removed.
    A replay before the marker redoes the epoch; a replay after it
    finishes the moves. Both dirs start with ``_``, so Spark readers
    skip them; part-file names are unique per write job, so moves
    never clobber another epoch's files. foreachBatch runs on the
    driver, so plain os calls cover local and DFS-mounted stores.

    Returns True if this call wrote the epoch."""
    staging = os.path.join(out_dir, "_staging", str(epoch_id))
    marker_dir = os.path.join(out_dir, "_epochs")
    marker = os.path.join(marker_dir, str(epoch_id))
    wrote = not os.path.exists(marker)
    if wrote:
        shutil.rmtree(staging, ignore_errors=True)
        write(staging)
        os.makedirs(marker_dir, exist_ok=True)
        open(marker, "w").close()
    for d, _, files in os.walk(staging):
        dest = os.path.join(out_dir, os.path.relpath(d, staging))
        os.makedirs(dest, exist_ok=True)
        for f in files:
            os.replace(os.path.join(d, f), os.path.join(dest, f))
    shutil.rmtree(staging, ignore_errors=True)
    return wrote


def compact_partitions(
    spark: SparkSession,
    store_dir: str,
    partition_col: str = STORE_PARTITION_COL,
    target_rows_per_file: int = 1_000_000,
    _pre_write_hook=None,
) -> dict:
    """Small-files compaction for a partitioned store.

    Streaming appends write one file per (micro-batch, partition) --
    after a day at a 30 s trigger that is ~2,880 files per partition,
    and at 100 TB the NameNode/listing and open-per-file costs dominate
    scans long before the bytes do. Compaction rewrites each partition
    to ~ceil(partition_rows / target_rows_per_file) files: per-partition
    row counts (one cheap agg) size a salt column, and the shuffle keys
    on (partition, salt) so large partitions split across that many
    tasks/files instead of collapsing into one giant file per partition
    value. Dynamic partition overwrite replaces ONLY rewritten
    partitions, so concurrent appends to OTHER partitions survive.

    Concurrency protocol (plain parquet has no transaction log, so this
    is guard + detect, not a transaction):

      * a ``_COMPACTION_LOCK`` sentinel is held for the duration; a
        second compaction raises CompactionInProgress, and cooperative
        writers (``compaction_locked``) refuse to append while it is up;
      * the file listing captured at read time is re-audited immediately
        before the rewrite is issued -- any file that appeared since
        (a non-cooperative concurrent append) raises ConcurrentAppend
        and the store is left untouched;
      * the unguardable remainder is the rewrite itself: rows appended
        by a non-cooperative writer DURING the overwrite commit are lost
        with their partition's rewrite. Run compaction on partitions the
        stream has moved past (e.g. yesterday and older), never on the
        hot partition.

    ``_pre_write_hook`` is a test seam invoked between the audit
    snapshot and the audit check. Idempotent; returns before/after file
    counts.
    """
    import glob

    from pyspark.sql import functions as F

    def n_files() -> int:
        return len(
            glob.glob(f"{store_dir}/{partition_col}=*/*.parquet")
        )

    def listing() -> set[str]:
        return set(glob.glob(f"{store_dir}/{partition_col}=*/*.parquet"))

    lock_path = os.path.join(store_dir, COMPACTION_LOCK)
    try:
        lock_fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise CompactionInProgress(
            f"{lock_path} exists -- another compaction is rewriting this "
            "store (remove the file only if that process is dead)"
        )
    os.close(lock_fd)
    try:
        return _compact_locked(
            spark, store_dir, partition_col, target_rows_per_file,
            n_files, listing, F, _pre_write_hook,
        )
    finally:
        os.remove(lock_path)


def _compact_locked(
    spark, store_dir, partition_col, target_rows_per_file,
    n_files, listing, F, _pre_write_hook,
):
    before = n_files()
    snapshot = listing()
    df = spark.read.parquet(store_dir)
    # ONE counting scan: per-partition rows -> total, per-partition file
    # targets, and the overall shuffle width all derive from it in Python
    counted = df.groupBy(partition_col).agg(F.count("*").alias("_prows")).collect()
    n_rows = sum(r["_prows"] for r in counted)
    nf = {
        r[partition_col]: max(1, -(-r["_prows"] // target_rows_per_file))
        for r in counted
    }
    n_out = max(1, sum(nf.values()))
    from pyspark.sql.types import IntegerType

    per_part = spark.createDataFrame(
        [(k, v) for k, v in nf.items() if k is not None],
        df.select(partition_col).schema.add("_nf", IntegerType()),
    )
    salted = (
        # LEFT join + coalesce: rows with a NULL partition value (e.g.
        # malformed events with no date) never equi-join -- they still
        # must be rewritten, into the default partition, not dropped
        df.join(F.broadcast(per_part), partition_col, "left")
        # row-unique id mod _nf spreads each store partition round-robin
        # across its _nf salt values regardless of how the scan packed
        # the small input files into splits
        .withColumn(
            "_salt",
            F.pmod(
                F.monotonically_increasing_id(),
                F.coalesce(F.col("_nf"), F.lit(1)),
            ),
        )
    )
    if _pre_write_hook is not None:
        _pre_write_hook()
    # write-audit: catch non-cooperative appends that landed between the
    # counting read and this point; the remaining race is the write
    # duration itself (see docstring)
    appeared = listing() - snapshot
    if appeared:
        raise ConcurrentAppend(
            f"{len(appeared)} file(s) appended during compaction, e.g. "
            f"{sorted(appeared)[0]!r}; aborting before any rewrite"
        )
    (
        salted.repartition(int(n_out), partition_col, "_salt")
        .drop("_nf", "_salt")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        # hard cap: even when salt buckets hash-collide into one task,
        # the writer splits its output at the row target
        .option("maxRecordsPerFile", target_rows_per_file)
        .partitionBy(partition_col)
        .parquet(store_dir)
    )
    return {"files_before": before, "files_after": n_files(), "rows": n_rows}


# --------------------------------------------------------------------------
def _swap_in(spark: SparkSession, merged: DataFrame, dim_dir: str) -> int:
    """Write ``merged`` to a sibling staging dir, count it, then swap it
    in for ``dim_dir``; the swap is the commit point. Returns the row
    count."""
    staging = dim_dir.rstrip("/") + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    merged.write.mode("overwrite").parquet(staging)
    n = spark.read.parquet(staging).count()
    old = dim_dir.rstrip("/") + ".old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(dim_dir):
        os.rename(dim_dir, old)
    os.rename(staging, dim_dir)
    shutil.rmtree(old, ignore_errors=True)
    return n


def merge_dimension(
    spark: SparkSession, dim_dir: str, updates: DataFrame, key: str
) -> int:
    """SCD-type-1 upsert for an unpartitioned parquet dimension: rows
    in ``updates`` replace same-key rows, new keys append, everything
    else survives untouched -- MERGE INTO semantics on a format with
    no row-level operations, realized the parquet-native way: rewrite
    into a staging directory, then swap directories. The swap is the
    commit point; a crash before it leaves the old dimension intact
    and a re-run is idempotent (updates win by key, applying them
    twice is a no-op).

    Scale shape: one full-outer-free pass -- existing rows anti-join
    the update keys (updates are small by the SCD contract, so the
    anti-join broadcasts), then a unionByName. Dimensions are the
    SMALL tables of a star schema; a keyed fact store uses
    daily_metrics_upsert's dynamic-partition overwrite instead.

    Returns the merged row count."""
    from pyspark.sql import functions as F

    if os.path.isdir(dim_dir):
        existing = spark.read.parquet(dim_dir)
        merged = existing.join(
            F.broadcast(updates.select(key)), key, "left_anti"
        ).unionByName(updates)
    else:
        merged = updates
    return _swap_in(spark, merged, dim_dir)


def merge_dimension_scd2(
    spark: SparkSession,
    dim_dir: str,
    updates: DataFrame,
    key: str,
    effective_col: str = "effective_ts",
) -> int:
    """SCD-type-2 merge: history-keeping upsert. Dimension rows carry
    ``valid_from`` / ``valid_to`` (NULL = current). A batch may carry
    a WHOLE SEQUENCE of updates per key (a daily ingest batch
    legitimately contains several changes for one key): per key the
    updates are ordered by the effective timestamp, consecutive equal
    attributes collapse (SCD2 records changes, not updates), the
    key's current row closes at the first surviving change, and the
    intra-batch changes chain their own validity windows, the last
    one staying open. Updates not NEWER than the key's current
    ``valid_from`` are dropped as already-applied -- which is what
    makes re-applying the same batch a no-op -- and a batch's first
    change equal to the current attributes is likewise ignored. New
    keys open at their first change. Same staging-rewrite +
    directory-swap commit as merge_dimension.

    Assumes (key, effective_ts) is unique within a batch and batches
    arrive in non-decreasing time order (the checkpointed-ingest
    shape). Attribute equality uses a null-safe struct compare over
    every column except the key and the effective timestamp. Returns
    the merged row count (history rows included)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    attr_cols = [
        c for c in updates.columns if c not in (key, effective_col)
    ]
    w_seq = Window.partitionBy(key).orderBy("_eff")
    incoming = updates.select(
        key,
        F.col(effective_col).alias("_eff"),
        F.struct(*attr_cols).alias("_attrs"),
    )
    if os.path.isdir(dim_dir):
        existing = spark.read.parquet(dim_dir)
        cur = existing.filter(F.col("valid_to").isNull()).select(
            key,
            F.struct(*attr_cols).alias("_cur_attrs"),
            F.col("valid_from").alias("_cur_from"),
        )
        # stale-drop (replay idempotence), then collapse the intra-batch
        # sequence to changes, then drop a first change equal to the
        # stored current attributes -- in that order: each step's output
        # is what the next one's semantics are defined over
        fresh = (
            incoming.join(F.broadcast(cur), key, "left")
            .filter(
                F.col("_cur_from").isNull()
                | (F.col("_eff") > F.col("_cur_from"))
            )
        )
        changes = (
            fresh.withColumn("_prev", F.lag("_attrs").over(w_seq))
            .filter(
                F.col("_prev").isNull()
                | ~F.col("_attrs").eqNullSafe(F.col("_prev"))
            )
            .withColumn("_rn", F.row_number().over(w_seq))
            .filter(
                ~(
                    (F.col("_rn") == 1)
                    & F.col("_attrs").eqNullSafe(F.col("_cur_attrs"))
                )
            )
            .select(key, "_eff", "_attrs")
        )
        closing = F.broadcast(
            changes.groupBy(key).agg(F.min("_eff").alias("_close_ts"))
        )
        kept = (
            existing.join(closing, key, "left")
            .withColumn(
                "valid_to",
                F.when(
                    F.col("valid_to").isNull()
                    & F.col("_close_ts").isNotNull(),
                    F.col("_close_ts"),
                ).otherwise(F.col("valid_to")),
            )
            .drop("_close_ts")
        )
    else:
        kept = None
        changes = (
            incoming.withColumn("_prev", F.lag("_attrs").over(w_seq))
            .filter(
                F.col("_prev").isNull()
                | ~F.col("_attrs").eqNullSafe(F.col("_prev"))
            )
            .select(key, "_eff", "_attrs")
        )
    opened = changes.select(
        key,
        *[F.col("_attrs")[c].alias(c) for c in attr_cols],
        F.col("_eff").alias("valid_from"),
        # intra-batch chains close at the NEXT change; the last stays
        # open (NULL) as the key's new current row
        F.lead("_eff").over(
            Window.partitionBy(key).orderBy("_eff")
        ).cast("timestamp").alias("valid_to"),
    )
    merged = opened if kept is None else kept.unionByName(opened)
    return _swap_in(spark, merged, dim_dir)


def point_in_time_join(
    facts: DataFrame, dim: DataFrame, key: str, ts_col: str
) -> DataFrame:
    """Point-in-time enrichment against an SCD2 dimension: each fact
    row joins the dimension version whose validity window
    [valid_from, valid_to) contains the fact's timestamp -- the lookup
    that makes history-keeping dimensions USABLE (training-data
    pipelines need the feature value as-of the event, not as-of
    today; joining the current row silently leaks the future).

    Scale shape: dimensions are the small side of a star schema, so
    the version table broadcasts and the range predicate evaluates
    map-side -- no shuffle of the fact stream, the same posture as
    the other dimension enrichments. Facts with no valid version
    (before the key's first window, or unknown key) keep NULL
    attributes via the left join."""
    from pyspark.sql import functions as F

    d = dim.alias("_dim")
    f = facts.alias("_f")
    cond = (
        (F.col(f"_f.{key}") == F.col(f"_dim.{key}"))
        & (F.col(f"_f.{ts_col}") >= F.col("_dim.valid_from"))
        & (
            F.col("_dim.valid_to").isNull()
            | (F.col(f"_f.{ts_col}") < F.col("_dim.valid_to"))
        )
    )
    return f.join(F.broadcast(d), cond, "left").select(
        "_f.*",
        *[
            F.col(f"_dim.{c}")
            for c in dim.columns
            if c not in (key, "valid_from", "valid_to")
        ],
    )
