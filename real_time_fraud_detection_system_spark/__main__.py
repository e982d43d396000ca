"""Command-line surface: ``python -m real_time_fraud_detection_system_spark <cmd>``.

Maps each reference entry point to one subcommand over the Engine
facade (engine.py documents the correspondence), so a user of the
reference system drives this repo the way they drove docker services
and Airflow DAGs -- locally or via spark-submit on a cluster:

  list                        catalog of registered queries
  query NAME                  run a registered query, print rows
  sql "SELECT ..."            ad-hoc SQL over the registered tables
  train                       train + register + promote (training DAG)
  score-one JSON              score one transaction (POST /predict)
  serve                       score a stream to the prediction store
                              (fraud_service hot path; rate source by
                              default, Kafka via --brokers, files via
                              --landing-dir; ops log in <out-dir>/_ops)
  daily-metrics               upsert day-grain metrics (metrics DAG)
  dq                          run the data-quality checks (DQ DAG)
  ann-index build|search      persist the bucketed IVF index / top-k
                              search its untombstoned members (build
                              once, query all day)
  dedup-index build|probe     persist the bucketed MinHash index /
                              dedup an arriving shard against its
                              untombstoned docs
  retention                   drop prediction-store event_date
                              partitions older than --keep-days
  compact                     rewrite a partitioned store's small
                              files (streaming-append hygiene)

Exit status is the job's success: ``dq`` exits 1 on a failed check the
way the reference DAG task fails, so schedulers can alert on it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from .session import default_sf_dir
from .storage import STORE_PARTITION_COL

# serve runs until stopped: a processing-time trigger, since the rate
# source cannot drain with availableNow (Spark would run one batch)
SERVE_TRIGGER_SECONDS = 1


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m real_time_fraud_detection_system_spark",
        description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    p.add_argument("--sf-dir", default=default_sf_dir(),
                   help="table directory (default: $SPARK_GRAFT_SF_DIR)")
    p.add_argument("--registry-dir", default=None,
                   help="model registry directory (training/scoring)")
    p.add_argument("--limit", type=int, default=20,
                   help="max rows printed by query/sql (default 20)")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list")
    q = sub.add_parser("query")
    q.add_argument("name")
    s = sub.add_parser("sql")
    s.add_argument("statement")
    t = sub.add_parser("train")
    t.add_argument("--n", type=int, default=5000)
    t.add_argument("--seed", type=int, default=42)
    so = sub.add_parser("score-one")
    so.add_argument("transaction", help="transaction JSON")
    sv = sub.add_parser("serve")
    sv.add_argument("--out-dir", required=True)
    sv.add_argument("--checkpoint-dir", required=True)
    sv.add_argument("--brokers", default=None,
                    help="Kafka bootstrap servers; omit for the rate source")
    sv.add_argument("--landing-dir", default=None,
                    help="file-drop landing dir of newline-JSON payloads"
                         " (broker-less ingestion)")
    sv.add_argument("--topic", default="transactions")
    sv.add_argument("--rows-per-second", type=int, default=100)
    sv.add_argument("--timeout-s", type=int, default=None,
                    help="stop after N seconds (default: run until killed)")
    dm = sub.add_parser("daily-metrics")
    dm.add_argument("--predictions-dir", required=True)
    dm.add_argument("--metrics-dir", required=True)
    dq = sub.add_parser("dq")
    dq.add_argument("--predictions-dir", required=True)
    ai = sub.add_parser("ann-index")
    ai.add_argument("action", choices=["build", "search"])
    ai.add_argument("--prefix", default="ann_idx")
    di = sub.add_parser("dedup-index")
    di.add_argument("action", choices=["build", "probe"])
    di.add_argument("--prefix", default="dedup_idx")
    di.add_argument("--shard-parquet", default=None,
                    help="probe: (doc_id, text) parquet; default = the"
                         " deterministic shard split of the sf tables")
    rt = sub.add_parser("retention")
    rt.add_argument("--predictions-dir", required=True)
    rt.add_argument("--keep-days", type=int, required=True)
    rt.add_argument("--today", default=None,
                    help="cutoff anchor YYYY-MM-DD (default: the"
                         " store's max day)")
    cp = sub.add_parser("compact")
    cp.add_argument("--store-dir", required=True)
    cp.add_argument("--partition-col", default=STORE_PARTITION_COL)
    cp.add_argument("--target-rows-per-file", type=int, default=1_000_000)
    zo = sub.add_parser("zorder")
    zo.add_argument("--table", default="events")
    # SUPPRESS: without it the subparser's default would CLOBBER the
    # parent-level --sf-dir value (argparse merges the sub-namespace
    # over the parent's); with it the flag works in either position
    zo.add_argument("--sf-dir", default=argparse.SUPPRESS)
    zo.add_argument("--out-dir", required=True)
    zo.add_argument("--cols", nargs=2, metavar=("XCOL", "YCOL"),
                    default=("user_id", "event_id"),
                    help="the two dimensions to interleave (numeric)")
    zo.add_argument("--n-files", type=int, default=64)
    pc = sub.add_parser("prep-corpus")
    pc.add_argument("--sf-dir", default=argparse.SUPPRESS)  # see zorder
    pc.add_argument("--out-dir", required=True)
    sn = sub.add_parser("snapshot")
    sn.add_argument("action", choices=["write", "read", "expire"])
    sn.add_argument("--table-dir", required=True)
    sn.add_argument("--table", default="events",
                    help="write: which sf table to commit as a version")
    sn.add_argument("--sf-dir", default=argparse.SUPPRESS)  # see zorder
    sn.add_argument("--version", type=int, default=None,
                    help="read: pin a version (default latest)")
    sn.add_argument("--keep-last", type=int, default=1,
                    help="expire: versions to keep")
    pc.add_argument("--quality-keep", type=float, default=None)
    return p


def _print_df(df, limit: int, out) -> None:
    rows = df.limit(limit).collect()
    for r in rows:
        print(json.dumps(r.asDict(), default=str), file=out)


def main(argv: list[str] | None = None, out=sys.stdout) -> int:
    args = _build_parser().parse_args(argv)
    from .engine import Engine

    eng = Engine(sf_dir=args.sf_dir, registry_dir=args.registry_dir)

    if args.cmd == "list":
        for name in eng.queries():
            print(name, file=out)
        return 0
    if args.cmd == "query":
        _print_df(eng.query(args.name), args.limit, out)
        return 0
    if args.cmd == "sql":
        _print_df(eng.sql(args.statement), args.limit, out)
        return 0
    if args.cmd == "train":
        info = eng.train_and_register(n=args.n, seed=args.seed)
        print(json.dumps(info, default=str), file=out)
        return 0
    if args.cmd == "score-one":
        result = eng.score_one(json.loads(args.transaction))
        print(json.dumps(result, default=str), file=out)
        return 0
    if args.cmd == "serve":
        from .streaming.observability import OpsLogListener
        from .streaming.pipeline import (
            file_drop_source,
            kafka_source,
            valid_transactions,
        )

        if args.brokers:
            txns = valid_transactions(
                kafka_source(eng.spark, args.brokers, args.topic)
            )
        elif args.landing_dir:
            txns = valid_transactions(
                file_drop_source(eng.spark, args.landing_dir)
            )
        else:
            from .sources.generators import transactions_stream

            txns = transactions_stream(
                eng.spark, rows_per_second=args.rows_per_second
            )
        # the ops log lives beside the store; removed afterwards so a
        # caller sharing the session does not keep the listener
        listener = OpsLogListener(os.path.join(args.out_dir, "_ops"))
        eng.spark.streams.addListener(listener)
        try:
            query = eng.run_stream(
                txns, args.out_dir, args.checkpoint_dir,
                trigger_seconds=SERVE_TRIGGER_SECONDS,
            )
            if args.timeout_s is not None:
                query.awaitTermination(args.timeout_s)
                query.stop()
            else:
                query.awaitTermination()
        finally:
            eng.spark.streams.removeListener(listener)
        return 0
    if args.cmd == "daily-metrics":
        preds = eng.spark.read.parquet(args.predictions_dir)
        eng.daily_metrics_upsert(preds, args.metrics_dir)
        print(json.dumps({"status": "ok"}), file=out)
        return 0
    if args.cmd == "dq":
        from .streaming.jobs import DataQualityError

        preds = eng.spark.read.parquet(args.predictions_dir)
        try:
            checks = eng.dq_checks(preds)
        except DataQualityError as exc:
            print(json.dumps({"status": "fail", "error": str(exc)}), file=out)
            return 1
        print(json.dumps({"status": "ok", **checks}, default=str), file=out)
        return 0
    if args.cmd == "retention":
        from .streaming.jobs import retention_sweep

        out_info = retention_sweep(
            eng.spark, args.predictions_dir, args.keep_days,
            today=args.today,
        )
        print(json.dumps({"status": "ok", **out_info}), file=out)
        return 0
    if args.cmd == "compact":
        from .storage import compact_partitions

        info = compact_partitions(
            eng.spark, args.store_dir,
            partition_col=args.partition_col,
            target_rows_per_file=args.target_rows_per_file,
        )
        print(json.dumps({"status": "ok", **info}, default=str), file=out)
        return 0
    if args.cmd == "snapshot":
        from . import snapshots as sn

        if args.action == "write":
            from .catalog import load_table

            v = sn.write_version(
                load_table(eng.spark, args.sf_dir, args.table),
                args.table_dir,
            )
            print(json.dumps({"status": "ok", "version": v}), file=out)
        elif args.action == "read":
            df = sn.read_version(eng.spark, args.table_dir, args.version)
            print(json.dumps({
                "status": "ok",
                "version": (
                    args.version
                    if args.version is not None
                    else sn.latest_version(args.table_dir)
                ),
                "rows": df.count(),
            }), file=out)
        else:
            info = sn.expire_versions(args.table_dir, args.keep_last)
            print(json.dumps({"status": "ok", **info}), file=out)
        return 0
    if args.cmd == "prep-corpus":
        from .corpus_pipeline import prepare_corpus
        from .operators.textops import QUALITY_KEEP

        funnel = prepare_corpus(
            eng.spark, args.sf_dir, args.out_dir,
            quality_keep=(
                args.quality_keep
                if args.quality_keep is not None
                else QUALITY_KEEP
            ),
        )
        print(json.dumps({"status": "ok", **funnel}), file=out)
        return 0
    if args.cmd == "zorder":
        from .catalog import load_table
        from .operators.layout import write_zordered

        df = load_table(eng.spark, args.sf_dir, args.table)
        write_zordered(
            df, args.out_dir, args.cols[0], args.cols[1],
            n_files=args.n_files,
        )
        n = eng.spark.read.parquet(args.out_dir).count()
        print(json.dumps({"status": "ok", "rows": n,
                          "out_dir": args.out_dir}), file=out)
        return 0
    if args.cmd == "ann-index":
        from .operators.similarity import (
            ann_search,
            live_ann_members,
            persist_ann_index,
        )
        from .storage import index_table

        if args.action == "build":
            cents, members = persist_ann_index(
                eng.spark, args.sf_dir, prefix=args.prefix
            )
            print(json.dumps({"status": "ok",
                              "centroids": cents.count(),
                              "members": members.count()}), file=out)
            return 0
        from .catalog import load_table

        queries = (
            load_table(eng.spark, args.sf_dir, "embeddings")
            .filter("vec_id < 5")
            .selectExpr("vec_id", "embedding AS emb")
        )
        _print_df(
            ann_search(
                index_table(eng.spark, f"{args.prefix}_cents"),
                live_ann_members(eng.spark, args.prefix),
                queries,
            ),
            args.limit, out,
        )
        return 0
    if args.cmd == "dedup-index":
        from pyspark.sql import functions as F

        from .catalog import load_table
        from .operators.dedup import (
            _shard_pred_spark,
            incremental_dedup_pairs,
            live_dedup_index,
            persist_dedup_index,
            signature_index,
        )

        if args.action == "build":
            docs = load_table(eng.spark, args.sf_dir, "documents").filter(
                ~F.expr(_shard_pred_spark())
            )
            sig_t, band_t = persist_dedup_index(docs, prefix=args.prefix)
            print(json.dumps({"status": "ok",
                              "signatures": sig_t.count(),
                              "band_keys": band_t.count()}), file=out)
            return 0
        if args.shard_parquet:
            shard = eng.spark.read.parquet(args.shard_parquet)
        else:
            shard = load_table(eng.spark, args.sf_dir, "documents").filter(
                F.expr(_shard_pred_spark())
            )
        _print_df(
            incremental_dedup_pairs(
                *live_dedup_index(eng.spark, args.prefix),
                signature_index(shard),
            ),
            args.limit, out,
        )
        return 0
    raise AssertionError(f"unhandled command {args.cmd}")


if __name__ == "__main__":
    sys.exit(main())
