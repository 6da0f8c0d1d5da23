"""CLI — the engine's equivalent of the reference's ``main.py`` entry
points (``--entity ... --output ...`` crawl, ``/api/entities``,
decode-to-CSV), runnable via ``spark-submit --py-files`` or plain
``python -m crawler_tjce_spark.cli``.

Subcommands:
  genworld   — synthesize a deterministic web world (pages/robots/seeds)
  crawl      — run the checkpointed wave crawl; resumable by default
  snapshots  — list the snapshot log; --rollback-to for time travel
  visits-csv — export the visit log ordered by ordem
  decode     — decode DSR response JSON file(s) to a CSV
               (--artifact writes the reference's production-CSV bytes)
  entities   — build the slug↔name entity dimension CSV from a column
               (--layout reference writes the single-column artifact)
  metrics    — export the store's per-host metrics and duration-histogram
               views (computed from the committed waves) to CSVs
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="crawler_tjce_spark")
    p.add_argument("--cores", default=None, help="local[N] cores (default $SPARK_GRAFT_CPUS)")
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("genworld")
    g.add_argument("--out", required=True)
    g.add_argument("--pages", type=int, default=2000)
    g.add_argument("--hosts", type=int, default=20)
    g.add_argument("--seeds", type=int, default=10)
    g.add_argument("--hot-share", type=float, default=0.3)

    c = sub.add_parser("crawl")
    c.add_argument("--world", required=True)
    c.add_argument("--store", required=True)
    c.add_argument("--max-waves", type=int, default=50)
    c.add_argument("--fresh", action="store_true", help="ignore existing checkpoint")
    c.add_argument("--fetch-images", action="store_true")
    c.add_argument("--flaky-fetch", action="store_true",
                   help="deterministic retry/backoff model (plans/fetch.py)")
    c.add_argument("--flaky-share", type=int, default=10)
    c.add_argument("--flaky-fail-pct", type=int, default=40)

    s = sub.add_parser("snapshots", help="list the store's snapshot log")
    s.add_argument("--store", required=True)
    s.add_argument("--rollback-to", type=int, default=None,
                   help="atomically repoint current state at this snapshot id")

    v = sub.add_parser("visits-csv")
    v.add_argument("--world", required=True)
    v.add_argument("--store", required=True)
    v.add_argument("--out", required=True)

    d = sub.add_parser("decode")
    d.add_argument("--table", choices=["precatorio", "edital", "pagamento"],
                   default="precatorio")
    d.add_argument("--out", required=True)
    # mutually exclusive: the if/elif handler used to silently ignore
    # --artifact when --quarantine was also passed (ADVICE r3)
    dmode = d.add_mutually_exclusive_group()
    dmode.add_argument("--quarantine", action="store_true",
                       help="validate rows; write rejects to <out>_quarantine")
    dmode.add_argument("--artifact", action="store_true",
                       help="write the reference's production-CSV byte layout "
                            "(editais/pagamentos writers; --out is one file)")
    d.add_argument("pages", nargs="+", help="DSR response JSON files")

    e = sub.add_parser("entities")
    e.add_argument("--parquet", required=True, help="input parquet with a name column")
    e.add_argument("--column", required=True)
    e.add_argument("--out", required=True)
    e.add_argument("--layout", choices=["mapping", "reference"], default="mapping",
                   help="mapping = official_name,slug dimension; reference = "
                        "single-column entidade artifact (byte layout of "
                        "data/entidades_tjce.csv)")

    mt = sub.add_parser(
        "metrics",
        help="export the per-host metrics and duration-histogram views of the "
             "committed waves",
    )
    mt.add_argument("--store", required=True)
    mt.add_argument("--out", required=True, help="output dir (two CSV subdirs)")

    args = p.parse_args(argv)

    if args.cmd == "snapshots":  # no Spark needed
        from crawler_tjce_spark.sources.tableio import SnapshotStore

        store = SnapshotStore(args.store)
        if args.rollback_to is not None:
            m = store.rollback(args.rollback_to)
            print(json.dumps({"rolled_back_to": m["snapshot_id"], "wave": m["wave"]}))
        else:
            for m in store.snapshots():
                print(json.dumps({k: m.get(k) for k in
                                  ("snapshot_id", "wave", "ordem_offset",
                                   "frontier_rows", "committed_at")}))
        return 0

    if args.cmd == "genworld":  # no Spark needed
        from crawler_tjce_spark.datagen import WorldConfig, write_world

        write_world(
            WorldConfig(
                n_hosts=args.hosts,
                n_pages=args.pages,
                n_seeds=args.seeds,
                hot_host_share=args.hot_share,
            ),
            args.out,
        )
        print(f"world written to {args.out}")
        return 0

    from crawler_tjce_spark.session import get_spark

    spark = get_spark(app_name=f"cli_{args.cmd}", cores=args.cores)
    try:
        if args.cmd == "crawl":
            from crawler_tjce_spark.streaming.runner import CrawlRunner

            runner = CrawlRunner(
                spark,
                args.world,
                args.store,
                max_waves=args.max_waves,
                fetch_images=args.fetch_images,
                flaky_fetch=args.flaky_fetch,
                flaky_share=args.flaky_share,
                flaky_fail_pct=args.flaky_fail_pct,
            )
            manifest = runner.run(resume=not args.fresh)
            print(json.dumps({k: manifest[k] for k in ("wave", "ordem_offset", "frontier_rows")}))
        elif args.cmd == "visits-csv":
            from pyspark.sql import functions as F

            from crawler_tjce_spark.streaming.runner import CrawlRunner

            runner = CrawlRunner(spark, args.world, args.store)
            (
                runner.visits_df()
                .orderBy("ordem")
                .select("ordem", "url", "host", "wave", "score")
                .coalesce(1)
                .write.mode("overwrite")
                .option("header", True)
                .csv(args.out)
            )
            print(f"visits csv written to {args.out}")
        elif args.cmd == "decode":
            from crawler_tjce_spark.sources import dsr

            rows = [(i, open(f).read()) for i, f in enumerate(args.pages)]
            pages = spark.createDataFrame(rows, "page_id long, payload string")
            if args.quarantine:
                from pyspark.sql import functions as F

                both = dsr.decode_pages_quarantine_df(spark, pages, table=args.table)
                good = both.filter(F.col("reject_reason").isNull()).drop("reject_reason")
                quar = both.filter(F.col("reject_reason").isNotNull()).select(
                    "page_id", "row_idx", "reject_reason"
                )
                good.coalesce(1).write.mode("overwrite").option("header", True).csv(args.out)
                quar.coalesce(1).write.mode("overwrite").option("header", True).csv(
                    args.out + "_quarantine"
                )
                print(
                    f"decoded {good.count()} rows to {args.out}; "
                    f"{quar.count()} quarantined to {args.out}_quarantine"
                )
            elif args.artifact:
                out = dsr.decode_pages_df(spark, pages, table=args.table)
                if args.table == "pagamento":
                    dsr.write_pagamentos_csv(out, args.out)
                elif args.table == "edital":
                    dsr.write_editais_csv(out, args.out)
                else:
                    raise SystemExit("--artifact supports edital/pagamento tables")
                print(f"artifact written to {args.out}")
            else:
                out = dsr.decode_pages_df(spark, pages, table=args.table)
                out.coalesce(1).write.mode("overwrite").option("header", True).csv(args.out)
                print(f"decoded {out.count()} rows to {args.out}")
        elif args.cmd == "entities":
            from crawler_tjce_spark.sources.entities import (
                build_entity_mapping,
                write_entities_csv,
            )

            from pyspark.sql import functions as F

            names = spark.read.parquet(args.parquet).select(
                F.col(args.column).alias("official_name")
            )
            if args.layout == "reference":
                from crawler_tjce_spark.sources.entities import write_entities_list_csv

                write_entities_list_csv(names, args.out)
                print(f"reference-layout entity list written to {args.out}")
            else:
                mapping = build_entity_mapping(names)
                write_entities_csv(mapping, args.out)
                print(f"{mapping.count()} entities written to {args.out}")
        elif args.cmd == "metrics":
            from crawler_tjce_spark.sources.tableio import SnapshotStore
            from crawler_tjce_spark.streaming.runner import (
                duration_hist_view,
                metrics_view,
            )

            store = SnapshotStore(args.store)
            for tbl, view in (("metrics", metrics_view), ("duration_hist", duration_hist_view)):
                df = view(spark, store)
                df.coalesce(1).write.mode("overwrite").option("header", True).csv(
                    f"{args.out}/{tbl}"
                )
                print(f"{tbl}: {df.count()} rows to {args.out}/{tbl}")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
