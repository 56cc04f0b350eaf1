"""CLI — the `manage.py <command>` surface of the reference
(SURVEY.md §3.1), one subcommand per pipeline phase:

    python -m calaspark update  RAW_DIR OUT_DIR [--force] [--keep-files]
    python -m calaspark acquire URL WORK_DIR
    python -m calaspark clean   TSV TABLE OUT_DIR
    python -m calaspark report  OUT_DIR
    python -m calaspark query   QID [--sf DIR] [-n N]
    python -m calaspark compact SRC DST [--target-mb N]
    python -m calaspark dedup   SRC DST --id-col C [--method exact|minhash|semantic]

`update` is the flagship (`updatecalaccessrawdata` twin): acquire →
clean → type → load → verify, manifest-resumable. `report` prints the
V2 coverage DataFrame from the manifest.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="calaspark")
    sub = p.add_subparsers(dest="cmd", required=True)

    up = sub.add_parser("update", help="full pipeline over a raw dir")
    up.add_argument("raw_dir")
    up.add_argument("out_dir")
    up.add_argument("--force", action="store_true")
    up.add_argument("--keep-files", action="store_true")

    ac = sub.add_parser("acquire", help="download + extract a zip")
    ac.add_argument("url")
    ac.add_argument("work_dir")

    cl = sub.add_parser("clean", help="clean/quarantine one TSV")
    cl.add_argument("tsv")
    cl.add_argument("table", help="schema name, e.g. RCPT_CD")
    cl.add_argument("out_dir")

    rp = sub.add_parser("report", help="coverage report from manifest")
    rp.add_argument("out_dir")

    qr = sub.add_parser("query", help="run a declared query")
    qr.add_argument("qid")
    qr.add_argument("--sf", default="/root/testdata/sf0.01")
    qr.add_argument("-n", type=int, default=20)

    cp = sub.add_parser(
        "compact", help="rewrite a parquet table toward target file size"
    )
    cp.add_argument("src")
    cp.add_argument("dst")
    cp.add_argument("--target-mb", type=int, default=128)
    cp.add_argument(
        "--partition-cols", default=None, help="comma-separated, optional"
    )

    dd = sub.add_parser(
        "dedup",
        help="deduplicate a parquet table (exact / minhash / semantic)",
    )
    dd.add_argument("src")
    dd.add_argument("dst")
    dd.add_argument("--id-col", required=True)
    dd.add_argument(
        "--method", choices=("exact", "minhash", "semantic"), default="exact"
    )
    dd.add_argument(
        "--text-col", default=None, help="minhash: the text column"
    )
    dd.add_argument(
        "--vec-col", default=None, help="semantic: the embedding column"
    )
    dd.add_argument(
        "--threshold",
        type=float,
        default=None,
        help="similarity cut; defaults per method (minhash Jaccard "
        "0.5, semantic cosine 0.95)",
    )

    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from .session import get_spark

    # Ownership: getOrCreate may hand us an embedding caller's live
    # session (tests, notebooks) — only stop what we created.
    pre_existing = SparkSession.getActiveSession()
    spark = get_spark(f"calaspark-{args.cmd}")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.cmd == "update":
            from .ingest import update

            man = update(
                spark,
                args.raw_dir,
                args.out_dir,
                force=args.force,
                keep_files=args.keep_files,
            )
            man.report_df(spark).show(truncate=False)
        elif args.cmd == "acquire":
            from .ingest import acquire

            info = acquire(args.url, args.work_dir)
            print(f"{len(info['extracted'])} files → {info['raw_dir']}")
        elif args.cmd == "clean":
            from .ingest import split_clean, write_quarantine
            from .ingest.load import write_clean_csv
            from .ingest.schemas import SCHEMAS

            res = split_clean(spark, args.tsv, list(SCHEMAS[args.table]))
            write_clean_csv(res.good, f"{args.out_dir}/{args.table}.clean")
            n_bad = write_quarantine(
                res.quarantine, f"{args.out_dir}/{args.table}.errors"
            )
            print(f"good={res.good.count()} quarantined={n_bad}")
        elif args.cmd == "report":
            import os

            from .ingest import Manifest

            # prefer the lake-table form (multi-writer source of
            # truth); fall back to the JSON manifest
            table = f"{args.out_dir}/_manifest"
            if os.path.isdir(table):
                rep = Manifest.report_from_table(spark, table)
            else:
                rep = Manifest(f"{args.out_dir}/manifest.json").report_df(spark)
            rep.orderBy("file_name").show(truncate=False)
        elif args.cmd == "query":
            from .queries import QUERIES

            QUERIES[args.qid](spark, args.sf).show(args.n, truncate=False)
        elif args.cmd == "compact":
            from .ops.layout import compact_parquet

            stats = compact_parquet(
                spark,
                args.src,
                args.dst,
                target_file_bytes=args.target_mb << 20,
                partition_cols=(
                    args.partition_cols.split(",")
                    if args.partition_cols
                    else None
                ),
            )
            print(stats)
        elif args.cmd == "dedup":
            import pyspark.sql.functions as F

            src = spark.read.parquet(args.src)
            n_in = src.count()
            if args.method == "exact":
                kept = src.dropDuplicates([args.id_col])
            elif args.method == "minhash":
                if not args.text_col:
                    p.error("--method minhash requires --text-col")
                from .ops.components import dedup_clusters
                from .ops.lsh import neardup_pairs_lsh
                from .ops.text import tokens

                docs = src.select(
                    F.col(args.id_col).alias("doc_id"),
                    F.array_distinct(tokens(args.text_col)).alias("toks"),
                )
                thr = 0.5 if args.threshold is None else args.threshold
                pairs = neardup_pairs_lsh(docs, threshold=thr)
                lab = dedup_clusters(
                    pairs, src.select(args.id_col), args.id_col
                )
                kept = src.join(
                    lab.filter(F.col("is_canonical") == 1).select(
                        args.id_col
                    ),
                    args.id_col,
                    "left_semi",
                )
            else:  # semantic
                if not args.vec_col:
                    p.error("--method semantic requires --vec-col")
                from .ops.semdedup import semdedup

                e = src.select(
                    F.col(args.id_col),
                    F.transform(
                        args.vec_col, lambda x: x.cast("double")
                    ).alias("_v"),
                )
                lab = semdedup(
                    e,
                    threshold=(
                        0.95 if args.threshold is None else args.threshold
                    ),
                    id_col=args.id_col,
                    vec_col="_v",
                )
                kept = src.join(
                    lab.filter(F.col("is_canonical") == 1).select(
                        args.id_col
                    ),
                    args.id_col,
                    "left_semi",
                )
            kept.write.mode("overwrite").parquet(args.dst)
            n_out = spark.read.parquet(args.dst).count()
            print(
                f"method={args.method} rows_in={n_in} rows_out={n_out} "
                f"dropped={n_in - n_out}"
            )
        return 0
    finally:
        if pre_existing is None:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
