"""Command-line entry point: run any registered query (or ad-hoc SQL)
against a fixture directory and print/save the result.

    python -m mapreduce_simple_go_spark list
    python -m mapreduce_simple_go_spark run wc --sf-dir /root/testdata/sf0.01
    python -m mapreduce_simple_go_spark run dedup_minhash_lsh --out /tmp/pairs.parquet
    python -m mapreduce_simple_go_spark sql "SELECT count(*) FROM lineitem"

This is the "switch path" for a reference user: every query the engine
supports is runnable by name with no Python required; `sql` opens the full
Spark SQL dialect over the same tables (a surface the reference never had).
"""

from __future__ import annotations

import argparse
import os
import sys

_OUT_EXTENSIONS = (".parquet", ".jsonl", ".csv")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="mapreduce_simple_go_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    sub.add_parser("list", help="list registered query names")
    runp = sub.add_parser("run", help="run a registered query by name")
    runp.add_argument("name")
    sqlp = sub.add_parser("sql", help="run ad-hoc Spark SQL over the fixture tables")
    sqlp.add_argument("query")
    for s in (runp, sqlp):
        s.add_argument(
            "--sf-dir",
            default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
        )
        s.add_argument("--limit", type=int, default=20, help="rows to print (0 = all)")
        s.add_argument(
            "--out",
            default=None,
            help="save full result: .parquet / .jsonl / .csv by extension",
        )
    args = p.parse_args(argv)
    # checked before a session or plan exists: a bad --out leaves nothing behind
    ext = os.path.splitext(args.out)[1] if getattr(args, "out", None) else None
    if ext is not None and ext not in _OUT_EXTENSIONS:
        print(f"unsupported --out extension: {ext}", file=sys.stderr)
        return 2

    from pyspark.sql import SparkSession

    from .engine import Engine

    # Only stop the session on exit if this invocation created it — when main()
    # is called in-process (tests, notebooks) the caller keeps their session.
    owns_session = SparkSession.getActiveSession() is None
    eng = Engine()
    if args.cmd == "list":
        for name in eng.queries():
            print(name)
        return 0

    if args.cmd == "run":
        names = eng.queries()
        if args.name not in names:
            print(f"unknown query: {args.name!r}", file=sys.stderr)
            print("available queries:", file=sys.stderr)
            for n in names:
                print(f"  {n}", file=sys.stderr)
            return 2
        df = eng.query(args.name, args.sf_dir)
    else:
        df = eng.sql(args.query, args.sf_dir)
    if args.out:
        # persist so the plan is computed once and shared by write + show.
        df = df.persist()
        one = df.coalesce(1)
        if ext == ".parquet":
            one.write.mode("overwrite").parquet(args.out)
        elif ext == ".jsonl":
            one.write.mode("overwrite").json(args.out)
        else:
            eng.save_csv(one, args.out)
        print(f"wrote {args.out}")
    if args.limit:
        df.show(args.limit, truncate=False)
    else:
        # 0 = all rows, without a separate count() job just to size show():
        # take one more row than show prints by streaming via toLocalIterator.
        rows = list(df.toLocalIterator())
        df.sparkSession.createDataFrame(rows, df.schema).show(
            max(len(rows), 1), truncate=False
        )
    if args.out:
        df.unpersist()
    if owns_session:
        eng.spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
