"""Repo-side replica of the driver's full correctness gate, for ALL queries.

The round driver verifies the first 50 registry entries; this sweep runs
every registered query against its DuckDB oracle at the driver's scale
factor and records the same three verdicts (rows/schema/hash) per name, so
the registry tail has on-record evidence too.

Usage:  python scripts/self_correctness.py out.json [--only name1,name2]
Env:    SPARK_GRAFT_TEST_SF_DIR (default /root/testdata/sf0.01)
        SPARK_GRAFT_ORACLE_CACHE=0 to disable the oracle-result cache
        (content-keyed on fixture digest + SQL hash — see oracle_cache.py;
        Spark results are NEVER cached, the engine runs every sweep)
"""

from __future__ import annotations

import json
import os
import sys
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import oracle_cache  # noqa: E402

from mapreduce_simple_go_spark.operators import all_oracles, all_queries  # noqa: E402
from mapreduce_simple_go_spark.session import get_spark  # noqa: E402
from tests.conftest import TABLES, rows_digest  # noqa: E402


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
    argv = list(sys.argv[1:])
    only: set[str] | None = None
    if "--only" in argv:
        i = argv.index("--only")
        only = set(argv[i + 1].split(","))
        del argv[i : i + 2]
    if len(argv) != 1:
        print("usage: python scripts/self_correctness.py out.json "
              "[--only name1,name2]", file=sys.stderr)
        return 2
    out_path = argv[0]
    spark = get_spark(app_name="self-correctness")
    duck = duckdb.connect()
    for t in TABLES:
        # driver fixtures are single files; scaled local fixtures are
        # Spark-written DIRECTORIES of part files — glob those for DuckDB
        path = os.path.join(sf_dir, f"{t}.parquet")
        pat = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')"
        )
    queries, oracles = all_queries(), all_oracles()
    fix_digest = oracle_cache.fixture_digest(sf_dir, TABLES)
    results: dict[str, dict] = {}
    for name, fn in queries.items():
        if only is not None and name not in only:
            continue
        rec = {
            "rows_match": False,
            "schema_match": False,
            "hash_match": False,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        try:
            import time

            t0 = time.monotonic()
            sdf = fn(spark, sf_dir).toPandas()
            rec["spark_s"] = round(time.monotonic() - t0, 2)
            sql = oracles[name]
            cached = oracle_cache.get(fix_digest, sql)
            if cached is not None:
                # content-keyed hit: same fixture bytes + same oracle SQL
                # as a previous sweep — the stored (rows, columns, digest)
                # ARE that oracle run's verdict material (the Spark side
                # above always ran fresh)
                o_n = cached["rows"]
                o_cols = cached["columns"]
                o_dig = tuple(cached["digest"])
                rec["oracle_s"] = cached["oracle_s"]
                rec["oracle_cached"] = True
            else:
                t0 = time.monotonic()
                odf = duck.execute(sql).df()
                rec["oracle_s"] = round(time.monotonic() - t0, 2)
                o_n, o_cols = len(odf), list(odf.columns)
                o_dig = rows_digest(
                    o_cols, odf.itertuples(index=False, name=None)
                )
                oracle_cache.put(
                    fix_digest, sql, o_n, o_cols, o_dig, rec["oracle_s"]
                )
                odf = None
            rec["spark_rows"], rec["oracle_rows"] = len(sdf), o_n
            rec["rows_match"] = len(sdf) == o_n
            rec["schema_match"] = sorted(sdf.columns) == sorted(o_cols)
            # multiset digest, equality-equivalent to the sorted rows_key
            # form (see conftest.rows_digest) — one pass, O(1) memory; the
            # tuple sort dominated the sf10 sweep's wall clock through r8
            s_rows = rows_digest(
                list(sdf.columns), sdf.itertuples(index=False, name=None)
            )
            rec["hash_match"] = s_rows == o_dig
        except Exception:
            rec["err"] = traceback.format_exc(limit=3)
        results[name] = rec
        spark.catalog.clearCache()
        # free pandas frames + any localCheckpoint blocks before the next
        # query — matters when sweeping the 100x fixture in one session
        sdf = odf = None  # noqa: F841
        import gc

        gc.collect()
        flags = "".join(
            "+" if rec[k] else "-" for k in ("rows_match", "schema_match", "hash_match")
        )
        print(f"{flags} {name}" + (f"  ERR" if rec["err"] else ""), flush=True)
        # incremental write: a long at-scale sweep keeps its progress on
        # disk even if the host or a pathological query kills the run
        with open(out_path, "w") as f:
            json.dump(results, f, indent=2)
    spark.stop()
    with open(out_path, "w") as f:
        json.dump(results, f, indent=2)
    n_green = sum(
        1
        for r in results.values()
        if r["rows_match"] and r["schema_match"] and r["hash_match"]
    )
    print(f"\n{n_green}/{len(results)} green -> {out_path}")
    return 0 if n_green == len(results) else 1


if __name__ == "__main__":
    sys.exit(main())
