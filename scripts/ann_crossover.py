"""Measure the brute-force vs IVF crossover for embedding near-dup.

embedding_near_dup is quadratic inside its MAX_BRUTE_ROWS gate (the r6
sf1 sweep measured 22.7x cost for 10x data); this script replaces the
100 MB-broadcast heuristic with a MEASURED crossover: time the forced
brute path and the IVF path on fixtures of increasing embedding count,
fit brute ~ a*n^2 and ivf ~ b*n + c, and report where brute stops
winning. Timing uses a noop-sink count of the pair stream (py4j row
transfer, ~10 s per million rows, would otherwise dominate the larger
fixtures).

Usage: python scripts/ann_crossover.py [fixture_dir ...]
       (default: sf0.01, sf0.1, .localdata/sf1, .localdata/sf10)
"""

from __future__ import annotations

import os
import sys
import time

import pyspark

os.environ.setdefault("SPARK_HOME", os.path.dirname(pyspark.__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreduce_simple_go_spark.operators.similarity import (  # noqa: E402
    _emb,
    embedding_near_dup,
    embedding_near_dup_ivf,
)
from mapreduce_simple_go_spark.session import get_spark  # noqa: E402

PASSES = 2
THRESHOLD = 0.45
# measuring the quadratic path beyond this is pointless (and ~40+ min at
# 500 K rows): fit a*n^2 through the measured points and predict instead
BRUTE_MEASURE_CAP = int(os.environ.get("ANN_CROSSOVER_BRUTE_CAP", "120000"))


def time_df(df) -> float:
    t0 = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def main_topk() -> None:
    """`--topk`: brute vs blocked-scan crossover for the EXACT top-k entry
    (r10). Times ann_cosine_topk_brute against the forced
    _ann_exact_blocked path per fixture; both are exact, so this is purely
    a plan-cost measurement, and the reason ann_cosine_topk always runs
    the blocked scan."""
    from pyspark.sql import functions as F

    from mapreduce_simple_go_spark.operators.similarity import (
        QUERY_MOD,
        _ann_exact_blocked,
        ann_cosine_topk_brute,
    )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    dirs = sys.argv[2:] or [
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
        os.path.join(repo, ".localdata", "sf1"),
        os.path.join(repo, ".localdata", "sf10"),
    ]
    spark = get_spark(shuffle_partitions=32)
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(32).mapInPandas(lambda it: it, schema="id long").collect()
    print("| fixture | n_emb | brute best (s) | blocked best (s) | ratio |")
    print("|---|---|---|---|---|")
    rows = []
    for d in dirs:
        if not os.path.isdir(d):
            print(f"(skip {d}: missing)")
            continue
        n = _emb(spark, d).count()
        if n <= BRUTE_MEASURE_CAP:
            brute = min(
                time_df(ann_cosine_topk_brute(spark, d)) for _ in range(PASSES)
            )
        else:
            brute = None

        def blocked_df():
            base = _emb(spark, d)
            queries = base.filter(F.col("vec_id") % QUERY_MOD == 0).select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("q_emb"),
            )
            return _ann_exact_blocked(spark, base, queries)

        blocked = min(time_df(blocked_df()) for _ in range(PASSES))
        rows.append((n, brute, blocked))
        bs = f"{brute:.2f}" if brute is not None else "(skipped)"
        rs = f"{brute / blocked:.2f}" if brute is not None else "-"
        print(
            f"| {os.path.basename(d.rstrip('/'))} | {n} | {bs} "
            f"| {blocked:.2f} | {rs} |"
        )
    measured = [(n, b, k) for n, b, k in rows if b is not None]
    if len(measured) >= 2:
        (n1, b1, _), (n2, b2, _) = measured[-2], measured[-1]
        a = (b2 - b1) / (n2**2 - n1**2)
        b0 = b2 - a * n2**2
        k_n0, _, k_v0 = rows[0]
        k_n1, _, k_v1 = rows[-1]
        slope = (k_v1 - k_v0) / max(k_n1 - k_n0, 1)
        lo, hi = 1, 100 * rows[-1][0]
        while lo < hi:
            mid = (lo + hi) // 2
            if b0 + a * mid * mid < k_v0 + slope * (mid - k_n0):
                lo = mid + 1
            else:
                hi = mid
        print(f"\nfitted brute {b0:.2f}+{a:.3e}*n^2; "
              f"blocked {k_v0:.2f}+{slope:.3e}*(n-{k_n0})")
        print(f"estimated crossover: n ~= {lo}")
    spark.stop()


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    dirs = sys.argv[1:] or [
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
        os.path.join(repo, ".localdata", "sf1"),
        os.path.join(repo, ".localdata", "sf10"),
    ]
    spark = get_spark(shuffle_partitions=32)
    # warm JVM + python daemon untimed
    spark.range(1000).selectExpr("sum(id)").collect()
    print("| fixture | n_emb | brute best (s) | ivf best (s) | ratio |")
    print("|---|---|---|---|---|")
    rows = []
    for d in dirs:
        if not os.path.isdir(d):
            print(f"(skip {d}: missing)")
            continue
        n = _emb(spark, d).count()
        if n <= BRUTE_MEASURE_CAP:
            brute = min(
                time_df(
                    embedding_near_dup(
                        spark, d, THRESHOLD, max_brute_rows=10**12
                    )
                )
                for _ in range(PASSES)
            )
        else:
            brute = None
        ivf = min(
            time_df(embedding_near_dup_ivf(spark, d, THRESHOLD))
            for _ in range(PASSES)
        )
        rows.append((n, brute, ivf))
        bs = f"{brute:.2f}" if brute is not None else "(skipped)"
        rs = f"{brute / ivf:.2f}" if brute is not None else "-"
        print(f"| {os.path.basename(d.rstrip('/'))} | {n} | {bs} | {ivf:.2f} | {rs} |")
    measured = [(n, b, i) for n, b, i in rows if b is not None]
    if len(measured) >= 2 and len(rows) >= 2:
        # fit brute = b0 + a*n^2 through the two largest measured points
        (n1, b1, _), (n2, b2, _) = measured[-2], measured[-1]
        a = (b2 - b1) / (n2**2 - n1**2)
        b0 = b2 - a * n2**2
        # ivf: linear fit through first/last points (cell scan is ~linear)
        i_n0, _, i_v0 = rows[0]
        i_n1, _, i_v1 = rows[-1]
        slope = (i_v1 - i_v0) / max(i_n1 - i_n0, 1)

        def ivf_fit(n: float) -> float:
            return i_v0 + slope * (n - i_n0)

        lo, hi = 1, 100 * rows[-1][0]
        while lo < hi:
            mid = (lo + hi) // 2
            if b0 + a * mid * mid < ivf_fit(mid):
                lo = mid + 1
            else:
                hi = mid
        print(f"\nfitted brute {b0:.2f}+{a:.3e}*n^2; ivf {i_v0:.2f}+{slope:.3e}*(n-{i_n0})")
        for n, b, _ in rows:
            if b is None:
                print(f"predicted brute at n={n}: {b0 + a * n * n:.1f} s")
        print(f"estimated crossover: n ~= {lo}")
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--topk":
        main_topk()
    else:
        main()
