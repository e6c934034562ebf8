"""Per-query scaling exponents from the committed sweep artifacts.

Each CORRECTNESS_SELF_* artifact records per-query Spark wall time
(spark_s) since r7; together with bench_out.json's sf0.1 best-of-2 this
gives up to four measured points per registry entry. This script fits
t ∝ (data)^e over the sf0.1 → sf10 span (100x) and prints the registry
sorted by exponent — the standing way to catch the next cost-law break
(the r7 run of exactly this analysis caught ann_srp_topk at e=1.35 and
the K_CENTROIDS cap bind; see SCALE.md "Scaling law (vetted)").

Exponent reading: e <= ~0.6 means shuffle/partial-agg machinery is
absorbing the growth; e ~ 1 is honest linear; e > 1 is super-linear and
needs a diagnosis (by-contract quadratic verifier, a cap that binds, or
a real plan break). The last-decade ratio t(sf10)/t(sf1) is printed too
— it localizes WHERE the law breaks (a fine exponent with a >10x last
decade means the break is recent).

Usage: python scripts/scaling_exponents.py [--json] [--vet] [top_n]
       python scripts/scaling_exponents.py --gate [PRIOR] [CURRENT]

--gate (r10): compare the current vetted law against the previous one
(--vet rotates it to scaling_law_prev.json) and exit 1 if any entry's
fitted exponent worsened by more than GATE_WORSEN (0.15) — run it after
the sweeps so a cost-law break fails loudly instead of waiting for a
human to read the table.

--vet (r9): the in-sweep spark_s numbers are cache-ORDER
sensitive — r8's window rotation reordered the sf10 sweep and four entries
read 1.7-2x slow purely from a cold page cache, producing false
above-linear flags. With --vet, every row whose last-decade ratio exceeds
10x is re-measured (sf1 AND sf10 points) in a fresh isolated session via
scripts/scale_sweep.py before it lands in the law table; the row keeps the
in-sweep numbers under "in_sweep" and takes the per-point min. The vetted
table is written to scaling_law_vetted.json — SCALE.md's law table is
generated from THAT artifact, so it contains noise-vetted points only.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _times(path: str) -> dict[str, float]:
    with open(os.path.join(REPO, path)) as f:
        d = json.load(f)
    return {k: v["spark_s"] for k, v in d.items() if v.get("spark_s")}


def _latest(pattern: str) -> str:
    """Newest round's artifact matching e.g. CORRECTNESS_SELF_SF1_r*.json
    (lexicographic max of the round suffix; rounds are zero-padded)."""
    import glob

    hits = sorted(glob.glob(os.path.join(REPO, pattern)))
    if not hits:
        raise SystemExit(f"no artifact matches {pattern}")
    chosen = os.path.basename(hits[-1])
    print(f"# using {chosen}", file=sys.stderr)
    return chosen


def _vet_row(row: dict) -> None:
    """Isolated re-measure of one flagged row's sf1/sf10 points (fresh
    subprocess session per scale_sweep.py); mutates the row in place."""
    import subprocess
    import tempfile

    # mkstemp, not the race-prone deprecated mktemp
    fd, out = tempfile.mkstemp(suffix=".json", prefix="vet_")
    os.close(fd)
    env = dict(os.environ)
    env["SPARK_GRAFT_SWEEP_SMALL"] = os.path.join(REPO, ".localdata", "sf1")
    env["SPARK_GRAFT_SWEEP_BIG"] = os.path.join(REPO, ".localdata", "sf10")
    env["SPARK_GRAFT_SWEEP_FACTOR"] = "10"
    # method-comparable with the in-sweep spark_s the law is fit from
    # (toPandas/Arrow); a collect() re-measure pays py4j row transfer and
    # can't clear a flag on a big-output entry
    env["SPARK_GRAFT_SWEEP_METHOD"] = "topandas"
    # the vetter coordinates its own children; don't let a lingering
    # gateway JVM from an earlier child false-trip the idle guard
    env["SPARK_GRAFT_SWEEP_REQUIRE_IDLE"] = "0"
    r = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "scripts", "scale_sweep.py"),
            "--passes",
            "2",
            "--no-revet",
            "--out",
            out,
            row["query"],
        ],
        env=env,
        capture_output=True,
        text=True,
        timeout=7200,
    )
    if r.returncode != 0 or not os.path.getsize(out):
        print(f"# vet {row['query']}: subprocess failed: {r.stderr[-400:]}",
              file=sys.stderr)
        return
    with open(out) as f:
        iso = json.load(f)["queries"][row["query"]]
    os.unlink(out)
    row["in_sweep"] = {"sf1_s": row["sf1_s"], "sf10_s": row["sf10_s"],
                       "exponent": row["exponent"],
                       "last_decade": row["last_decade"]}
    row["vetted"] = True
    row["sf1_s"] = min(row["sf1_s"], iso["t_small"])
    row["sf10_s"] = min(row["sf10_s"], iso["t_big"])
    row["exponent"] = round(
        math.log(row["sf10_s"] / row["sf0.1_s"]) / math.log(100), 3
    )
    row["last_decade"] = round(row["sf10_s"] / row["sf1_s"], 2)
    print(
        f"# vet {row['query']}: sf10 {row['in_sweep']['sf10_s']} -> "
        f"{row['sf10_s']} s, last-decade "
        f"{row['in_sweep']['last_decade']} -> {row['last_decade']}",
        file=sys.stderr,
        flush=True,
    )


def _vet_small_point(row: dict) -> None:
    """Isolated re-measure of one row's sf0.1 point via bench.py --one
    (fresh subprocess session, the bench protocol's own collect-based
    timing); takes the per-point min and recomputes the exponent.
    The below-linear arm of the two-sided vet (r10)."""
    import subprocess
    import tempfile

    fd, out = tempfile.mkstemp(suffix=".json", prefix="vetsmall_")
    os.close(fd)
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    env["SPARK_GRAFT_BENCH_PASSES"] = "2"
    r = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "bench.py"),
            "--one",
            row["query"],
            "--out",
            out,
        ],
        env=env,
        capture_output=True,
        text=True,
        timeout=1800,
    )
    if r.returncode != 0 or not os.path.getsize(out):
        print(f"# vet-small {row['query']}: subprocess failed: "
              f"{r.stderr[-300:]}", file=sys.stderr)
        return
    with open(out) as f:
        iso = json.load(f)["sec"]
    os.unlink(out)
    prev = row["sf0.1_s"]
    row["small_vetted"] = True
    row["sf0.1_s"] = min(prev, iso)
    row["exponent"] = round(
        math.log(row["sf10_s"] / row["sf0.1_s"]) / math.log(100), 3
    )
    print(
        f"# vet-small {row['query']}: sf0.1 {prev} -> {row['sf0.1_s']} "
        f"(iso {iso}), exp -> {row['exponent']}",
        file=sys.stderr,
    )


GATE_WORSEN = 0.15  # exponent regression that fails the gate


def gate(prior_path: str, current_path: str) -> int:
    """`--gate`: fail loudly when any entry's fitted exponent WORSENED by
    more than GATE_WORSEN vs the previous vetted law (the noise-vetted law
    is trustworthy enough to be a regression gate, not just a report).
    Both inputs are scaling_law_vetted.json-shaped; entries
    missing from either side are reported but don't fail (new operators /
    renames). Exit 1 on regression."""
    with open(prior_path) as f:
        prior = {r["query"]: r for r in json.load(f)["rows"]}
    with open(current_path) as f:
        cur_art = json.load(f)
    current = {r["query"]: r for r in cur_art["rows"]}
    bad, new_names, gone = [], [], []
    for name, row in sorted(current.items()):
        if name not in prior:
            new_names.append(name)
            continue
        delta = row["exponent"] - prior[name]["exponent"]
        if delta > GATE_WORSEN:
            bad.append((name, prior[name]["exponent"], row["exponent"], delta))
    gone = sorted(set(prior) - set(current))
    if new_names:
        print(f"# {len(new_names)} entries new vs prior law: {new_names[:8]}...")
    if gone:
        print(f"# {len(gone)} entries gone vs prior law: {gone[:8]}...")
    print(
        f"# gate: {len(current)} entries, median "
        f"{cur_art.get('median_exponent'):.3f}, threshold +{GATE_WORSEN}"
    )
    if bad:
        print("SCALING LAW REGRESSION:")
        for name, pe, ce, d in sorted(bad, key=lambda b: -b[3]):
            print(f"  {name}: exponent {pe} -> {ce} (+{d:.3f})")
        return 1
    print("# gate: no entry worsened by more than the threshold")
    return 0


def main() -> int:
    as_json = "--json" in sys.argv
    vet = "--vet" in sys.argv
    if "--gate" in sys.argv:
        i = sys.argv.index("--gate")
        rest = sys.argv[i + 1 :]
        prior = rest[0] if rest else os.path.join(REPO, "scaling_law_prev.json")
        cur = rest[1] if len(rest) > 1 else os.path.join(
            REPO, "scaling_law_vetted.json"
        )
        return gate(prior, cur)
    args = [a for a in sys.argv[1:] if a not in ("--json", "--vet")]
    top_n = int(args[0]) if args else 15

    with open(os.path.join(REPO, "bench_out.json")) as f:
        t01 = json.load(f)["queries"]  # sf0.1 best-of-N, idle host
    # latest round's sweep per SF (glob, not a hardcoded suffix — the r7
    # hardcode would have silently fit stale timings in r8+)
    t1 = _times(_latest("CORRECTNESS_SELF_SF1_r*.json"))  # 10x
    t10 = _times(_latest("CORRECTNESS_SELF_SF10_r*.json"))  # 100x

    rows = []
    for k in sorted(t10):
        if t01.get(k) and t1.get(k):
            e = math.log(t10[k] / t01[k]) / math.log(100)
            rows.append(
                {
                    "query": k,
                    "sf0.1_s": t01[k],
                    "sf1_s": t1[k],
                    "sf10_s": t10[k],
                    "exponent": round(e, 3),
                    "last_decade": round(t10[k] / t1[k], 2),
                }
            )
    if vet:
        flagged = [r for r in rows if r["last_decade"] > 10]
        for r in flagged:
            _vet_row(r)
        # Two-sided (r10, mirroring scale_sweep.py's vetting): also
        # re-vet the 3 LOWEST-exponent unflagged rows — a below-linear row
        # whose SMALL point (sf0.1, from bench_out.json) was noise-inflated
        # biases the published median downward. The suspect point for
        # these rows is the sf0.1 one, so re-measure THAT isolated
        # (bench.py --one — same collect-based protocol as bench_out) and
        # take the min: a lower small point RAISES the exponent, measuring
        # the bias instead of assuming it away.
        flagged_ids = {id(r) for r in flagged}
        for r in sorted(
            (r for r in rows if id(r) not in flagged_ids),
            key=lambda r: r["exponent"],
        )[:3]:
            _vet_small_point(r)
    rows.sort(key=lambda r: -r["exponent"])
    med = statistics.median(r["exponent"] for r in rows)
    sub = sum(1 for r in rows if r["last_decade"] <= 10)
    if vet:
        # rotate the previous vetted law aside so --gate has a comparator
        vp = os.path.join(REPO, "scaling_law_vetted.json")
        if os.path.isfile(vp):
            os.replace(vp, os.path.join(REPO, "scaling_law_prev.json"))
        with open(os.path.join(REPO, "scaling_law_vetted.json"), "w") as f:
            json.dump(
                {"median_exponent": med, "n": len(rows),
                 "n_vetted": sum(1 for r in rows if r.get("vetted")),
                 "rows": rows},
                f,
                indent=1,
            )
            f.write("\n")
        print(f"# vetted law -> scaling_law_vetted.json", file=sys.stderr)
    if as_json:
        print(json.dumps({"median_exponent": med, "n": len(rows), "rows": rows}))
        return 0
    print(
        f"{len(rows)} queries; median exponent {med:.2f}; "
        f"{sub}/{len(rows)} at-or-below linear in the last decade"
    )
    print(f"{'query':42s}{'sf0.1':>8s}{'sf1':>8s}{'sf10':>9s}{'exp':>7s}{'10x->':>7s}")
    for r in rows[:top_n]:
        print(
            f"{r['query']:42s}{r['sf0.1_s']:8.2f}{r['sf1_s']:8.2f}"
            f"{r['sf10_s']:9.2f}{r['exponent']:7.2f}{r['last_decade']:7.1f}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
