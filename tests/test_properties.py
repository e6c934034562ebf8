"""Property-based tests (hypothesis) — the reference's GenericTest idea
(randomized workloads checked against a model, kvraft/test_test.go:212-388)
applied to our batch folds.

Each example batches many random inputs into a single Spark job to keep
example cost ~1 job, not 1 job per datum.
"""

from __future__ import annotations

from collections import Counter

import regex
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from mapreduce_simple_go_spark.functions import tokens
from mapreduce_simple_go_spark.operators.kv import (
    final_state_from_ops,
    get_visible_from_ops,
)

KEYS = ["a", "b", "hot"]
OPS = st.lists(
    st.tuples(
        st.sampled_from(KEYS),
        st.sampled_from(["put", "append", "get"]),
        st.text(alphabet="xyz;", min_size=0, max_size=3),
    ),
    min_size=0,
    max_size=40,
)

def dict_replay(ops):
    state: dict[str, str] = {}
    visible = []
    for seq, (key, op, value) in enumerate(ops):
        if op == "put":
            state[key] = value
        elif op == "append":
            state[key] = state.get(key, "") + value
        else:
            visible.append((seq, key, state.get(key, "")))
    return state, visible


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(OPS)
def test_kv_folds_match_model_on_random_logs(spark, ops):
    rows = [(i, k, op, v) for i, (k, op, v) in enumerate(ops)]
    want_state, want_visible = dict_replay(ops)
    if rows:
        df = spark.createDataFrame(rows, "seq long, key string, op string, value string")
        got_state = {r.key: r.state for r in final_state_from_ops(df).collect()}
        got_visible = sorted(
            (r.seq, r.key, r.visible) for r in get_visible_from_ops(df).collect()
        )
    else:
        got_state, got_visible = {}, []
    # keys whose state was never written don't appear in the fold output
    want_state = {k: v for k, v in want_state.items()}
    assert got_state == want_state
    assert got_visible == sorted(want_visible)


# Codepoints restricted to anciently-stable script ranges: hypothesis found
# that codepoints assigned by newer Unicode versions (U+18D80, then U+0870 —
# the latter INSIDE an old block, so a plain max_codepoint cut is not enough)
# classify as \p{L} differently across table vintages (JVM=Java 17 tables vs
# the Python regex module). That drift is a runtime property, not an engine
# bug — the tokenization contract is "the JVM's \p{L}" (like the reference's
# is "Go's unicode.IsLetter", itself a third vintage). These ranges have had
# stable Letter assignments since Unicode 1-3.
_STABLE_RANGES = [
    (0x0020, 0x007E),  # ASCII
    (0x00A0, 0x024F),  # Latin-1 + Latin Extended A/B
    (0x0370, 0x03FF),  # Greek
    (0x0400, 0x04FF),  # Cyrillic
    (0x3040, 0x309F),  # Hiragana
    (0x4E00, 0x4FDF),  # CJK unified (head block)
]
_STABLE_TEXT = st.text(
    alphabet=st.one_of(
        *[st.characters(min_codepoint=a, max_codepoint=b) for a, b in _STABLE_RANGES]
    ),
    max_size=40,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_STABLE_TEXT, min_size=1, max_size=20))
def test_tokenizer_matches_regex_oracle_on_random_text(spark, texts):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    got = {
        r.i: list(r.toks)
        for r in df.select("i", tokens(F.col("t")).alias("toks")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == [w for w in regex.split(r"[^\p{L}]+", t) if w], repr(t)


TRI_EDGES = st.lists(
    st.tuples(st.integers(0, 11), st.integers(0, 11)),
    min_size=0,
    max_size=40,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(TRI_EDGES)
def test_triangle_corners_match_bruteforce_on_random_graphs(spark, edges):
    """Degree-oriented wedge counting == O(n^3) brute force on random
    small graphs — the orientation argument (exactly one wedge per
    triangle) checked exhaustively, not just on the fixture corpus."""
    from itertools import combinations

    from pyspark.sql import functions as F

    und = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})

    # model: count triangles per node by brute force
    nodes = sorted({n for e in und for n in e})
    eset = set(und)
    want = Counter()
    for x, y, z in combinations(nodes, 3):
        if ((x, y) in eset and (y, z) in eset and (x, z) in eset):
            want[x] += 1
            want[y] += 1
            want[z] += 1

    if not und:
        return
    df = spark.createDataFrame(
        [(str(a), str(b)) for a, b in und], "u string, v string"
    )
    deg = (
        df.select(F.col("u").alias("n"))
        .unionByName(df.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    ranked = (
        df.join(deg.withColumnRenamed("n", "u").withColumnRenamed("deg", "du"), "u")
        .join(deg.withColumnRenamed("n", "v").withColumnRenamed("deg", "dv"), "v")
    )
    lt = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(lt, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(lt, F.col("v")).otherwise(F.col("u")).alias("d"),
    )
    e1 = oriented.select(F.col("s").alias("x"), F.col("d").alias("y"))
    e2 = oriented.select(F.col("s").alias("y"), F.col("d").alias("z"))
    e3 = oriented.select(F.col("s").alias("x"), F.col("d").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    got = Counter()
    for r in (
        tri.select(F.explode(F.array("x", "y", "z")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .collect()
    ):
        got[int(r.w)] = r.c
    assert got == +want


BLOOM_DOCS = st.lists(
    st.text(alphabet="ab ", min_size=0, max_size=30), min_size=0, max_size=12
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(BLOOM_DOCS, BLOOM_DOCS)
def test_bloom_membership_has_no_false_negatives(train, ev):
    """The one-sided-error contract of the double-hashed Bloom positions,
    checked on random token streams: every string actually present in the
    eval set must probe positive (false positives allowed)."""
    from mapreduce_simple_go_spark.operators.dedup import BLOOM_K, BLOOM_M

    def positions(s):
        import hashlib

        h = hashlib.md5(s.encode()).hexdigest()
        h1, h2 = int(h[:12], 16), int(h[12:24], 16)
        return [(h1 + j * h2) % BLOOM_M for j in range(BLOOM_K)]

    ev_set = {t for doc in ev for t in doc.split()}
    bits = {p for s in ev_set for p in positions(s)}
    for doc in train:
        for t in doc.split():
            if t in ev_set:
                assert all(p in bits for p in positions(t))


# Gaps in minutes, biased to land EXACTLY on the 30-minute session
# threshold often — the boundary where the two sessionization
# formulations could diverge (they must not: session_window merges
# touching sessions, so both split only on gap > threshold).
SESSION_GAPS = st.lists(
    st.lists(
        st.sampled_from([1, 5, 29, 30, 30, 31, 45, 90]), min_size=1, max_size=8
    ),
    min_size=1,
    max_size=5,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(SESSION_GAPS)
def test_native_session_window_equals_lag_split_on_random_gaps(spark, user_gaps):
    """Random per-user event trains with many EXACT-threshold gaps: native
    session_window and the lag-based `gap > threshold` rule must produce
    identical session partitionings (same starts, same counts)."""
    import datetime as dt

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = []
    eid = 0
    for u, gaps in enumerate(user_gaps):
        t = t0
        rows.append((u, eid, t))
        eid += 1
        for g in gaps:
            t = t + dt.timedelta(minutes=g)
            rows.append((u, eid, t))
            eid += 1
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")

    native = (
        df.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.min("ts").alias("session_start"), F.count("*").alias("n_events"))
        .select("user_id", "session_start", "n_events")
        .collect()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1).otherwise(0)
    lag_based = (
        df.withColumn("is_new", is_new)
        .withColumn(
            "session_no",
            F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "session_no")
        .agg(F.min("ts").alias("session_start"), F.count("*").alias("n_events"))
        .select("user_id", "session_start", "n_events")
        .collect()
    )
    key = lambda r: (r.user_id, r.session_start, r.n_events)
    assert sorted(map(key, native)) == sorted(map(key, lag_based))
