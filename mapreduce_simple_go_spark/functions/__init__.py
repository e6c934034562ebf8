"""Shared column-expression helpers (all JVM-side, codegen-friendly).

Every helper here returns a ``pyspark.sql.Column`` built from built-in
functions — no Python UDFs — so they stay inside whole-stage codegen and
their filters/projections remain visible to Catalyst.

Cross-engine determinism: several operators need a hash function that the
DuckDB correctness oracle can reproduce exactly. ``hash48`` derives a 48-bit
integer from the first 12 hex digits of md5 — both Spark (``conv(substr(md5(x
),1,12),16,10)``) and DuckDB (digit-by-digit ``strpos`` arithmetic) compute the
identical value, and 48 bits is small enough that the DuckDB double-precision
reconstruction is exact (16^11 < 2^53).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tokenization contract: split on runs of non-letters, as the reference does
# with unicode.IsLetter (/root/reference/src/mrapps/wc.go:22-26). \p{L} is the
# exact analog; digits and punctuation are separators, not word characters.
TOKEN_SPLIT_REGEX = r"[^\p{L}]+"


def tokens(text: Column) -> Column:
    """Array of words: split on non-letter runs, drop empty strings."""
    return F.filter(F.split(text, TOKEN_SPLIT_REGEX), lambda w: w != F.lit(""))


def word_shingles(text: Column, n: int = 3) -> Column:
    """Array of n-word shingles (space-joined runs of n consecutive tokens)."""
    toks = tokens(text)
    # sequence(0, size-n) -> starting indices; slice each run of n tokens.
    # Documents with fewer than n tokens produce no shingles (callers that
    # need short-doc coverage should lower n).
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def hash48(col: Column) -> Column:
    """Deterministic 48-bit integer hash of a string column (md5-derived).

    Reproducible in DuckDB via :func:`duckdb_hash48` — used wherever a
    correctness oracle must recompute the same hash (MinHash, SimHash,
    fingerprints). The reference's engine hash is FNV-1a
    (/root/reference/src/mr/worker.go:26-30); the observable contract never
    depends on the specific hash, only on determinism, so we pick one both
    engines can compute.
    """
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


def duckdb_hash48(expr: str) -> str:
    """DuckDB SQL text computing the same 48-bit hash as :func:`hash48`."""
    return (
        "CAST(list_sum(list_transform(range(1,13), i -> "
        f"(strpos('0123456789abcdef', substr(md5({expr}), i, 1)) - 1) "
        "* power(16::DOUBLE, 12 - i))) AS BIGINT)"
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two float-array columns, computed JVM-side.

    Left-to-right sequential sums via ``aggregate`` so the floating-point
    result is reproducible (and matches DuckDB's sequential list functions).
    """
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))
    return dot / (na * nb)


def money(col: Column) -> Column:
    """Cast a double money column to DECIMAL(18,2) for exact aggregation.

    Summing doubles is order-dependent; summing decimals is exact, so Spark
    and the DuckDB oracle agree bit-for-bit regardless of partitioning.
    """
    return col.cast("decimal(18,2)")


def salted_join(
    left,
    right,
    key: str,
    n_salt: int = 8,
    how: str = "inner",
    salt_on: list[str] | None = None,
):
    """Skew-mitigating equi-join: salt the skewed left side, replicate right.

    A hot key concentrates its rows in one shuffle partition; salting
    spreads them across ``n_salt`` sub-keys while replicating the (smaller)
    right side once per salt value. AQE's skew-join handles moderate skew
    automatically — this is the explicit form for extreme keys or when AQE
    is unavailable (e.g. inside a streaming join).

    The salt is derived from row CONTENT, not ``rand()``: a positional RNG
    can re-deal salts when a lost stage is recomputed from lineage,
    interleaving two different salt assignments within one join. A content
    hash assigns every recomputation of a row the same salt. By default the
    hash covers the key plus every HASHABLE left column — MapType columns
    are excluded (``F.hash`` rejects maps at analysis time); pass
    ``salt_on`` to choose the columns explicitly. Caveat: content-derived
    salt spreads a hot key only as far as its rows differ — if a hot key's
    rows are byte-identical duplicates they share one salt bucket; include
    a per-row discriminator column (an id, an offset) in ``salt_on`` for
    that shape. Only inner/left are supported — replication of the right
    side changes multiplicity semantics for semi/anti/outer-right shapes.

    Returns the joined DataFrame with helper columns dropped.
    """
    from pyspark.sql import functions as F

    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'|'left', got {how!r}: right-side "
            "replication breaks semi/anti/right-outer multiplicity"
        )
    if salt_on is None:
        # key first, then every non-map column (maps are unhashable)
        salt_on = [key] + [
            c for c, t in left.dtypes if c != key and not t.startswith("map<")
        ]
    salted_left = left.withColumn(
        "__salt", F.pmod(F.hash(*[F.col(c) for c in salt_on]), F.lit(n_salt))
    )
    exploded_right = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    return (
        salted_left.join(exploded_right, [key, "__salt"], how)
        .drop("__salt")
    )
