"""Seeded input generators for the benchmark workloads.

Two input sets, both a pure function of the seed:

- ``make_corpus``: reference-shaped text files for the raw MapReduce jobs
  (the ``pg-*.txt`` inputs of the reference's ``wc`` and ``indexer`` apps),
  plus the expected ``wc`` and ``indexer`` outputs computed in plain Python
  with the same ``[^\\p{L}]+`` split the map functions use.
- ``make_tables``: the star-schema + events + documents + embeddings parquet
  tables the named registry queries read, with the fixture schemas and
  value domains described in FIXTURES.md / TESTDATA.md.

Outputs are cached on disk under a directory keyed by workload, seed and
``GENERATOR_VERSION``; a finished directory carries a ``DONE`` marker so a
generation cut short is redone rather than reused.
"""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter

import numpy as np

# Bump when generated content changes, so stale caches are not reused.
GENERATOR_VERSION = 4

WC_SPLIT = r"[^\p{L}]+"

CORPUS_FILES = 16  # 15 text files + 1 punctuation-only file
CORPUS_TOKENS = 150_000  # about 1 MB of text over the 15 text files
VOCAB_SIZE = 6000
ZIPF_S = 1.07

_ASCII = "abcdefghijklmnopqrstuvwxyz"
# precomposed letters only: a combining mark is not \p{L} and would split
_NON_ASCII = "éèüöäñçßøåæœłśžčřğışαβγδεζηθλμπσωжзийклмнпрсф"
_SEPARATORS = np.array(
    [" ", " ", " ", " ", " ", " ", "\n", ", ", ". ", "; ", "! ", "? ", " -- ",
     " \"", "\" ", "'", " (", ") ", " 1887 ", "42", " 3.14 ", ":", "_", " 7th "],
    dtype=object,
)
_PUNCT_ONLY = "... !!! ??? 1234 5678 --- ;;; ,,, \"\" '' ()\n" * 64


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "DONE"))


def _fresh(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def _mark_done(path: str) -> None:
    with open(os.path.join(path, "DONE"), "w") as f:
        f.write(str(GENERATOR_VERSION))


def _vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct letter-only words; about 1% carry a non-ASCII letter."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        length = int(rng.integers(2, 10))
        w = "".join(_ASCII[i] for i in rng.integers(0, 26, length))
        if rng.random() < 0.01:
            pos = int(rng.integers(0, length))
            w = w[:pos] + _NON_ASCII[int(rng.integers(0, len(_NON_ASCII)))] + w[pos + 1:]
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def corpus_text(seed: int) -> dict[str, str]:
    """File name -> contents of the seeded corpus (no disk I/O)."""
    rng = np.random.default_rng([seed, 1])
    vocab = _vocabulary(rng, VOCAB_SIZE)
    # Zipf-ranked vocabulary, with a capitalised twin for the head words
    # (the split is case-sensitive, so "The" and "the" are distinct keys).
    forms = np.array(vocab + [w.capitalize() for w in vocab[:200]], dtype=object)
    weights = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S
    weights = np.concatenate([weights, weights[:200] * 0.15])
    weights /= weights.sum()
    # file sizes: log-uniform shares of the token budget
    shares = np.exp(rng.uniform(np.log(1.0), np.log(6.0), CORPUS_FILES - 1))
    sizes = np.maximum((shares / shares.sum() * CORPUS_TOKENS).astype(int), 1)
    sep_p = np.full(len(_SEPARATORS), 1.0)
    sep_p[:6] = 14.0  # mostly single spaces
    sep_p /= sep_p.sum()
    files: dict[str, str] = {}
    for i, n in enumerate(sizes):
        toks = forms[rng.choice(len(forms), size=n, p=weights)]
        seps = _SEPARATORS[rng.choice(len(_SEPARATORS), size=n, p=sep_p)]
        parts = np.empty(2 * n, dtype=object)
        parts[0::2] = toks
        parts[1::2] = seps
        files[f"pg-{seed}-{i:02d}.txt"] = "".join(parts)
    files[f"pg-{seed}-{CORPUS_FILES - 1:02d}.txt"] = _PUNCT_ONLY
    return files


def expected_outputs(files: dict[str, str]) -> tuple[dict[str, str], dict[str, str]]:
    """(wc, indexer) outputs for ``{uri: contents}``, in plain Python.

    Mirrors the reference apps: wc counts every occurrence; indexer lists,
    per word, the number of documents and their sorted names.
    """
    import regex

    counts: Counter[str] = Counter()
    postings: dict[str, list[str]] = {}
    for uri in sorted(files):
        words = [w for w in regex.split(WC_SPLIT, files[uri]) if w]
        counts.update(words)
        for w in set(words):
            postings.setdefault(w, []).append(uri)
    wc = {w: str(c) for w, c in counts.items()}
    indexer = {w: f"{len(d)} {','.join(sorted(d))}" for w, d in postings.items()}
    return wc, indexer


def make_corpus(root: str, seed: int) -> dict:
    """Write the corpus under ``root`` (cached); return its description.

    The description holds the file glob and the expected outputs, which name
    files by the URIs Spark reports for them (``file:<absolute path>``).
    """
    path = os.path.join(root, f"corpus-s{seed}-v{GENERATOR_VERSION}")
    meta_path = os.path.join(path, "expected.json")
    if not _done(path):
        _fresh(path)
        files = corpus_text(seed)
        data_dir = os.path.join(path, "data")
        os.makedirs(data_dir)
        by_uri = {}
        for name, text in files.items():
            p = os.path.join(data_dir, name)
            with open(p, "w", encoding="utf-8") as f:
                f.write(text)
            by_uri["file:" + os.path.abspath(p)] = text
        wc, indexer = expected_outputs(by_uri)
        meta = {
            "glob": os.path.join(os.path.abspath(data_dir), "pg-*.txt"),
            "wc": wc,
            "indexer": indexer,
        }
        with open(meta_path, "w", encoding="utf-8") as f:
            json.dump(meta, f)
        _mark_done(path)
    with open(meta_path, encoding="utf-8") as f:
        return json.load(f)


# -- fixture-shaped parquet tables ---------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "red", "hot", "cold", "new", "old", "small", "large"]
_PART_NOUN = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo"]
_PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_DOC_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small big customer query filter "
    "stream group vector"
).split()
_LANGS = ["en", "es", "zh", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _days(rng, n, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _cents(rng, n, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def table_columns(seed: int, sf: float) -> dict[str, dict[str, np.ndarray | list]]:
    """Table name -> column name -> values, for scale factor ``sf``."""
    rng = np.random.default_rng([seed, 2])
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_docs = int(50_000 * sf)
    n_emb = int(50_000 * sf)
    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(rng, n_supp, -999.99, 9999.99),
    }
    keys = np.arange(n_part, dtype=np.int64)
    t["part"] = {
        "p_partkey": keys,
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [_PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    }
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, "1995-01-02", 2498),
    }
    # strictly increasing timestamps: no ties for session / as-of ordering
    gaps = rng.integers(1, 2 * (30 * 86_400_000_000 // max(n_ev, 1)), n_ev)
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(int(15_000 * sf), 1), n_ev).astype(np.int64),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": _cents(rng, n_ev, 0.0, 500.0),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
    }
    texts = []
    for _ in range(n_docs):
        n_words = int(rng.integers(8, 110))
        texts.append(" ".join(_DOC_WORDS[i] for i in rng.integers(0, len(_DOC_WORDS), n_words)))
    # 5% near-duplicates: an earlier document's text plus one marker word
    for i in rng.choice(np.arange(1, n_docs), size=n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    t["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.choice(5, size=n_docs, p=_LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    }
    return t


def make_tables(root: str, seed: int, sf: float) -> str:
    """Write the parquet tables under ``root`` (cached); return the dir."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(root, f"tables-s{seed}-sf{sf}-v{GENERATOR_VERSION}")
    if not _done(path):
        _fresh(path)
        for name, cols in table_columns(seed, sf).items():
            arrays = {}
            for col, values in cols.items():
                if col == "embedding":
                    arrays[col] = pa.array([v.tolist() for v in values], type=pa.list_(pa.float32()))
                else:
                    arrays[col] = pa.array(values)
            pq.write_table(pa.table(arrays), os.path.join(path, f"{name}.parquet"))
        _mark_done(path)
    return path
