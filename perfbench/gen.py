"""Seeded input generator: corpus, query streams, near-dup clusters and the
relational tables the batch jobs read.

Everything is a pure function of a ``numpy.random.Generator``; the same
seed yields byte-identical inputs. The engine sees only the generated
files and query strings.
"""

from __future__ import annotations

import numpy as np

# query kinds repeat in fixed cycles: two BM25 then one boolean (hot),
# one BM25 then three boolean forms (cold)
HOT_CYCLE = 3
COLD_CYCLE = 4

_CONSONANTS = "bcdfghjklmnprstvz"
_VOWELS = "aeiou"
_SYLLABLES = [c + v for c in _CONSONANTS for v in _VOWELS]


def make_vocab(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct pseudo-words of 2-4 consonant-vowel syllables, in
    frequency-rank order (index 0 is the most frequent term). Syllable
    words share prefixes and have edit-distance-1 neighbours, so prefix and
    fuzzy atoms expand to several terms; at 4+ letters no word collides
    with a query operator (AND, OR, NOT, TO, NEAR/k)."""
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        k = int(rng.choice([2, 3, 4], p=[0.25, 0.6, 0.15]))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), k))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


def make_docs(
    rng: np.random.Generator,
    vocab: list[str],
    n_docs: int,
    s: float = 1.07,
    min_len: int = 20,
    max_len: int = 200,
    first_id: int = 0,
) -> list[tuple[int, str]]:
    """(doc_id, text) with Zipf(s) term draws and uniform lengths."""
    p = zipf_probs(len(vocab), s)
    lens = rng.integers(min_len, max_len + 1, n_docs)
    ranks = rng.choice(len(vocab), size=int(lens.sum()), p=p)
    docs, at = [], 0
    for i, n in enumerate(lens):
        docs.append((first_id + i, " ".join(vocab[r] for r in ranks[at : at + n])))
        at += n
    return docs


def plant_near_dups(
    rng: np.random.Generator,
    docs: list[tuple[int, str]],
    vocab: list[str],
    n_clusters: int,
    copies: int = 2,
    edit_frac: float = 0.03,
) -> list[tuple[int, str]]:
    """Append ``copies`` perturbed copies of ``n_clusters`` base docs: each
    copy replaces ``edit_frac`` of the base's tokens with random vocabulary
    words, which keeps 3-shingle Jaccard well above 0.5."""
    out = list(docs)
    next_id = max(d for d, _ in docs) + 1
    bases = rng.choice(len(docs), size=n_clusters, replace=False)
    for b in bases:
        toks = docs[int(b)][1].split()
        for _ in range(copies):
            t = list(toks)
            n_edit = max(1, int(len(t) * edit_frac))
            for j in rng.choice(len(t), size=n_edit, replace=False):
                t[int(j)] = vocab[int(rng.integers(0, len(vocab)))]
            out.append((next_id, " ".join(t)))
            next_id += 1
    return out


def _pick(rng, vocab, lo, hi, k=1):
    return [vocab[int(i)] for i in rng.integers(lo, min(hi, len(vocab)), k)]


def _band_bigram(rng, docs, rank, lo, hi) -> str:
    """A two-word phrase lifted from a real document, both words of
    frequency rank in [lo, hi)."""
    while True:
        toks = docs[int(rng.integers(0, len(docs)))][1].split()
        pairs = [
            (a, b) for a, b in zip(toks, toks[1:])
            if lo <= rank[a] < hi and lo <= rank[b] < hi
        ]
        if pairs:
            a, b = pairs[int(rng.integers(0, len(pairs)))]
            return f'"{a} {b}"'


def hot_pool(
    rng: np.random.Generator, vocab: list[str], docs: list[tuple[int, str]], n: int
) -> list[tuple[str, str]]:
    """``n`` distinct (kind, query) pairs in a fixed cycle of three: two
    BM25 bag-of-words, then one boolean query (AND / OR / NOT / phrase, each
    form in turn). Every word has frequency rank 100-1000; phrases are
    bigrams lifted from real documents so they match. The fixed cycle keeps
    the kind mix the same for every seed."""
    rank = {w: i for i, w in enumerate(vocab)}
    pool: list[tuple[str, str]] = []
    seen: set[str] = set()
    while len(pool) < n:
        i = len(pool)
        if i % HOT_CYCLE < 2:
            q = " ".join(_pick(rng, vocab, 100, 1000, 2 + i % HOT_CYCLE))
            kind = "bm25"
        else:
            a, b, c = _pick(rng, vocab, 100, 1000, 3)
            phrase = _band_bigram(rng, docs, rank, 100, 1000)
            q = [
                f"{a} AND {b}",
                f"({a} OR {b}) AND NOT {c}",
                f"{phrase} OR {a}",
                f"{phrase} AND NOT {c}",
            ][i // HOT_CYCLE % 4]
            kind = "boolean"
        if q not in seen:
            seen.add(q)
            pool.append((kind, q))
    return pool


def cold_queries(
    rng: np.random.Generator, vocab: list[str], n: int
) -> list[tuple[str, str]]:
    """``n`` unique (kind, query) pairs over the vocabulary tail in a fixed
    cycle of four: one BM25 bag-of-words, then boolean queries built on the
    expansion atoms prefix ``pre*``, fuzzy ``term~1`` and range
    ``[a TO b]``."""
    sorted_vocab = sorted(vocab)
    tail_lo = len(vocab) // 10
    out: list[tuple[str, str]] = []
    seen: set[str] = set()
    while len(out) < n:
        form = len(out) % COLD_CYCLE
        a, b, c = _pick(rng, vocab, tail_lo, len(vocab), 3)
        if form == 0:
            q, kind = f"{a} {b} {c}", "bm25"
        else:
            i = int(rng.integers(0, len(sorted_vocab) - 8))
            lo, hi = sorted_vocab[i], sorted_vocab[i + 4]
            head = _pick(rng, vocab, 100, 200)[0]
            q = [
                f"{a[:4]}* AND {b}",
                f"{a}~1 OR {b}",
                f"[{lo} TO {hi}] AND NOT {head}",
            ][form - 1]
            kind = "boolean"
        if q not in seen:
            seen.add(q)
            out.append((kind, q))
    return out


def hot_stream(rng: np.random.Generator, pool: list[tuple[str, str]], n: int):
    """``n`` draws from ``pool`` in passes: each pass takes every pool query
    once, in a seeded order within its kind, and keeps the pool's own
    fixed kind cycle (two BM25, one boolean). After the first pass every
    search repeats one seen before, and any whole pass costs the average
    over the pool, whichever queries the seed drew."""
    by_kind: dict[str, list] = {}
    for item in pool:
        by_kind.setdefault(item[0], []).append(item)
    kinds = [item[0] for item in pool[:HOT_CYCLE]]
    out = 0
    while True:
        order = {k: iter(rng.permutation(len(v))) for k, v in by_kind.items()}
        for i in range(len(pool)):
            if out == n:
                return
            kind = kinds[i % HOT_CYCLE]
            yield by_kind[kind][next(order[kind])]
            out += 1


# ---------------- relational tables for the batch jobs ----------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_tables(rng: np.random.Generator, n_orders: int) -> dict:
    """TPC-H-shaped tables (column names, types and value domains of the
    star schema the registry rows read) sized by ``n_orders``; four
    lineitems per order on average. Returns {name: pandas.DataFrame}."""
    import pandas as pd

    n_cust = max(100, n_orders // 10)
    n_supp = max(20, n_orders // 150)
    n_part = max(100, n_orders // 8)
    day0 = np.datetime64("1995-01-01")
    region = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}
    )
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    part = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"part {i}" for i in range(n_part)],
            "p_brand": [f"Brand#{1 + i % 5}{1 + i % 7}" for i in range(n_part)],
            "p_type": rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": _money(rng, 900, 2000, n_part),
        }
    )
    odate = day0 + rng.integers(0, 2400, n_orders).astype("timedelta64[D]")
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": _money(rng, 1000, 500000, n_orders),
            "o_orderdate": odate.astype("datetime64[us]"),
            "o_orderpriority": rng.choice(_PRIORITIES, n_orders),
        }
    )
    n_li = n_orders * 4
    l_ok = rng.integers(0, n_orders, n_li).astype(np.int64)
    lineitem = pd.DataFrame(
        {
            "l_orderkey": l_ok,
            # a few parts per order so a returned line can meet an unreturned
            # line of the same (order, part) — the q49 return-ratio join
            "l_partkey": ((l_ok * 7 + rng.integers(0, 3, n_li)) % n_part).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": (
                day0 + rng.integers(1, 2400, n_li).astype("timedelta64[D]")
            ).astype("datetime64[us]"),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def embeddings(rng: np.random.Generator, n: int, dim: int = 64, labels: int = 10):
    """(vec_id, embedding float32[dim], label): ``labels`` Gaussian clusters."""
    import pandas as pd

    centers = rng.normal(0, 1, (labels, dim))
    lab = rng.integers(0, labels, n)
    vecs = (centers[lab] + rng.normal(0, 0.6, (n, dim))).astype(np.float32) * 0.1
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(vecs),
            "label": lab.astype(np.int32),
        }
    )


def documents_table(docs: list[tuple[int, str]]):
    """The ``documents`` table schema the text rows read."""
    import pandas as pd

    ids = np.array([d for d, _ in docs], dtype=np.int64)
    texts = [t for _, t in docs]
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": np.where(ids % 3 == 0, "zh", "en"),
            "source": [f"src{i % 5}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
