"""Independent Python reference for every result the benchmark checks.

Nothing here calls the engine: BM25 and the boolean subset the generator
emits are evaluated over Python posting lists, percolation re-evaluates
each stored query per document, and near-duplicates use exact 3-shingle
Jaccard. Only the BM25 constants k1 and b are taken from the engine, so
the reference scores the same formula.
"""

from __future__ import annotations

import math
import re

SCORE_TOL = 1e-3


def tokenize(text: str) -> list[str]:
    return [t for t in re.split("[^a-z0-9]+", text.lower()) if t]


class Corpus:
    """Positional postings, document lengths and BM25 over a doc list."""

    def __init__(self, docs: list[tuple[int, str]], k1: float, b: float):
        self.k1, self.b = k1, b
        self.postings: dict[str, dict[int, list[int]]] = {}
        self.dl: dict[int, int] = {}
        for doc, text in docs:
            toks = tokenize(text)
            self.dl[doc] = len(toks)
            for i, t in enumerate(toks):
                self.postings.setdefault(t, {}).setdefault(doc, []).append(i)
        self.n_docs = len(self.dl)
        self.avgdl = sum(self.dl.values()) / max(self.n_docs, 1)
        self.vocab = sorted(self.postings)

    def docs_with(self, term: str) -> set[int]:
        return set(self.postings.get(term, ()))

    def bm25(self, terms, docs=None) -> dict[int, float]:
        """{doc: unrounded BM25 score} over the distinct ``terms``; restricted
        to ``docs`` when given (docs without any term score 0)."""
        scores: dict[int, float] = {d: 0.0 for d in docs} if docs is not None else {}
        for t in set(terms):
            plist = self.postings.get(t, {})
            df = len(plist)
            idf = math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))
            for d, pos in plist.items():
                if docs is not None and d not in scores:
                    continue
                tf = len(pos)
                norm = self.k1 * (1 - self.b + self.b * self.dl[d] / self.avgdl)
                scores[d] = scores.get(d, 0.0) + idf * tf * (self.k1 + 1) / (tf + norm)
        return scores

    def phrase_docs(self, toks: list[str]) -> set[int]:
        cand = set.intersection(*(self.docs_with(t) for t in toks))
        out = set()
        for d in cand:
            starts = self.postings[toks[0]][d]
            rest = [set(self.postings[t][d]) for t in toks[1:]]
            if any(all(p + i in r for i, r in enumerate(rest, 1)) for p in starts):
                out.add(d)
        return out


# ---------------- the generated boolean subset ----------------

_TOK = re.compile(r'"[^"]*"|\(|\)|\[[^\]]*\]|[^\s()]+')


def parse(q: str):
    """AST of the generated subset: terms, "phrases", pre*, term~d,
    [lo TO hi], AND / OR / NOT and parentheses (OR < AND < NOT)."""
    toks = _TOK.findall(q)
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else None

    def take():
        nonlocal pos
        pos += 1
        return toks[pos - 1]

    def p_or():
        parts = [p_and()]
        while peek() == "OR":
            take()
            parts.append(p_and())
        return parts[0] if len(parts) == 1 else ("or", parts)

    def p_and():
        parts = [p_not()]
        while peek() == "AND":
            take()
            parts.append(p_not())
        return parts[0] if len(parts) == 1 else ("and", parts)

    def p_not():
        if peek() == "NOT":
            take()
            return ("not", p_not())
        return p_atom()

    def p_atom():
        t = take()
        if t == "(":
            node = p_or()
            if take() != ")":
                raise ValueError(f"unbalanced parenthesis in {q!r}")
            return node
        if t.startswith('"'):
            return ("phrase", tokenize(t))
        if t.startswith("["):
            lo, to, hi = t[1:-1].split()
            if to != "TO":
                raise ValueError(f"bad range {t!r}")
            return ("range", lo, hi)
        if t.endswith("*"):
            return ("prefix", t[:-1])
        m = re.fullmatch(r"([a-z0-9]+)~(\d)", t)
        if m:
            return ("fuzzy", m.group(1), int(m.group(2)))
        if not re.fullmatch(r"[a-z0-9]+", t):
            raise ValueError(f"unsupported atom {t!r}")
        return ("term", t)

    node = p_or()
    if pos != len(toks):
        raise ValueError(f"trailing input in {q!r}")
    return node


def levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def evaluate(node, c: Corpus) -> set[int]:
    kind = node[0]
    if kind == "term":
        return c.docs_with(node[1])
    if kind == "phrase":
        return c.phrase_docs(node[1])
    if kind in ("prefix", "fuzzy", "range"):
        if kind == "prefix":
            terms = [t for t in c.vocab if t.startswith(node[1])]
        elif kind == "fuzzy":
            terms = [t for t in c.vocab if levenshtein(t, node[1]) <= node[2]]
        else:
            terms = [t for t in c.vocab if node[1] <= t <= node[2]]
        return set().union(*(c.docs_with(t) for t in terms))
    if kind == "not":
        return set(c.dl) - evaluate(node[1], c)
    sets = [evaluate(ch, c) for ch in node[1]]
    return set.intersection(*sets) if kind == "and" else set.union(*sets)


def positive_terms(node) -> list[str]:
    """Scoring terms: plain and phrase words not under NOT; expansion atoms
    are constant-score."""
    kind = node[0]
    if kind == "term":
        return [node[1]]
    if kind == "phrase":
        return list(node[1])
    if kind in ("and", "or"):
        return [t for ch in node[1] for t in positive_terms(ch)]
    return []


def expected_scores(c: Corpus, kind: str, query: str) -> dict[int, float]:
    """{doc: score} for every document the query matches."""
    if kind == "bm25":
        return c.bm25(tokenize(query))
    ast = parse(query)
    return c.bm25(positive_terms(ast), evaluate(ast, c))


def check_topk(rows: list[tuple[int, float]], ref: dict[int, float], k: int) -> bool:
    """True when ``rows`` (doc_id, score) is a valid top-k of ``ref``: the
    right length, every score within SCORE_TOL of the reference, scores
    non-increasing, and no omitted doc scoring clearly above the last."""
    if len(rows) != min(k, len(ref)):
        return False
    for d, s in rows:
        if d not in ref or abs(s - ref[d]) > SCORE_TOL:
            return False
    if any(a[1] < b[1] for a, b in zip(rows, rows[1:])):
        return False
    if len(rows) < k:
        return True
    floor = rows[-1][1]
    got = {d for d, _ in rows}
    return all(s <= floor + SCORE_TOL for d, s in ref.items() if d not in got)


def percolate(
    docs: list[tuple[int, str]], queries: list[tuple[int, str]], k1: float, b: float
) -> set[tuple[int, int]]:
    """{(query_id, doc_id)} for every stored query matching each doc."""
    c = Corpus(docs, k1, b)
    return {(qid, d) for qid, q in queries for d in evaluate(parse(q), c)}


# ---------------- near duplicates ----------------


def shingles(text: str, k: int = 3) -> set[str]:
    toks = tokenize(text)
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    union = len(a) + len(b) - inter
    return inter / union if union else 0.0


def components(edges) -> dict[int, int]:
    """{vertex: min vertex of its connected component}."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}
