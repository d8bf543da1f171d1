"""Boolean full-text query language — the user-facing search surface.

Grammar (tokens are case-insensitive; AND binds tighter than OR; NEAR/k
binds tighter than AND):

    query   := or_expr
    or_expr := and_expr (OR and_expr)*
    and_expr:= unary (AND unary)*
    unary   := NOT unary | proximity
    proximity := atom (NEAR/k atom)?
    atom    := '(' query ')'
             | '"' phrase '"' ('~' slop)? ('^' boost)?   phrase (sloppy/boosted)
             | '"' words last'*' '"'       phrase-prefix ("spark jo*")
             | field ':' '"' phrase '"'        field-scoped phrase
             | field ':' term '*'              field-scoped prefix
             | field ':' term '~' dist         field-scoped fuzzy
             | field ':' '[' lo TO hi ']'      field-scoped vocabulary range
             | field ':' pattern with '*'/'?'  field-scoped general wildcard
             | field ':' term                  field-scoped term
             | '[' lo TO hi ']'                vocabulary range
             | term '~' dist                   fuzzy (edit distance)
             | term '*'                        wildcard prefix
             | pattern with '*' / '?'          general wildcard (infix/suffix/
                                               single-char: s*rk, *ark, sp?rk)
             | '/' pattern '/'                 regexp over the vocabulary
             | term ('^' boost)?               term, optionally boosted

Scoring: plain/field/phrase words contribute document-level BM25 (boosts
scale a term's share); prefix/fuzzy/range expansions are constant-score
(standard multi-term-query behavior — expanded terms carry no idf).

One compiler (compile_per_doc) serves inline and indexed search alike:
every atom reduces to concrete vocabulary terms, one posting scan feeds
one per-doc aggregation of atom flags and position arrays, and the
boolean tree becomes a filter over those columns. Pure negation joins
the per-doc rows onto the doc universe. compile_matches — one relation
per atom, composed by semi/anti joins and unions (the INTERSECT/UNION/
EXCEPT rewrites of the reference's optimizer, Optimizer.scala:1065/1086)
— is the independent reference the tests check the compiler against.
Results are ranked by BM25 over the query's positive terms.

This is the composition layer the reference fork existed to enable
("full-text query within the Spark framework") — tokenize → index → boolean
retrieval → relevance ranking, all as one Catalyst plan.
"""

from __future__ import annotations

import operator
import re
from dataclasses import astuple, dataclass, replace
from functools import reduce
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparkfulltextquery_spark.functions.fulltext import (
    _py_tokenize,
    bm25_scores,
    exact_starts_expr,
    field_pos_pred,
    field_start_pred,
    postings,
    reduce_and,
    slop_starts_expr,
)
from sparkfulltextquery_spark.functions.index_expand import (
    MAX_EXPANSIONS,
    atom_expansion_key,
    collect_expansion_keys,
    expansion_pred,
    resolve_expansions_over,
)
from sparkfulltextquery_spark.functions.text import tokenize


# ---------------- AST ----------------


@dataclass(frozen=True)
class Term:
    text: str
    boost: float = 1.0  # Lucene-style `term^2`; scales the term's BM25 share


@dataclass(frozen=True)
class Prefix:
    """Wildcard prefix atom (`spar*`): matches any term with the prefix.
    Unscored (standard full-text behavior: expanded terms don't contribute
    idf), and unprunable by bucketing — the scan filters StartsWith."""

    text: str


@dataclass(frozen=True)
class Wildcard:
    """General wildcard atom (Lucene WildcardQuery): `*` matches any run of
    characters (including empty), `?` exactly one — so `s*rk`, `*ark`, and
    `sp?rk` are all wildcards, while a lone trailing `*` stays the Prefix
    atom (whose StartsWith predicate range-scans a sorted vocabulary;
    leading/infix wildcards cannot). Constant-score like Prefix (expanded
    terms contribute no idf); matching is a LIKE predicate over the
    vocabulary (`*`→`%`, `?`→`_` — no other LIKE metacharacters can occur:
    the pattern alphabet is [a-z0-9*?])."""

    pattern: str

    def like_pattern(self) -> str:
        return self.pattern.replace("*", "%").replace("?", "_")


@dataclass(frozen=True)
class Phrase:
    """Exact phrase, or — with slop > 0 (`"a b"~2`) — an ordered sloppy
    phrase: the words in order with at most ``slop`` extra tokens
    interleaved in total (fulltext.slop_starts_expr semantics). A boost
    (`"a b"^2`, Lucene phrase boost) scales the phrase words' BM25 shares
    like a term boost; it never affects MATCHING, so flag keys stay
    (text, slop)."""

    text: str
    slop: int = 0
    boost: float = 1.0


@dataclass(frozen=True)
class PhrasePrefix:
    """Phrase-prefix atom (`"spark jo*"` — Elasticsearch
    match_phrase_prefix / Lucene MatchPhrasePrefixQuery): the lead words
    consecutively in order, immediately followed by ANY term with the
    final prefix. The lead words score document-level BM25 like Phrase
    words; the prefix expansion is constant-score like the Prefix atom.
    No slop or boost (reject, like field-scoped phrases)."""

    text: str  # the exact lead words, space-joined
    prefix: str  # the final-word prefix


@dataclass(frozen=True)
class Field:
    """Field-scoped atom (`title:spark`): the term must occur inside the
    named field. Fields are carved positionally from the single text
    column exactly as bm25f_search does (title = first BM25F_TITLE_LEN
    tokens, body = rest), so field membership is a position predicate.
    The term still scores document-level BM25 (the field-weighted scoring
    composition is bm25f_search)."""

    field: str  # "title" | "body"
    text: str


@dataclass(frozen=True)
class Fuzzy:
    """Fuzzy atom (`term~2`): matches any vocabulary term within edit
    distance `dist`. Constant-score like Prefix (expanded terms don't
    contribute idf — standard multi-term query behavior), and unprunable
    by bucketing: the scan filters a levenshtein predicate over the
    vocabulary, the same shape as fulltext_fuzzy_vocab."""

    text: str
    dist: int


@dataclass(frozen=True)
class Regex:
    """Regexp atom (`/sp.rk/`, Lucene RegexpQuery): matches any vocabulary
    term the pattern matches ENTIRELY (Lucene regexps are implicitly
    anchored — no ^/$ inside the pattern). Constant-score like Prefix
    (expanded terms contribute no idf); unprunable by hash bucketing — the
    scan filters an RLIKE predicate over the vocabulary, the same shape as
    Fuzzy's levenshtein scan. The pattern is restricted to a portable
    subset (literals, `.`, `*`, `+`, `?`, `|`, groups, char classes) that
    Java regex and RE2-family engines interpret identically."""

    pattern: str

    def anchored(self) -> str:
        return f"^(?:{self.pattern})$"


@dataclass(frozen=True)
class TermRange:
    """Lexicographic vocabulary range atom (`[alpha TO beta]`, Lucene
    range query): matches any term t with lo <= t <= beta, bounds
    inclusive. Constant-score like Prefix (expanded terms contribute no
    idf); unprunable by hash bucketing — the scan filters a range
    predicate over the vocabulary."""

    lo: str
    hi: str


@dataclass(frozen=True)
class FieldPhrase:
    """Field-scoped exact phrase (`title:"a b"`): the phrase must occur
    ENTIRELY inside the named field (same positional title/body carving
    as Field). Exact-only — slop inside a field scope is rejected. The
    phrase words score document-level BM25 like Phrase words."""

    field: str  # "title" | "body"
    text: str


@dataclass(frozen=True)
class FieldPrefix:
    """Field-scoped wildcard prefix (`title:spar*`): any term with the
    prefix occurring inside the positionally-carved field. Constant-score
    like Prefix (multi-term expansion contributes no idf); matching is a
    StartsWith over the vocabulary AND a position predicate — the
    composition of Prefix and Field."""

    field: str  # "title" | "body"
    text: str


@dataclass(frozen=True)
class FieldFuzzy:
    """Field-scoped fuzzy (`title:sparc~1`): any vocabulary term within
    edit distance `dist` occurring inside the positionally-carved field —
    the composition of Fuzzy and Field. Constant-score like Fuzzy."""

    field: str  # "title" | "body"
    text: str
    dist: int


@dataclass(frozen=True)
class FieldRange:
    """Field-scoped lexicographic range (`title:[alpha TO beta]`, r7 — the
    composition of TermRange and Field): any vocabulary term in
    [lo, hi] occurring inside the positionally-carved field.
    Constant-score like TermRange."""

    field: str  # "title" | "body"
    lo: str
    hi: str


@dataclass(frozen=True)
class FieldWildcard:
    """Field-scoped general wildcard (`title:sp?rk`, `body:*ark`, r7 — the
    composition of Wildcard and Field): the LIKE vocabulary predicate AND
    the position carving. A single trailing `*` stays FieldPrefix.
    Constant-score like Wildcard."""

    field: str  # "title" | "body"
    pattern: str

    def like_pattern(self) -> str:
        return self.pattern.replace("*", "%").replace("?", "_")


@dataclass(frozen=True)
class Near:
    """Proximity atom `a NEAR/k b`: both terms within k token positions
    (unordered). Operands are plain terms; both score in BM25."""

    a: str
    b: str
    k: int


@dataclass(frozen=True)
class Not:
    child: object


@dataclass(frozen=True)
class And:
    children: tuple


@dataclass(frozen=True)
class Or:
    children: tuple


_TOKEN_RE = re.compile(r'/[^/\s]+/|\(|\)|"[^"]*"|[^\s()"]+')

# the portable regexp-atom subset: literals, dot, quantifiers, alternation,
# groups, character classes — NO anchors (Lucene regexps are implicitly
# anchored), NO backslash escapes (escape semantics differ across engines)
_REGEX_ATOM_OK = re.compile(r"^[a-z0-9.*+?|()\[\]\-]+$")


def parse_query(q: str):
    """Parse the boolean grammar into an AST. Raises ValueError on syntax
    errors (unbalanced parens, dangling operators, empty query)."""
    toks = _TOKEN_RE.findall(q)
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else None

    def take():
        nonlocal pos
        t = toks[pos]
        pos += 1
        return t

    def parse_or():
        parts = [parse_and()]
        while peek() is not None and peek().upper() == "OR":
            take()
            parts.append(parse_and())
        return parts[0] if len(parts) == 1 else Or(tuple(parts))

    def parse_and():
        # adjacency is implicit AND ("spark join" == "spark AND join")
        parts = [parse_unary()]
        while True:
            t = peek()
            if t is None or t == ")" or t.upper() == "OR":
                break
            if t.upper() == "AND":
                take()
            parts.append(parse_unary())
        return parts[0] if len(parts) == 1 else And(tuple(parts))

    def parse_unary():
        t = peek()
        if t is None:
            raise ValueError("dangling operator in query")
        if t.upper() == "NOT":
            take()
            return Not(parse_unary())
        return parse_proximity()

    def parse_proximity():
        # NEAR/k binds tighter than AND: `a NEAR/3 b AND c` == (a NEAR/3 b) AND c
        left = parse_atom()
        t = peek()
        m = re.fullmatch(r"NEAR/(\d+)", t, re.IGNORECASE) if t else None
        if not m:
            return left
        take()
        right = parse_atom()
        if not isinstance(left, Term) or not isinstance(right, Term):
            raise ValueError("NEAR/k operands must be plain terms")
        if left.boost != 1.0 or right.boost != 1.0:
            raise ValueError("boost on NEAR operands is not supported")
        return Near(left.text, right.text, int(m.group(1)))

    def parse_atom():
        if peek() is None:
            raise ValueError("dangling operator in query")
        t = take()
        if t == "(":
            node = parse_or()
            if peek() != ")":
                raise ValueError("unbalanced parenthesis")
            take()
            return node
        if t == ")":
            raise ValueError("unexpected ')'")
        def parse_range_bounds(first: str) -> tuple[str, str]:
            # `[alpha TO beta]` — three tokens: '[alpha', 'TO', 'beta]'
            parts = [first]
            while not parts[-1].endswith("]") and len(parts) < 4:
                if peek() is None or peek() in ("(", ")"):
                    raise ValueError("unterminated range atom (expected ']')")
                parts.append(take())
            if len(parts) != 3 or parts[1].upper() != "TO":
                raise ValueError(f"malformed range atom {' '.join(parts)!r}")
            lo_raw, hi_raw = parts[0][1:], parts[2][:-1]
            lo_n, hi_n = _py_tokenize(lo_raw), _py_tokenize(hi_raw)
            if len(lo_n) != 1 or len(hi_n) != 1:
                raise ValueError(
                    f"range bounds must normalize to one term each: {first!r}"
                )
            if lo_n[0] > hi_n[0]:
                raise ValueError(f"empty range: {lo_n[0]!r} > {hi_n[0]!r}")
            return lo_n[0], hi_n[0]

        if t.startswith("["):
            return TermRange(*parse_range_bounds(t))
        if t.startswith("/") and t.endswith("/") and len(t) >= 3:
            pat = t[1:-1].lower()
            if not _REGEX_ATOM_OK.fullmatch(pat):
                raise ValueError(
                    f"regexp atom {t!r} outside the portable subset "
                    "(letters, digits, . * + ? | ( ) [ ] -)"
                )
            # stacked quantifiers: possessive (*+, ++) compile in Java
            # regex but RE2-family engines reject them, and lazy (*?)
            # differs only in group capture we don't expose — both are
            # outside the portable contract. Scan with character classes
            # stripped (ADVICE r06): inside [...] those chars are literals,
            # so /a[+?]/ is portable and must not be rejected. The subset
            # has no backslash escapes, so classes end at the first ']'.
            if re.search(r"[*+?][*+?]", re.sub(r"\[[^\]]*\]", "", pat)):
                raise ValueError(
                    f"stacked quantifiers in regexp atom {t!r} "
                    "(possessive/lazy forms are not portable)"
                )
            try:
                re.compile(pat)
            except re.error as exc:
                raise ValueError(f"invalid regexp atom {t!r}: {exc}") from exc
            return Regex(pat)
        if t.startswith('"'):
            body = t.strip('"')
            if not _py_tokenize(body):
                raise ValueError("empty phrase")
            if body.endswith("*"):
                # `"spark jo*"` — phrase-prefix (r7)
                if "*" in body[:-1] or "?" in body:
                    raise ValueError(
                        f"wildcards inside a phrase are prefix-final-only: {t!r}"
                    )
                words = _py_tokenize(body[:-1])
                if len(words) < 2:
                    raise ValueError(
                        f"phrase-prefix {t!r} needs at least one lead word "
                        "(use a plain prefix atom otherwise)"
                    )
                if peek() and re.fullmatch(
                    r"(?:~\d+)(?:\^\d+(?:\.\d+)?)?|(?:\^\d+(?:\.\d+)?)", peek()
                ):
                    raise ValueError(
                        "slop/boost on a phrase-prefix is not supported"
                    )
                return PhrasePrefix(" ".join(words[:-1]), words[-1])
            if "*" in body or "?" in body:
                # fail loud: a non-final wildcard inside a phrase would
                # otherwise tokenize-strip silently ("sp*rk" -> "sp rk")
                raise ValueError(
                    f"wildcards inside a phrase are prefix-final-only: {t!r}"
                )
            nxt = peek()
            # `"a b"~k` (ordered sloppy phrase), `"a b"^N` (phrase boost),
            # or both combined as one token `~k^N`
            m = (
                re.fullmatch(r"(?:~(\d+))?(?:\^(\d+(?:\.\d+)?))?", nxt)
                if nxt
                else None
            )
            if m and (m.group(1) or m.group(2)):
                take()
                slop = int(m.group(1)) if m.group(1) else 0
                boost = float(m.group(2)) if m.group(2) else 1.0
                if slop and len(_py_tokenize(body)) < 2:
                    raise ValueError("sloppy phrase needs at least two terms")
                return Phrase(body, slop, boost)
            return Phrase(body)
        if t.upper() in ("AND", "OR", "NOT") or re.fullmatch(
            r"NEAR/\d+", t, re.IGNORECASE
        ):
            raise ValueError(f"operator {t!r} in term position")
        boost = 1.0
        m = re.fullmatch(r"(.+?)\^(\d+(?:\.\d+)?)", t)
        if m:
            t, boost = m.group(1), float(m.group(2))
        if "^" in t:
            raise ValueError(f"malformed boost in atom {t!r}^{boost}")
        m = re.fullmatch(r"([A-Za-z]+):", t)
        if m:
            # `title:"a b"` — the quote breaks tokenization, so the field
            # prefix arrives as its own token followed by the phrase token
            field = m.group(1).lower()
            if field not in ("title", "body"):
                raise ValueError(f"unknown field {field!r} (title|body)")
            nxt = peek()
            if nxt is None or not nxt.startswith('"'):
                raise ValueError(f"dangling field prefix {t!r}")
            body = take().strip('"')
            if not _py_tokenize(body):
                raise ValueError("empty field phrase")
            if peek() and re.fullmatch(r"~\d+", peek()):
                raise ValueError("slop inside a field scope is not supported")
            return FieldPhrase(field, body)
        m = re.fullmatch(r"([A-Za-z]+):(.+)", t)
        if m:
            field, body = m.group(1).lower(), m.group(2)
            if field not in ("title", "body"):
                raise ValueError(f"unknown field {field!r} (title|body)")
            if boost != 1.0:
                raise ValueError("boost on a field atom is not supported")
            if ":" in body:
                raise ValueError(f"field atom {t!r} must scope a plain term")
            if body.startswith("["):
                # `title:[alpha TO beta]` — field-scoped vocabulary range
                # (r7; ADVICE r06 flagged the silent misparse, now a real atom)
                return FieldRange(field, *parse_range_bounds(body))
            if "[" in body or "]" in body:
                # fail loud (ADVICE r06): a stray bracket would otherwise
                # tokenize-strip silently into a plain term
                raise ValueError(f"brackets in field atom {t!r}")
            fm = re.fullmatch(r"(.+)~(\d)", body)
            if fm:
                # `title:sparc~1` — field-scoped fuzzy
                fbody, fdist = fm.group(1), int(fm.group(2))
                if not 1 <= fdist <= 3:
                    raise ValueError(f"fuzzy distance must be 1-3, got {fdist}")
                if "*" in fbody or "~" in fbody:
                    raise ValueError(f"malformed field fuzzy atom {t!r}")
                norm = _py_tokenize(fbody)
                if len(norm) != 1:
                    raise ValueError(
                        f"field fuzzy {t!r} must normalize to one token"
                    )
                return FieldFuzzy(field, norm[0], fdist)
            if "~" in body:
                raise ValueError(f"field atom {t!r} must scope a plain term")
            if (
                body.endswith("*")
                and len(body) > 1
                and "*" not in body[:-1]
                and "?" not in body
            ):
                # `title:spar*` — field-scoped wildcard prefix (a single
                # trailing `*` stays the range-scannable prefix form)
                norm = _py_tokenize(body[:-1])
                if len(norm) != 1:
                    raise ValueError(
                        f"field prefix {t!r} must normalize to one token"
                    )
                return FieldPrefix(field, norm[0])
            if "*" in body or "?" in body:
                # `title:sp?rk` / `body:*ark` — field-scoped general wildcard
                pat = body.lower()
                if not re.fullmatch(r"[a-z0-9*?]+", pat):
                    raise ValueError(f"malformed field wildcard atom {t!r}")
                if not re.search(r"[a-z0-9]", pat):
                    raise ValueError(
                        f"field wildcard {t!r} needs at least one literal character"
                    )
                return FieldWildcard(field, re.sub(r"\*{2,}", "*", pat))
            norm = _py_tokenize(body)
            if len(norm) != 1:
                raise ValueError(f"field atom {t!r} must normalize to one term")
            return Field(field, norm[0])
        m = re.fullmatch(r"(.+)~(\d)", t)
        if m:
            body, dist = m.group(1), int(m.group(2))
            if boost != 1.0:
                raise ValueError("boost on a fuzzy atom is meaningless (unscored)")
            if not 1 <= dist <= 3:
                raise ValueError(f"fuzzy distance must be 1-3, got {dist}")
            if "*" in body or "~" in body:
                raise ValueError(f"malformed fuzzy atom {t!r}")
            norm = _py_tokenize(body)
            if len(norm) != 1:
                raise ValueError(f"fuzzy atom {t!r} must normalize to one term")
            return Fuzzy(norm[0], dist)
        if "~" in t or ":" in t or "/" in t or "[" in t or "]" in t:
            # brackets fail loud (ADVICE r06): a stray ']' would otherwise
            # tokenize-strip silently into a plain term
            raise ValueError(f"malformed atom {t!r}")
        if t.endswith("*") and len(t) > 1 and "*" not in t[:-1] and "?" not in t:
            # a SINGLE trailing `*` stays the Prefix atom — its StartsWith
            # predicate range-scans a sorted vocabulary, which general
            # wildcards can't
            norm = _py_tokenize(t[:-1])
            if len(norm) != 1:
                raise ValueError(f"prefix {t!r} must normalize to one token")
            if boost != 1.0:
                raise ValueError("boost on a prefix atom is meaningless (unscored)")
            return Prefix(norm[0])
        if "*" in t or "?" in t:
            # general wildcard: leading/infix `*`, single-char `?` (r7)
            pat = t.lower()
            if boost != 1.0:
                raise ValueError(
                    "boost on a wildcard atom is meaningless (unscored)"
                )
            if not re.fullmatch(r"[a-z0-9*?]+", pat):
                raise ValueError(f"malformed wildcard atom {t!r}")
            if not re.search(r"[a-z0-9]", pat):
                raise ValueError(
                    f"wildcard atom {t!r} needs at least one literal character"
                )
            return Wildcard(re.sub(r"\*{2,}", "*", pat))
        norm = _py_tokenize(t)
        if len(norm) != 1:
            raise ValueError(f"term {t!r} must normalize to one token")
        return Term(norm[0], boost)

    if not toks:
        raise ValueError("empty query")
    node = parse_or()
    if pos != len(toks):
        raise ValueError(f"trailing input: {toks[pos:]}")
    return node


def positive_terms(node) -> list[str]:
    """Terms usable for relevance scoring (everything not under a NOT).
    Prefix atoms are unscored and contribute nothing."""
    if isinstance(node, Term):
        return [node.text]
    if isinstance(node, Field):
        return [node.text]  # field atoms score document-level BM25
    if isinstance(node, FieldPhrase):
        return _py_tokenize(node.text)  # like Phrase words
    if isinstance(node, Phrase):
        return _py_tokenize(node.text)
    if isinstance(node, PhrasePrefix):
        return _py_tokenize(node.text)  # lead words score; prefix doesn't
    if isinstance(node, Near):
        return [node.a, node.b]
    if isinstance(
        node,
        (Not, Prefix, Wildcard, Fuzzy, TermRange, Regex, FieldPrefix,
         FieldFuzzy, FieldRange, FieldWildcard),
    ):
        return []
    return [t for c in node.children for t in positive_terms(c)]


def term_boosts(node) -> dict[str, float]:
    """{term: boost} over the scoring (positive) terms; a term appearing
    with several boosts takes the max. Phrase words carry the phrase's
    boost (`"a b"^2`); field-phrase words score unboosted.

    DOCUMENTED DEVIATION from Lucene (ADVICE r06): boosts max-merge
    ACROSS clauses — in `"spark join"^2 OR spark` the 2x boost applies to
    every doc's 'spark' contribution, including docs matching only the
    bare `spark` clause, whereas Lucene scopes a phrase boost to the
    phrase clause's own matches. Per-document per-clause scoring would
    need a score column per clause; the max-merge keeps ranking monotone
    in the boosted terms and is the documented contract here (the oracles
    mirror it)."""
    if isinstance(node, Term):
        return {node.text: node.boost}
    if isinstance(node, Field):
        return {node.text: 1.0}
    if isinstance(node, FieldPhrase):
        return {t: 1.0 for t in _py_tokenize(node.text)}
    if isinstance(node, Phrase):
        return {t: node.boost for t in _py_tokenize(node.text)}
    if isinstance(node, PhrasePrefix):
        return {t: 1.0 for t in _py_tokenize(node.text)}
    if isinstance(node, Near):
        return {node.a: 1.0, node.b: 1.0}
    if isinstance(
        node,
        (Not, Prefix, Wildcard, Fuzzy, TermRange, Regex, FieldPrefix,
         FieldFuzzy, FieldRange, FieldWildcard),
    ):
        return {}
    out: dict[str, float] = {}
    for c in node.children:
        for t, b in term_boosts(c).items():
            out[t] = max(out.get(t, 1.0), b)
    return out


# ---------------- compilation ----------------


def compile_matches(
    node, post: DataFrame, phrase_fn, universe: DataFrame, near_fn=None,
    field_fn=None, fphrase_fn=None, fprefix_fn=None, ffuzzy_fn=None,
    frange_fn=None, fwild_fn=None, ppfx_fn=None, term_resolver=None,
) -> DataFrame:
    """Compile an AST node to a distinct (doc_id) DataFrame — the
    join-based reference the tests check compile_per_doc against; no
    search entry point runs it.

    Each atom becomes its own relation of matching doc_ids and AND/OR/NOT
    compose via left-semi join / union-distinct / left-anti against
    ``universe`` (the doc_id domain). ``post`` is any (term, doc_id, …)
    posting relation; the ``*_fn`` callables supply the positional and
    field-scoped atoms (e.g. ``phrase_fn(text, slop) -> DataFrame[doc_id]``,
    ``field_fn(field, term)``); ``term_resolver(node) -> list[str] | None``
    maps a plain expansion atom to resolved vocabulary terms (an equality
    ``isin``), and None keeps its predicate form
    (StartsWith/LIKE/BETWEEN/levenshtein/RLIKE)."""

    def _multiterm(nd, fallback_pred):
        ts = term_resolver(nd) if term_resolver is not None else None
        if ts is None:
            pred = fallback_pred()
        elif ts:
            pred = F.col("term").isin(ts)
        else:
            pred = F.lit(False)
        return post.filter(pred).select("doc_id").distinct()

    if isinstance(node, Term):
        return post.filter(F.col("term") == node.text).select("doc_id").distinct()
    if isinstance(node, Prefix):
        return _multiterm(node, lambda: F.col("term").startswith(node.text))
    if isinstance(node, Wildcard):
        # vocabulary LIKE scan (`*`→`%`, `?`→`_`) — unprunable, like Prefix
        return _multiterm(node, lambda: F.col("term").like(node.like_pattern()))
    if isinstance(node, TermRange):
        # vocabulary range scan — unprunable by hash bucketing, like Prefix
        return _multiterm(node, lambda: F.col("term").between(node.lo, node.hi))
    if isinstance(node, Fuzzy):
        # vocabulary-wide edit-distance scan (same shape as
        # fulltext_fuzzy_vocab) — unprunable, like Prefix
        return _multiterm(
            node,
            lambda: F.levenshtein(F.col("term"), F.lit(node.text)) <= node.dist,
        )
    if isinstance(node, Regex):
        # vocabulary-wide anchored-regexp scan (Lucene RegexpQuery) —
        # unprunable, like Prefix and Fuzzy
        return _multiterm(node, lambda: F.col("term").rlike(node.anchored()))
    if isinstance(node, Phrase):
        return phrase_fn(node.text, node.slop)
    if isinstance(node, Field):
        if field_fn is None:
            raise ValueError("field atom requires a field_fn")
        return field_fn(node.field, node.text)
    if isinstance(node, FieldPhrase):
        if fphrase_fn is None:
            raise ValueError("field-phrase atom requires a fphrase_fn")
        return fphrase_fn(node.field, node.text)
    if isinstance(node, FieldPrefix):
        if fprefix_fn is None:
            raise ValueError("field-prefix atom requires a fprefix_fn")
        return fprefix_fn(node.field, node.text)
    if isinstance(node, FieldFuzzy):
        if ffuzzy_fn is None:
            raise ValueError("field-fuzzy atom requires a ffuzzy_fn")
        return ffuzzy_fn(node.field, node.text, node.dist)
    if isinstance(node, FieldRange):
        if frange_fn is None:
            raise ValueError("field-range atom requires a frange_fn")
        return frange_fn(node.field, node.lo, node.hi)
    if isinstance(node, FieldWildcard):
        if fwild_fn is None:
            raise ValueError("field-wildcard atom requires a fwild_fn")
        return fwild_fn(node.field, node.pattern)
    if isinstance(node, PhrasePrefix):
        if ppfx_fn is None:
            raise ValueError("phrase-prefix atom requires a ppfx_fn")
        return ppfx_fn(node.text, node.prefix)
    if isinstance(node, Near):
        if near_fn is None:
            raise ValueError("NEAR atom requires a near_fn")
        return near_fn(node.a, node.b, node.k)
    if isinstance(node, And):
        out = compile_matches(
            node.children[0], post, phrase_fn, universe, near_fn, field_fn,
            fphrase_fn, fprefix_fn, ffuzzy_fn, frange_fn, fwild_fn, ppfx_fn,
            term_resolver,
        )
        for c in node.children[1:]:
            out = out.join(
                compile_matches(
                    c, post, phrase_fn, universe, near_fn, field_fn,
                    fphrase_fn, fprefix_fn, ffuzzy_fn, frange_fn, fwild_fn, ppfx_fn,
                    term_resolver,
                ),
                "doc_id",
                "left_semi",
            )
        return out
    if isinstance(node, Or):
        out = compile_matches(
            node.children[0], post, phrase_fn, universe, near_fn, field_fn,
            fphrase_fn, fprefix_fn, ffuzzy_fn, frange_fn, fwild_fn, ppfx_fn,
            term_resolver,
        )
        for c in node.children[1:]:
            out = out.union(
                compile_matches(
                    c, post, phrase_fn, universe, near_fn, field_fn,
                    fphrase_fn, fprefix_fn, ffuzzy_fn, frange_fn, fwild_fn, ppfx_fn,
                    term_resolver,
                )
            )
        return out.distinct()
    if isinstance(node, Not):
        return universe.join(
            compile_matches(
                node.child, post, phrase_fn, universe, near_fn, field_fn,
                fphrase_fn, fprefix_fn, ffuzzy_fn, frange_fn, fwild_fn, ppfx_fn,
                term_resolver,
            ),
            "doc_id",
            "left_anti",
        )
    raise TypeError(f"unknown node {node!r}")


def _eval_empty(node) -> bool:
    """Truth value of the AST for a document containing NO atom at all —
    True means pure-negation semantics need the full doc universe."""
    if isinstance(node, Not):
        return not _eval_empty(node.child)
    if isinstance(node, And):
        return all(_eval_empty(c) for c in node.children)
    if isinstance(node, Or):
        return any(_eval_empty(c) for c in node.children)
    return False


def atoms(node):
    """Every atom of the AST, in tree order."""
    if isinstance(node, Not):
        yield from atoms(node.child)
    elif isinstance(node, (And, Or)):
        for c in node.children:
            yield from atoms(c)
    else:
        yield node


def _atom_key(node):
    """Boosts change ranking, never matching: atoms differing only in
    boost share one flag."""
    return replace(node, boost=1.0) if hasattr(node, "boost") else node


def _isin(terms) -> Column:
    return F.col("term").isin(terms) if terms else F.lit(False)


def _expanded(n, expansion) -> Column:
    return _isin(expansion.get(atom_expansion_key(n), []))


def _expanded_in_field(n, expansion) -> Column:
    return _expanded(n, expansion) & F.exists(
        F.col("positions"), field_pos_pred(n.field)
    )


def _present(arr: dict, terms) -> Column:
    return reduce_and([arr[t].isNotNull() for t in terms])


def _phrase_match(n, _own, arr) -> Column:
    toks = _py_tokenize(n.text)
    starts = (
        slop_starts_expr(arr, toks, n.slop) if n.slop else exact_starts_expr(arr, toks)
    )
    return _present(arr, toks) & (F.size(starts) > 0)


def _field_phrase_match(n, _own, arr) -> Column:
    toks = _py_tokenize(n.text)
    starts = F.filter(
        exact_starts_expr(arr, toks), field_start_pred(n.field, len(toks))
    )
    return _present(arr, toks) & (F.size(starts) > 0)


def _phrase_prefix_match(n, tail, arr) -> Column:
    toks = _py_tokenize(n.text)
    starts = F.filter(
        exact_starts_expr(arr, toks),
        lambda p: F.exists(tail, lambda q: q == p + F.lit(len(toks))),
    )
    return _present(arr, toks) & (F.size(starts) > 0)


def _near_match(n, _own, arr) -> Column:
    pairs = F.filter(
        arr[n.a],
        lambda p: F.exists(arr[n.b], lambda q: F.abs(q - p) <= F.lit(n.k)),
    )
    return _present(arr, [n.a, n.b]) & (F.size(pairs) > 0)


def _field_match(n, _own, arr) -> Column:
    return _present(arr, [n.text]) & F.exists(arr[n.text], field_pos_pred(n.field))


class _Kind(NamedTuple):
    """How one atom kind compiles into the per-doc aggregation."""

    agg: Callable | None  # (atom, expansion) -> the atom's own aggregate
    slots: Callable  # atom -> exact terms whose position arrays it reads
    match: Callable  # (atom, own aggregate, {term: position array}) -> Column


def _flag(cond) -> _Kind:
    """A flag atom: matched when any of the doc's posting rows meets cond."""
    return _Kind(
        lambda n, exp: F.max(F.when(cond(n, exp), 1).otherwise(0)),
        lambda n: (),
        lambda n, own, arr: own == 1,
    )


def _tokens(n):
    return _py_tokenize(n.text)


# atom class -> compilation; the order is the per-doc aggregate's column
# order
_KINDS = {
    Term: _flag(lambda n, exp: F.col("term") == n.text),
    Prefix: _flag(_expanded),
    Fuzzy: _flag(_expanded),
    TermRange: _flag(_expanded),
    Regex: _flag(_expanded),
    Wildcard: _flag(_expanded),
    FieldPrefix: _flag(_expanded_in_field),
    FieldFuzzy: _flag(_expanded_in_field),
    FieldRange: _flag(_expanded_in_field),
    FieldWildcard: _flag(_expanded_in_field),
    PhrasePrefix: _Kind(
        # the positions of every term the final-word prefix resolved to
        lambda n, exp: F.flatten(
            F.collect_list(F.when(_expanded(n, exp), F.col("positions")))
        ),
        _tokens,
        _phrase_prefix_match,
    ),
    Phrase: _Kind(None, _tokens, _phrase_match),
    FieldPhrase: _Kind(None, _tokens, _field_phrase_match),
    Field: _Kind(None, lambda n: [n.text], _field_match),
    Near: _Kind(None, lambda n: [n.a, n.b], _near_match),
}
_RANK = {cls: i for i, cls in enumerate(_KINDS)}


def compile_per_doc(
    ast, post: DataFrame, expansion: dict, universe: DataFrame | None = None,
    aggs=(), agg_terms=(),
) -> DataFrame:
    """The boolean-query compiler behind every search entry point: the
    per-doc rows (doc_id, the caller's ``aggs``, atom columns) of the
    documents matching ``ast``.

    ``post`` is a positional posting relation (term, doc_id, tf,
    positions[, dl]) — the persisted bucketed postings or one derived
    inline from the corpus; ``positions`` is read only by positional and
    field-scoped atoms. ``expansion`` is the resolved ``{expansion key:
    [terms]}`` dict, so every atom reduces to concrete terms and the scan
    is ONE equality ``isin`` (bucket-prunable on the persisted index).
    One groupBy(doc_id) then computes, per atom, a flag (max over the
    posting rows meeting its condition) or the position arrays its slot
    condition reads, next to ``aggs`` (e.g. a BM25 sum over
    ``agg_terms``, which join the scan); the AST becomes one filter over
    those columns.

    A pure-negation AST (true for a document holding no atom) also
    matches documents absent from the scan: the per-doc rows LEFT JOIN
    onto ``universe`` (a doc_id relation), with flags and ``aggs`` filled
    with 0."""
    nodes = sorted(
        {_atom_key(n) for n in atoms(ast)},
        key=lambda n: (_RANK[type(n)], astuple(n)),
    )
    kinds = {n: _KINDS[type(n)] for n in nodes}
    slot_terms = sorted({t for n in nodes for t in kinds[n].slots(n)})
    scan = sorted(
        set(slot_terms)
        | set(agg_terms)
        | {n.text for n in nodes if isinstance(n, Term)}
        | {t for n in nodes for t in expansion.get(atom_expansion_key(n), [])}
    )
    own = {n: f"_a{i}" for i, n in enumerate(nodes) if kinds[n].agg is not None}
    slot = {t: f"_s{i}" for i, t in enumerate(slot_terms)}
    per_doc = (
        post.filter(_isin(scan))
        .groupBy("doc_id")
        .agg(
            *aggs,
            *[kinds[n].agg(n, expansion).alias(c) for n, c in own.items()],
            *[
                F.max(F.when(F.col("term") == t, F.col("positions"))).alias(c)
                for t, c in slot.items()
            ],
        )
    )
    if _eval_empty(ast):
        if universe is None:
            raise ValueError("a pure-negation query needs the doc universe")
        per_doc = universe.join(per_doc, "doc_id", "left").na.fill(0)
    arr = {t: F.col(c) for t, c in slot.items()}
    match = {
        n: kinds[n].match(n, F.col(own[n]) if n in own else None, arr)
        for n in nodes
    }

    def as_col(n):
        if isinstance(n, Not):
            return ~as_col(n.child)
        if isinstance(n, And):
            return reduce_and([as_col(c) for c in n.children])
        if isinstance(n, Or):
            return reduce(operator.or_, [as_col(c) for c in n.children])
        return match[_atom_key(n)]

    return per_doc.filter(as_col(ast))


def search(
    docs: DataFrame,
    query: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_expansions: int | None = None,
) -> DataFrame:
    """Boolean retrieval + BM25 ranking: top-k (doc_id, score) for docs
    satisfying the boolean query, ranked by BM25 over its positive terms.
    Pure-negation queries rank by doc_id (score 0.0).

    The corpus is tokenized once, staged behind a lazy localCheckpoint,
    into a positional posting relation; expansion atoms resolve against
    its vocabulary (bounded count + collect jobs at call time, failing
    loudly past ``max_expansions``); compile_per_doc — the compiler
    search_indexed runs over the persisted index — selects the matching
    docs, universe-joined onto the docs' ids for pure negation; a
    bm25_scores join over the same postings ranks them."""
    ast = parse_query(query)
    # the lazy barrier keeps the flag aggregation and the BM25 relations
    # (qpost, dl) from each re-running the tokenize regex over the corpus
    toks = docs.select(
        F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("_toks")
    ).localCheckpoint(eager=False)
    post = (
        toks.select("doc_id", F.posexplode("_toks").alias("pos", "term"))
        .groupBy("term", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.collect_list("pos").alias("positions"),
        )
    )
    keys = collect_expansion_keys(ast)
    expansion = (
        resolve_expansions_over(
            post.select("term").distinct(),
            [(key, expansion_pred(key)) for key in sorted(keys)],
            max_expansions if max_expansions is not None else MAX_EXPANSIONS,
        )
        if keys
        else {}
    )
    matched = compile_per_doc(
        ast, post, expansion, universe=docs.select(F.col(id_col).alias("doc_id"))
    ).select("doc_id")
    pos = sorted(set(positive_terms(ast)))
    if not pos:
        return (
            matched.select("doc_id", F.lit(0.0).alias("score"))
            .orderBy("doc_id")
            .limit(k)
        )
    # rank every matching doc: scores come from the positive terms, docs
    # matching only via OR-branches without those terms score 0; `term^N`
    # boosts scale each term's BM25 contribution
    scored = bm25_scores(
        docs,
        " ".join(pos),
        id_col=id_col,
        text_col=text_col,
        post=post,
        boosts=term_boosts(ast),
    )
    return (
        matched.join(scored, "doc_id", "left")
        .select("doc_id", F.coalesce(F.col("score"), F.lit(0.0)).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(k)
    )


# ---------------- simple query syntax (+must -must_not should) ----------------


def parse_simple_query(q: str) -> tuple[list[str], list[str], list[str]]:
    """Parse the Lucene/Elasticsearch simple_query_string surface:
    `+term` MUST match, `-term` MUST NOT match, bare terms are SHOULD —
    they affect RANKING always, and gate matching only when no `+` term
    exists (Lucene BooleanQuery semantics: with at least one MUST clause,
    SHOULD clauses are optional). Returns (required, optional,
    prohibited) normalized term lists; rejects empty/ambiguous input."""
    req: list[str] = []
    opt: list[str] = []
    proh: list[str] = []
    for raw in q.split():
        bucket, body = (
            (req, raw[1:]) if raw.startswith("+")
            else (proh, raw[1:]) if raw.startswith("-")
            else (opt, raw)
        )
        # interior +/- (e.g. "a+b") tokenizer-split and are rejected by the
        # one-token check below, like any multi-token atom
        norm = _py_tokenize(body)
        if len(norm) != 1:
            raise ValueError(f"simple-query term {raw!r} must normalize to one token")
        bucket.append(norm[0])
    if not req and not opt:
        raise ValueError("simple query needs at least one non-prohibited term")
    overlap = set(req) & set(proh) | set(opt) & set(proh)
    if overlap:
        raise ValueError(f"terms both wanted and prohibited: {sorted(overlap)}")
    return sorted(set(req)), sorted(set(opt)), sorted(set(proh))


def simple_query_ast(req: list[str], opt: list[str], proh: list[str]):
    """The boolean AST gating a simple query's matches: every `+` term
    (or, with none, any bare term) and no `-` term."""
    gate = And(tuple(Term(t) for t in req)) if req else Or(tuple(Term(t) for t in opt))
    return And((gate,) + tuple(Not(Term(p)) for p in proh)) if proh else gate


def simple_search(
    docs: DataFrame,
    query: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k for the simple query syntax: docs matching ALL `+` terms
    (or, with no `+` term, ANY bare term) and NO `-` term, ranked by BM25
    over the `+` and bare terms together — bare terms contribute to the
    score even when a `+` term already gates the match (the Lucene
    MUST/SHOULD split the full boolean grammar can't express, since its
    scoring set is exactly its positive atoms)."""
    req, opt, proh = parse_simple_query(query)
    post = postings(docs, id_col, text_col)
    matched = compile_per_doc(simple_query_ast(req, opt, proh), post, {})
    scored = bm25_scores(
        docs, " ".join(sorted(set(req) | set(opt))), id_col, text_col, post=post
    )
    return (
        matched.select("doc_id")
        .join(scored, "doc_id", "left")
        .select("doc_id", F.coalesce(F.col("score"), F.lit(0.0)).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(k)
    )
