"""Expansion-atom resolution against the term dictionary (r8 split of
functions/index.py for file-size hygiene; no behavior change).

Prefix / fuzzy / range / regexp / wildcard atoms rewrite to concrete
vocabulary-term disjunctions BEFORE the inverted index is consulted —
the Lucene MultiTermQuery discipline — via a bounded two-pass protocol
over the doc-frequency table (or any term-column relation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


#: Lucene BooleanQuery.maxClauseCount analogue: the most vocabulary terms
#: a single expansion atom (prefix/fuzzy/range/regex/wildcard) may resolve
#: to before the query is rejected — fail-loud, never a silent truncation
#: (a truncated expansion would silently drop matching documents).
MAX_EXPANSIONS = 1024


def resolve_expansions(
    spark: SparkSession,
    table_prefix: str,
    keys,
    max_expansions: int = MAX_EXPANSIONS,
) -> dict:
    """Resolve expansion atoms against the persisted TERM DICTIONARY.

    Every real engine rewrites multi-term queries (prefix, fuzzy, range,
    regexp, wildcard) to a disjunction of concrete vocabulary terms BEFORE
    consulting the inverted index (Lucene MultiTermQuery walks the term
    dictionary, then reads only the matched terms' postings). Evaluating
    the expansion predicate (StartsWith / levenshtein / BETWEEN / RLIKE /
    LIKE) on the postings instead would defeat bucket pruning (the scan
    filter is no longer an equality ``isin``) and cost one predicate per
    POSTING row, O(total postings).

    ``keys`` is the key set from ``collect_expansion_keys``; each key's
    ``expansion_pred`` is evaluated over the doc-frequency table — one row
    per distinct term, O(|vocab|) — by ``resolve_expansions_over``'s two
    bounded passes (a count pass that fails loudly when any atom matches
    more than ``max_expansions`` terms, then the collect pass).

    Returns ``{key: sorted list of vocabulary terms}``; an empty dict, and
    zero jobs, when ``keys`` is empty."""
    if not keys:
        return {}
    return resolve_expansions_over(
        spark.table(f"{table_prefix}_df").select("term"),
        [(key, expansion_pred(key)) for key in sorted(keys)],
        max_expansions,
    )


def expansion_key(node):
    """(kind, arg) resolution key for a plain expansion atom AST node, or
    None for any other node kind — the shared key vocabulary between the
    resolver, the indexed search compiler, the inline search compiler,
    and the percolator (r9 unification: ONE discipline). Field-scoped
    atoms share their plain atom's key: the field carve applies to stored
    POSITIONS at flag time, never to term-level matching."""
    from sparkfulltextquery_spark.functions import querylang as QL

    if isinstance(node, QL.Prefix):
        return ("prefix", node.text)
    if isinstance(node, QL.Fuzzy):
        return ("fuzzy", (node.text, node.dist))
    if isinstance(node, QL.TermRange):
        return ("range", (node.lo, node.hi))
    if isinstance(node, QL.Regex):
        return ("regex", node.pattern)
    if isinstance(node, QL.Wildcard):
        return ("wild", node.pattern)
    return None


def expansion_pred(key):
    """Vocabulary predicate for an expansion-atom key — only ever applied
    to a term-dictionary relation (O(|vocab|) rows), never to postings."""
    from sparkfulltextquery_spark.functions import querylang as QL

    kind, arg = key
    if kind == "prefix":
        return F.col("term").startswith(arg)
    if kind == "fuzzy":
        zt, zd = arg
        return F.levenshtein(F.col("term"), F.lit(zt)) <= zd
    if kind == "range":
        lo, hi = arg
        return F.col("term").between(lo, hi)
    if kind == "regex":
        return F.col("term").rlike(QL.Regex(arg).anchored())
    return F.col("term").like(QL.Wildcard(arg).like_pattern())


def atom_expansion_key(node):
    """expansion_key extended to every atom that reads resolved terms:
    field-scoped atoms fold onto their plain atom's key, and a
    phrase-prefix's final-word prefix is a prefix key. None otherwise."""
    from sparkfulltextquery_spark.functions import querylang as QL

    key = expansion_key(node)
    if key is not None:
        return key
    if isinstance(node, QL.FieldPrefix):
        return ("prefix", node.text)
    if isinstance(node, QL.FieldFuzzy):
        return ("fuzzy", (node.text, node.dist))
    if isinstance(node, QL.FieldRange):
        return ("range", (node.lo, node.hi))
    if isinstance(node, QL.FieldWildcard):
        return ("wild", node.pattern)
    if isinstance(node, QL.PhrasePrefix):
        return ("prefix", node.prefix)
    return None


def collect_expansion_keys(ast) -> set:
    """Every expansion-resolution key an AST needs (atom_expansion_key over
    all of its atoms)."""
    from sparkfulltextquery_spark.functions import querylang as QL

    return {atom_expansion_key(n) for n in QL.atoms(ast)} - {None}


def resolve_expansions_over(
    vocab: DataFrame, atoms: list, max_expansions: int = MAX_EXPANSIONS
) -> dict:
    """The resolver core over ANY (term)-column vocabulary relation —
    the persisted df table on the indexed path, or a corpus-derived
    ``postings.select('term').distinct()`` on the inline path (the inline
    caller pays one corpus-derived pass it was already paying as a
    predicate scan; the win is the same bounded concrete-term list).
    ``atoms`` is [(key, predicate Column)]. Two bounded passes: a count
    pass that raises when any atom matches more than ``max_expansions``
    terms, then a collect pass of the matched terms."""
    counts = vocab.agg(
        *[
            F.sum(F.when(pred, 1).otherwise(0)).alias(f"_c{i}")
            for i, (_k, pred) in enumerate(atoms)
        ]
    ).head()
    for i, (key, _pred) in enumerate(atoms):
        n = counts[f"_c{i}"] or 0
        if n > max_expansions:
            raise ValueError(
                f"expansion atom {key!r} matches {n} vocabulary terms, "
                f"over max_expansions={max_expansions} — narrow the "
                f"pattern or raise the cap explicitly"
            )
    any_pred = atoms[0][1]
    for _k, pred in atoms[1:]:
        any_pred = any_pred | pred
    rows = (
        vocab.filter(any_pred)
        .select(
            "term",
            *[pred.alias(f"_m{i}") for i, (_k, pred) in enumerate(atoms)],
        )
        .collect()
    )
    out: dict = {key: [] for key, _pred in atoms}
    for r in rows:
        for i, (key, _pred) in enumerate(atoms):
            if r[f"_m{i}"]:
                out[key].append(r["term"])
    return {key: sorted(ts) for key, ts in out.items()}
