"""Boolean query-language unit tests: parser shape, error handling, and
retrieval semantics vs straightforward set algebra over collected token sets."""

from __future__ import annotations

import re

import pytest

from sparkfulltextquery_spark.functions.querylang import (
    And,
    Not,
    Or,
    Phrase,
    Term,
    parse_query,
    search,
)
from sparkfulltextquery_spark.sources import load_table
from tests.conftest import SF_DIR


def test_parser_precedence_and_shapes():
    assert parse_query("spark") == Term("spark")
    assert parse_query('"batch batch"') == Phrase("batch batch")
    assert parse_query("spark AND join") == And((Term("spark"), Term("join")))
    assert parse_query("spark join") == And((Term("spark"), Term("join")))  # implicit AND
    # AND binds tighter than OR
    assert parse_query("a AND b OR c") == Or((And((Term("a"), Term("b"))), Term("c")))
    assert parse_query("a OR b AND c") == Or((Term("a"), And((Term("b"), Term("c")))))
    assert parse_query("NOT vector") == Not(Term("vector"))
    assert parse_query("(a OR b) AND c") == And((Or((Term("a"), Term("b"))), Term("c")))
    assert parse_query("Spark AND JOIN") == And((Term("spark"), Term("join")))  # normalized


@pytest.mark.parametrize(
    "bad",
    [
        "", "AND spark", "spark AND", "(spark", "spark)", '""', "spark OR",
        # ADVICE r05: atoms that previously mis-parsed by silently dropping
        # pieces must reject instead — double boosts and multi-token atoms
        # (interior wildcards became the Wildcard atom in r7)
        "a^2^3", "can't", "a^2*",
        # r7 wildcard degenerates: no literal character at all
        "*", "?", "?*", "**",
        # ADVICE r06: brackets must fail loud, never tokenize-strip silently
        # (title:[a TO b] became the FieldRange atom in r7)
        "a]b", "spark]", "[spark", "title:[a", "body:a]",
    ],
)
def test_parser_rejects_malformed(bad):
    with pytest.raises(ValueError):
        parse_query(bad)


def _token_sets(spark):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    toks = {
        r.doc_id: [t for t in re.split("[^a-z0-9]+", r.text.lower()) if t] for r in docs
    }
    return toks


def _compiled_doc_ids(ast, post, universe):
    """Doc ids compile_per_doc matches, expansion atoms resolved against
    the posting relation's own vocabulary (as inline search does)."""
    from sparkfulltextquery_spark.functions.index_expand import (
        collect_expansion_keys,
        expansion_pred,
        resolve_expansions_over,
    )
    from sparkfulltextquery_spark.functions.querylang import compile_per_doc

    keys = sorted(collect_expansion_keys(ast))
    expansion = (
        resolve_expansions_over(
            post.select("term").distinct(), [(k, expansion_pred(k)) for k in keys]
        )
        if keys
        else {}
    )
    return {
        r.doc_id
        for r in compile_per_doc(ast, post, expansion, universe)
        .select("doc_id")
        .collect()
    }


def test_search_semantics_match_set_algebra(spark):
    toks = _token_sets(spark)
    has = lambda t: {d for d, ts in toks.items() if t in ts}
    phrase = {
        d
        for d, ts in toks.items()
        if any(ts[i] == "batch" and ts[i + 1] == "batch" for i in range(len(ts) - 1))
    }
    expected = (has("spark") & has("join")) | (phrase - has("vector"))

    got = {
        r.doc_id
        for r in search(
            load_table(spark, SF_DIR, "documents"),
            '(spark AND join) OR ("batch batch" AND NOT vector)',
            k=1_000_000,
        ).collect()
    }
    assert got == expected


def test_pure_negation_query(spark):
    toks = _token_sets(spark)
    expected = {d for d, ts in toks.items() if "spark" not in ts}
    got = {
        r.doc_id
        for r in search(
            load_table(spark, SF_DIR, "documents"), "NOT spark", k=1_000_000
        ).collect()
    }
    assert got == expected


def test_flag_compilation_equals_join_compilation(spark):
    """compile_per_doc (the one-pass compiler behind every search entry
    point) must produce the same doc set as the join-based reference
    compile_matches for every AST shape, pure negation included (there
    the per-doc rows join onto the universe)."""
    from sparkfulltextquery_spark.functions.fulltext import (
        phrase_match,
        positional_postings,
        proximity_match,
    )
    from sparkfulltextquery_spark.functions.querylang import (
        compile_matches,
        parse_query,
    )

    docs = load_table(spark, SF_DIR, "documents")
    post = positional_postings(docs)
    phrase_fn = lambda text, slop=0: phrase_match(docs, text).select("doc_id")  # noqa: E731
    near_fn = lambda a, b, k: proximity_match(docs, a, b, k).select("doc_id")  # noqa: E731
    universe = docs.select("doc_id")

    for q in [
        "spark",
        "spark AND join",
        "spark OR join",
        "spark AND NOT join",
        '(spark AND join) OR ("batch batch" AND NOT vector)',
        "(spark OR join) AND (vector OR NOT batch)",
        '"batch batch"',
        'NOT vector AND "batch batch"',
        # r5 atoms: wildcard prefixes and boosts (boost affects ranking,
        # never matching — the match sets must be boost-invariant)
        "spar*",
        "spar* AND join",
        "(spar* OR merg*) AND NOT vector",
        "spark^3 OR join",
        'win* AND "batch batch"',
        "spark NEAR/5 join",
        "(spark NEAR/3 join) OR batch",
        'spark NEAR/4 join AND NOT vector',
        # pure negation: satisfiable by a doc holding no atom at all
        "NOT spark",
        "NOT (spark AND join)",
        "NOT spark OR join",
    ]:
        ast = parse_query(q)
        want = {
            r.doc_id
            for r in compile_matches(
                ast, post, phrase_fn, universe, near_fn=near_fn
            ).collect()
        }
        assert _compiled_doc_ids(ast, post, universe) == want, q


def test_parser_prefix_and_boost_shapes():
    from sparkfulltextquery_spark.functions.querylang import Prefix, term_boosts

    assert parse_query("spar*") == Prefix("spar")
    assert parse_query("spark^2") == Term("spark", 2.0)
    assert parse_query("spark^2.5 AND join") == And(
        (Term("spark", 2.5), Term("join"))
    )
    # boost parses before normalization; prefixes normalize their stem
    assert parse_query("SPAR*") == Prefix("spar")
    assert term_boosts(parse_query("spark^3 OR join")) == {
        "spark": 3.0,
        "join": 1.0,
    }
    # boost under NOT is not a scoring term
    assert term_boosts(parse_query("a AND NOT b^9")) == {"a": 1.0}
    with pytest.raises(ValueError):
        parse_query("spar*^2")  # boost on an unscored wildcard
    with pytest.raises(ValueError):
        parse_query("*")  # bare wildcard


def test_boost_scales_ranking(spark):
    """'spark^3 OR join' must rank docs exactly as 3x spark-score +
    1x join-score — verified against manually composed BM25 parts."""
    from pyspark.sql import functions as F

    from sparkfulltextquery_spark.functions.fulltext import bm25_scores

    docs = load_table(spark, SF_DIR, "documents")
    boosted = {r.doc_id: r.score for r in search(docs, "spark^3 OR join", k=10).collect()}
    s_spark = bm25_scores(docs, "spark").withColumnRenamed("score", "s1")
    s_join = bm25_scores(docs, "join").withColumnRenamed("score", "s2")
    manual = (
        s_spark.join(s_join, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.round(
                F.coalesce(F.col("s1"), F.lit(0.0)) * 3
                + F.coalesce(F.col("s2"), F.lit(0.0)),
                4,
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(10)
    )
    want = {r.doc_id: r.score for r in manual.collect()}
    assert set(boosted) == set(want)
    for d in boosted:
        assert abs(boosted[d] - want[d]) < 1e-3, (d, boosted[d], want[d])


def test_parser_near_shapes():
    from sparkfulltextquery_spark.functions.querylang import Near

    assert parse_query("spark NEAR/5 join") == Near("spark", "join", 5)
    # NEAR binds tighter than AND
    assert parse_query("a NEAR/3 b AND c") == And((Near("a", "b", 3), Term("c")))
    # the bare operator in term position must be rejected
    with pytest.raises(ValueError):
        parse_query("near/3")


def test_parser_near_rejects_bad_operands():
    for bad in ['"batch batch" NEAR/3 join', "spar* NEAR/2 join",
                "spark^2 NEAR/2 join", "spark NEAR/2"]:
        with pytest.raises(ValueError):
            parse_query(bad)


def test_parser_field_and_fuzzy_shapes():
    """r6 atoms: `field:term` scopes a term to the positionally-carved
    title/body field; `term~N` is an edit-distance atom. Malformed forms
    reject instead of silently dropping pieces (ADVICE r05 discipline)."""
    from sparkfulltextquery_spark.functions.querylang import Field, Fuzzy

    assert parse_query("title:spark") == Field("title", "spark")
    assert parse_query("BODY:Join") == Field("body", "join")
    assert parse_query("sparc~1") == Fuzzy("sparc", 1)
    assert parse_query("title:spark AND sparc~2") == And(
        (Field("title", "spark"), Fuzzy("sparc", 2))
    )
    for bad in [
        "author:spark",      # unknown field
        "title:spark^2",     # boost on a field atom
        # (interior wildcards in field atoms became FieldWildcard in r7)
        "title:a:b",         # nested colon
        "sparc~0",           # distance out of range
        "sparc~4",           # distance out of range
        "sparc~2^3",         # boost on a fuzzy atom
        "spa*rc~1",          # wildcard inside a fuzzy atom
        "title:",            # empty field body
        "~2",                # empty fuzzy body
    ]:
        with pytest.raises(ValueError):
            parse_query(bad)


def test_field_fuzzy_flag_equals_join_compilation(spark):
    """compile_per_doc and the join-based reference must agree on the
    match set for every field/fuzzy AST shape (the same invariant as
    test_flag_compilation_equals_join_compilation)."""
    from sparkfulltextquery_spark.functions.fulltext import (
        BM25F_TITLE_LEN,
        phrase_match,
        positional_postings,
        positional_relation,
        proximity_match,
    )
    from sparkfulltextquery_spark.functions.querylang import compile_matches
    from pyspark.sql import functions as F

    docs = load_table(spark, SF_DIR, "documents")
    pos_rel = positional_relation(docs)
    post = positional_postings(docs)
    phrase_fn = lambda text, slop=0: phrase_match(docs, text, pos=pos_rel).select("doc_id")  # noqa: E731
    near_fn = lambda a, b, k: proximity_match(docs, a, b, k, pos=pos_rel).select("doc_id")  # noqa: E731

    def field_fn(field, term):
        in_field = (
            F.col("pos") < BM25F_TITLE_LEN
            if field == "title"
            else F.col("pos") >= BM25F_TITLE_LEN
        )
        return (
            pos_rel.filter((F.col("term") == term) & in_field)
            .select("doc_id")
            .distinct()
        )

    universe = docs.select("doc_id")
    for q in [
        "title:spark",
        "title:spark AND join",
        "body:vector AND NOT title:spark",
        "sparc~1",
        "sparc~1 OR batch",
        "batc~1 AND NOT vector",
        'title:spark AND "batch batch"',
        "(title:spark OR sparc~1) AND join",
        "NOT title:spark",
        "NOT sparc~1 OR join",
    ]:
        ast = parse_query(q)
        want = {
            r.doc_id
            for r in compile_matches(
                ast, post, phrase_fn, universe, near_fn=near_fn, field_fn=field_fn
            ).collect()
        }
        assert _compiled_doc_ids(ast, post, universe) == want, q


def test_field_matches_title_positions(spark):
    """title:term must equal the naive 'term within the first
    BM25F_TITLE_LEN tokens' definition (bm25f_search's field carving)."""
    import re

    from sparkfulltextquery_spark.functions.fulltext import BM25F_TITLE_LEN

    docs = load_table(spark, SF_DIR, "documents")
    rows = docs.select("doc_id", "text").collect()

    def toks(s):
        return [t for t in re.split("[^a-z0-9]+", s.lower()) if t]

    want = {r.doc_id for r in rows if "spark" in toks(r.text)[:BM25F_TITLE_LEN]}
    got = {r.doc_id for r in search(docs, "title:spark", k=10**6).collect()}
    assert got == want
    # body: the complement positions — a doc can match both fields
    want_b = {r.doc_id for r in rows if "spark" in toks(r.text)[BM25F_TITLE_LEN:]}
    got_b = {r.doc_id for r in search(docs, "body:spark", k=10**6).collect()}
    assert got_b == want_b


def test_parser_slop_phrase_shapes():
    """r6: `"a b"~k` parses as an ordered sloppy phrase; degenerate and
    malformed forms reject."""
    assert parse_query('"spark join"~2') == Phrase("spark join", 2)
    assert parse_query('"a b c"~10') == Phrase("a b c", 10)
    assert parse_query('"spark join"') == Phrase("spark join", 0)
    # slop binds to the phrase, composes with boolean operators
    assert parse_query('"a b"~1 AND c') == And((Phrase("a b", 1), Term("c")))
    for bad in ['"spark"~2', '~2', '"a b"~']:
        with pytest.raises(ValueError):
            parse_query(bad)


def test_slop_phrase_matches_naive_semantics(spark):
    """Sloppy-phrase matching must equal the brute-force exists-assignment
    definition (all increasing position assignments, not just the greedy
    one — proving the greedy chain implements exists-semantics)."""
    from itertools import product

    toks = _token_sets(spark)

    def naive(ts, words, slop):
        span = len(words) - 1 + slop
        positions = [[i for i, t in enumerate(ts) if t == w] for w in words]
        if any(not p for p in positions):
            return False
        for combo in product(*positions):
            if all(b > a for a, b in zip(combo, combo[1:])) and (
                combo[-1] - combo[0] <= span
            ):
                return True
        return False

    docs = load_table(spark, SF_DIR, "documents")
    for q, words, slop in [
        ('"spark join"~2', ["spark", "join"], 2),
        ('"spark batch join"~3', ["spark", "batch", "join"], 3),
        ('"join spark"~1', ["join", "spark"], 1),
    ]:
        expected = {d for d, ts in toks.items() if naive(ts, words, slop)}
        got = {r.doc_id for r in search(docs, q, k=10**6).collect()}
        assert got == expected, (q, len(got), len(expected))


def test_slop_zero_equals_exact_phrase(spark):
    """`"a b"~0` must equal the exact-phrase atom — the slop path and the
    array_contains path implement the same slop=0 semantics."""
    docs = load_table(spark, SF_DIR, "documents")
    exact = {r.doc_id for r in search(docs, '"batch batch"', k=10**6).collect()}
    from sparkfulltextquery_spark.functions.fulltext import sloppy_phrase_match

    slop0 = {r.doc_id for r in sloppy_phrase_match(docs, "batch batch", 0).collect()}
    assert slop0 == exact


def test_parser_range_and_fieldphrase_shapes():
    """r6: `[a TO b]` lexicographic vocabulary ranges and `title:"a b"`
    field-scoped phrases; malformed forms reject."""
    from sparkfulltextquery_spark.functions.querylang import FieldPhrase, TermRange

    assert parse_query("[alpha TO beta]") == TermRange("alpha", "beta")
    assert parse_query("[A TO Z2]") == TermRange("a", "z2")
    assert parse_query('title:"spark join"') == FieldPhrase("title", "spark join")
    assert parse_query('body:"a b" AND c') == And(
        (FieldPhrase("body", "a b"), Term("c"))
    )
    assert parse_query("[a TO b] OR x") == Or((TermRange("a", "b"), Term("x")))
    for bad in [
        "[a TO",            # unterminated
        "[a b]",            # missing TO
        "[b TO a]",         # empty range
        "[a TO b TO c]",    # too many parts
        'author:"a b"',     # unknown field
        "title:",           # dangling field prefix
        'title:"a b"~2',    # slop inside a field scope
        'title:""',         # empty field phrase
    ]:
        with pytest.raises(ValueError):
            parse_query(bad)


def test_range_and_fieldphrase_match_naive(spark):
    """Range and field-phrase matching vs brute-force definitions."""
    from sparkfulltextquery_spark.functions.fulltext import BM25F_TITLE_LEN

    toks = _token_sets(spark)
    docs = load_table(spark, SF_DIR, "documents")

    exp = {d for d, ts in toks.items() if any("spark" <= t <= "sparl" for t in ts)}
    got = {r.doc_id for r in search(docs, "[spark TO sparl]", k=10**6).collect()}
    assert got == exp

    L = BM25F_TITLE_LEN
    exp_t = {
        d
        for d, ts in toks.items()
        if any(
            ts[i] == "spark" and ts[i + 1] == "join"
            for i in range(max(0, min(len(ts) - 1, L - 1)))
        )
    }
    got_t = {
        r.doc_id for r in search(docs, 'title:"spark join"', k=10**6).collect()
    }
    assert got_t == exp_t
    exp_b = {
        d
        for d, ts in toks.items()
        if any(ts[i] == "spark" and ts[i + 1] == "join" for i in range(L, len(ts) - 1))
    }
    got_b = {
        r.doc_id for r in search(docs, 'body:"spark join"', k=10**6).collect()
    }
    assert got_b == exp_b


def test_parser_regex_shapes():
    """r6: `/pattern/` regexp atoms (Lucene RegexpQuery) — implicitly
    anchored, restricted to the Java-regex/RE2-portable subset; malformed
    or non-portable patterns reject."""
    from sparkfulltextquery_spark.functions.querylang import Regex

    assert parse_query("/sp.rk/") == Regex("sp.rk")
    assert parse_query("/SP(AR|UR)K/") == Regex("sp(ar|ur)k")
    assert parse_query("/qu.+y/ OR batch") == Or((Regex("qu.+y"), Term("batch")))
    assert parse_query("NOT /a[bc]d/") == Not(Regex("a[bc]d"))
    assert Regex("sp.rk").anchored() == "^(?:sp.rk)$"
    # ADVICE r06: quantifier chars INSIDE a character class are literals —
    # the stacked-quantifier gate must not reject them
    assert parse_query("/a[+?]/") == Regex("a[+?]")
    assert parse_query("/a[*+]b*/") == Regex("a[*+]b*")
    for bad in [
        "//",          # empty pattern
        "/a\\d/",      # escapes are not portable
        "/a{2}/",      # bounded repetition outside the subset
        "/^a/",        # anchors are implicit (Lucene semantics)
        "/a$/",        # anchors are implicit
        "/(ab/",       # invalid regex (unbalanced group)
        "a/b",         # stray slash in a term atom
        "/foo",        # unterminated pattern
        "/ab*+/",      # possessive quantifier (Java-only, RE2 rejects)
        "/ab*?/",      # lazy quantifier (outside the portable contract)
        "/a++b/",      # possessive quantifier
    ]:
        with pytest.raises(ValueError):
            parse_query(bad)


def test_regex_matches_naive_fullmatch(spark):
    """`/pattern/` must equal brute-force `re.fullmatch` over each doc's
    vocabulary (anchored semantics — `/ar/` must NOT match 'spark')."""
    import re as _re

    toks = _token_sets(spark)
    docs = load_table(spark, SF_DIR, "documents")

    for pat in ["sp.rk", "qu.r(y|ies)", "jo.+"]:
        rx = _re.compile(pat)
        exp = {d for d, ts in toks.items() if any(rx.fullmatch(t) for t in set(ts))}
        got = {r.doc_id for r in search(docs, f"/{pat}/", k=10**6).collect()}
        assert got == exp, pat
    # substring pattern must not match longer terms (anchoring)
    exp = {d for d, ts in toks.items() if "ar" in ts}
    got = {r.doc_id for r in search(docs, "/ar/", k=10**6).collect()}
    assert got == exp


def test_regex_flag_equals_join_compilation(spark):
    """compile_per_doc vs the join-based reference on regex-bearing ASTs."""
    from sparkfulltextquery_spark.functions.fulltext import phrase_match, postings
    from sparkfulltextquery_spark.functions.querylang import compile_matches

    docs = load_table(spark, SF_DIR, "documents")
    post = postings(docs)
    phrase_fn = lambda text, slop=0: phrase_match(docs, text).select("doc_id")  # noqa: E731
    universe = docs.select("doc_id")
    for q in [
        "/sp.rk/",
        "/sp.rk/ OR batch",
        "/qu.r(y|ies)/ AND NOT spark",
        "(/jo.+/ OR vector) AND batch",
        "NOT /sp.rk/",
    ]:
        ast = parse_query(q)
        want = {
            r.doc_id
            for r in compile_matches(ast, post, phrase_fn, universe).collect()
        }
        assert _compiled_doc_ids(ast, post, universe) == want, q


def test_parser_phrase_boost_shapes():
    """r6: `"a b"^N` phrase boosts, alone or combined with slop as
    `"a b"~k^N`; malformed suffixes reject."""
    from sparkfulltextquery_spark.functions.querylang import Phrase

    assert parse_query('"spark join"^2') == Phrase("spark join", 0, 2.0)
    assert parse_query('"spark join"~2^3') == Phrase("spark join", 2, 3.0)
    assert parse_query('"spark join"~2') == Phrase("spark join", 2, 1.0)
    got = parse_query('"spark join"^2 OR batch')
    assert isinstance(got, Or) and got.children[0].boost == 2.0
    for bad in ['"a b"^', '"a b"^x', '"a b"^2^3', '"a"~1^2']:
        with pytest.raises(ValueError):
            parse_query(bad)


def test_phrase_boost_scales_ranking(spark):
    """A boosted phrase must not change the MATCH set and must scale the
    phrase words' score contributions exactly 2x relative to the unboosted
    query (scores are per-term-linear in the boost)."""
    docs = load_table(spark, SF_DIR, "documents")
    plain = {r.doc_id: r.score for r in search(docs, '"spark join"', k=10**6).collect()}
    boosted = {
        r.doc_id: r.score
        for r in search(docs, '"spark join"^2', k=10**6).collect()
    }
    assert set(plain) == set(boosted)
    for d, s in plain.items():
        assert abs(boosted[d] - 2 * s) < 2e-3, (d, s, boosted[d])


def test_parser_fieldprefix_shapes():
    """r6: `title:spar*` field-scoped wildcard prefixes (Prefix ∘ Field);
    malformed forms reject."""
    from sparkfulltextquery_spark.functions.querylang import FieldPrefix

    assert parse_query("title:spar*") == FieldPrefix("title", "spar")
    assert parse_query("BODY:Quer*") == FieldPrefix("body", "quer")
    assert parse_query("title:spar* AND batch") == And(
        (FieldPrefix("title", "spar"), Term("batch"))
    )
    for bad in [
        # (interior wildcards became FieldWildcard in r7)
        "title:*",         # empty prefix
        "author:spar*",    # unknown field
        "title:spar*~1",   # fuzzy on a field prefix
    ]:
        with pytest.raises(ValueError):
            parse_query(bad)


def test_fieldprefix_matches_naive(spark):
    """title:spar* vs the brute-force 'any first-10-tokens term with the
    prefix' definition, and the body complement."""
    import re as _re

    from sparkfulltextquery_spark.functions.fulltext import BM25F_TITLE_LEN

    docs = load_table(spark, SF_DIR, "documents")
    rows = docs.select("doc_id", "text").collect()
    L = BM25F_TITLE_LEN

    def toks(s):
        return [t for t in _re.split("[^a-z0-9]+", s.lower()) if t]

    exp_t = {
        r.doc_id
        for r in rows
        if any(t.startswith("spar") for t in toks(r.text)[:L])
    }
    got_t = {r.doc_id for r in search(docs, "title:spar*", k=10**6).collect()}
    assert got_t == exp_t
    exp_b = {
        r.doc_id
        for r in rows
        if any(t.startswith("spar") for t in toks(r.text)[L:])
    }
    got_b = {r.doc_id for r in search(docs, "body:spar*", k=10**6).collect()}
    assert got_b == exp_b


def test_parser_fieldfuzzy_shapes():
    """r6: `title:sparc~1` field-scoped fuzzy atoms (Fuzzy ∘ Field);
    malformed forms reject."""
    from sparkfulltextquery_spark.functions.querylang import FieldFuzzy

    assert parse_query("title:sparc~1") == FieldFuzzy("title", "sparc", 1)
    assert parse_query("BODY:Sparc~2") == FieldFuzzy("body", "sparc", 2)
    assert parse_query("title:sparc~1 OR batch") == Or(
        (FieldFuzzy("title", "sparc", 1), Term("batch"))
    )
    for bad in [
        "title:sparc~0",   # distance out of range
        "title:sparc~4",   # distance out of range
        "title:spa*c~1",   # wildcard inside a field fuzzy
        "title:~1",        # empty body
        "author:sparc~1",  # unknown field
    ]:
        with pytest.raises(ValueError):
            parse_query(bad)


def test_parser_wildcard_shapes():
    """r7: general wildcard atoms (Lucene WildcardQuery) — `?` single-char,
    leading/infix `*`; a single trailing `*` stays the Prefix atom."""
    from sparkfulltextquery_spark.functions.querylang import Prefix, Wildcard

    assert parse_query("sp?rk") == Wildcard("sp?rk")
    assert parse_query("*ark") == Wildcard("*ark")
    assert parse_query("s*rk") == Wildcard("s*rk")
    assert parse_query("SP?RK") == Wildcard("sp?rk")  # normalized
    assert parse_query("s**rk") == Wildcard("s*rk")  # ** collapses to *
    assert parse_query("sp?r*") == Wildcard("sp?r*")
    assert parse_query("spar*") == Prefix("spar")  # trailing-only stays Prefix
    assert parse_query("s?rk OR batch") == Or((Wildcard("s?rk"), Term("batch")))
    assert Wildcard("s*r?k").like_pattern() == "s%r_k"
    # whitespace splits atoms — "s*r k*" is TWO atoms under implicit AND
    assert parse_query("s*r k*") == And((Wildcard("s*r"), Prefix("k")))
    with pytest.raises(ValueError):
        parse_query("sp?rk^2")  # boost on an unscored wildcard


def test_wildcard_matches_naive_like(spark):
    """Wildcard retrieval equals naive per-doc fnmatch over token lists,
    through BOTH compilers (flag path via search; join path via
    compile_matches is covered by the AST fuzzer)."""
    toks = _token_sets(spark)
    pat = re.compile("sp.rk")  # sp?rk
    suf = re.compile(".*indow")  # *indow
    inf = re.compile("qu.*ry")  # qu*ry
    expected = {
        d
        for d, ts in toks.items()
        if (any(pat.fullmatch(t) for t in ts) and "join" in ts)
        or any(suf.fullmatch(t) for t in ts)
        or any(inf.fullmatch(t) for t in ts)
    }
    docs = load_table(spark, SF_DIR, "documents")
    got = {
        r.doc_id
        for r in search(
            docs, "(sp?rk AND join) OR *indow OR qu*ry", k=10**6
        ).collect()
    }
    assert got == expected


def test_parser_fieldrange_and_fieldwildcard_shapes():
    """r7: field-scoped range `title:[a TO b]` (the ADVICE r06 misparse,
    now a real atom) and field-scoped general wildcard `title:sp?rk`."""
    from sparkfulltextquery_spark.functions.querylang import (
        FieldPrefix,
        FieldRange,
        FieldWildcard,
    )

    assert parse_query("title:[alpha TO beta]") == FieldRange("title", "alpha", "beta")
    assert parse_query("BODY:[Q TO Quick]") == FieldRange("body", "q", "quick")
    assert parse_query("title:sp?rk") == FieldWildcard("title", "sp?rk")
    assert parse_query("body:*ark") == FieldWildcard("body", "*ark")
    assert parse_query("title:s*rk") == FieldWildcard("title", "s*rk")
    assert parse_query("title:spar*") == FieldPrefix("title", "spar")  # stays prefix
    for bad in [
        "title:[beta TO alpha]",   # empty range
        "title:[a TO",             # unterminated
        "title:[a b TO c]",        # multi-token bound
        "name:[a TO b]",           # unknown field
        "title:?",                 # no literal character
        "title:*",                 # no literal character
    ]:
        with pytest.raises(ValueError):
            parse_query(bad)


def test_parser_phrase_prefix_shapes():
    """r7: '"spark jo*"' phrase-prefix atoms (Elasticsearch
    match_phrase_prefix); non-final wildcards inside phrases fail loud."""
    from sparkfulltextquery_spark.functions.querylang import PhrasePrefix

    assert parse_query('"spark jo*"') == PhrasePrefix("spark", "jo")
    assert parse_query('"batch batch bat*"') == PhrasePrefix("batch batch", "bat")
    assert parse_query('"SPARK Jo*" AND vector') == And(
        (PhrasePrefix("spark", "jo"), Term("vector"))
    )
    for bad in [
        '"jo*"',          # no lead word — use a plain prefix atom
        '"sp*rk jo"',     # non-final wildcard inside a phrase
        '"a b?c"',        # ? inside a phrase
        '"a b*"~2',       # slop on a phrase-prefix
        '"a b*"^2',       # boost on a phrase-prefix
    ]:
        with pytest.raises(ValueError):
            parse_query(bad)


def test_phrase_prefix_matches_naive(spark):
    """Phrase-prefix retrieval equals naive adjacency+startswith over the
    token lists, including the 2-lead-word form."""
    toks = _token_sets(spark)

    def naive(leads, prefix):
        n = len(leads)
        return {
            d
            for d, ts in toks.items()
            if any(
                ts[i : i + n] == leads
                and i + n < len(ts)
                and ts[i + n].startswith(prefix)
                for i in range(len(ts) - n)
            )
        }

    docs = load_table(spark, SF_DIR, "documents")
    for q, leads, prefix in [
        ('"batch bat*"', ["batch"], "bat"),
        ('"batch batch bat*"', ["batch", "batch"], "bat"),
    ]:
        got = {r.doc_id for r in search(docs, q, k=10**6).collect()}
        assert got == naive(leads, prefix), q


def test_simple_query_semantics(spark):
    """r7 simple_query_string: MUST gates, MUST_NOT excludes, SHOULD only
    ranks when a MUST exists but gates when none does — verified against
    set algebra; ranking verified to include SHOULD contributions."""
    from sparkfulltextquery_spark.functions.querylang import simple_search

    toks = _token_sets(spark)
    has = lambda t: {d for d, ts in toks.items() if t in ts}
    docs = load_table(spark, SF_DIR, "documents")

    # MUST present: SHOULD terms do not gate
    got = {
        r.doc_id
        for r in simple_search(
            docs, "+spark +join -vector batch window", k=10**6
        ).collect()
    }
    assert got == (has("spark") & has("join")) - has("vector")

    # no MUST: SHOULD terms gate (ANY-of), prohibited still excludes
    got2 = {
        r.doc_id
        for r in simple_search(docs, "batch window -vector", k=10**6).collect()
    }
    assert got2 == (has("batch") | has("window")) - has("vector")

    # SHOULD terms contribute to ranking: a doc with batch+window must
    # outscore an otherwise-identical spark+join doc without them when
    # both match the MUST set — verify scores equal bm25 over all 4 terms
    from sparkfulltextquery_spark.functions.fulltext import bm25_scores

    want = {
        r.doc_id: r.score
        for r in bm25_scores(docs, "spark join batch window").collect()
    }
    for r in simple_search(docs, "+spark +join -vector batch window", k=10).collect():
        assert abs(r.score - want[r.doc_id]) < 1e-9, (r.doc_id, r.score)


def test_simple_query_parser_rejects():
    from sparkfulltextquery_spark.functions.querylang import parse_simple_query

    for bad in ["-vector", "", "+a -a", "b -b", "+a+b c"]:
        with pytest.raises(ValueError):
            parse_simple_query(bad)


def test_percolate_bool_rejects_bad_registrations(spark):
    """Boolean percolator registration contract (r8): pure-negation stored
    queries (satisfiable by the empty document — invisible to a one-scan
    percolator) and unsupported atom kinds fail loudly at compile time."""
    import pytest

    from sparkfulltextquery_spark.functions.fulltext_queries import _percolate_bool

    rel = spark.createDataFrame(
        [(1, "spark", [0])], "doc_id long, term string, positions array<int>"
    )
    with pytest.raises(ValueError, match="positive atom"):
        _percolate_bool(rel, [(1, "NOT spark")])
    with pytest.raises(ValueError, match="percolator supports"):
        _percolate_bool(rel, [(1, "spar*")])


def test_percolator_table_registration_validates_at_write(spark):
    """Persisted percolator registry (r8): registration validates the
    contract at WRITE time — a pure-negation or unsupported-atom stored
    query is rejected before anything is persisted; a valid registry
    round-trips through the table and percolates identically to the
    in-memory list."""
    import pytest

    from sparkfulltextquery_spark.functions.fulltext_queries import (
        _percolate_bool,
        percolate_from_table,
        register_percolator_queries,
    )

    rel = spark.createDataFrame(
        [(1, "spark", [0]), (1, "join", [1]), (2, "vector", [0])],
        "doc_id long, term string, positions array<int>",
    )
    with pytest.raises(ValueError, match="positive atom"):
        register_percolator_queries(spark, [(1, "NOT spark")], table="t_perc_bad")
    assert not spark.catalog.tableExists("t_perc_bad")

    queries = [(1, "spark AND join"), (2, "vector OR spark")]
    t = register_percolator_queries(spark, queries, table="t_perc_ok")
    direct = [tuple(r) for r in _percolate_bool(rel, queries).collect()]
    via_table = [tuple(r) for r in percolate_from_table(spark, rel, t).collect()]
    assert via_table == direct and len(direct) == 2


def test_percolator_registry_incremental_add_remove(spark):
    """Registry mutation API (r9, the ES register-one-more / delete-one
    percolator-document shape): add_percolator_queries validates the new
    batch AND rejects id collisions with what is already stored; readers
    see the union immediately; remove_percolator_queries rewrites the
    bounded registry and fails loudly on unknown ids."""
    import pytest

    from sparkfulltextquery_spark.functions.fulltext_queries import (
        add_percolator_queries,
        percolate_from_table,
        register_percolator_queries,
        remove_percolator_queries,
    )

    rel = spark.createDataFrame(
        [(1, "spark", [0]), (1, "join", [1]), (2, "vector", [0])],
        "doc_id long, term string, positions array<int>",
    )
    t = register_percolator_queries(
        spark, [(1, "spark AND join")], table="t_perc_incr"
    )
    add_percolator_queries(spark, [(2, "vector")], table=t)
    got = {tuple(r) for r in percolate_from_table(spark, rel, t, matches=True).collect()}
    assert got == {(1, 1), (2, 2)}

    # collision with a STORED id fails before anything is appended
    with pytest.raises(ValueError, match="already registered"):
        add_percolator_queries(spark, [(2, "stream")], table=t)
    # invalid new queries fail the same write-time contract
    with pytest.raises(ValueError, match="positive atom"):
        add_percolator_queries(spark, [(3, "NOT spark")], table=t)
    assert spark.table(t).count() == 2

    assert remove_percolator_queries(spark, [1], table=t) == 1
    got2 = {tuple(r) for r in percolate_from_table(spark, rel, t, matches=True).collect()}
    assert got2 == {(2, 2)}
    with pytest.raises(ValueError, match="not registered"):
        remove_percolator_queries(spark, [99], table=t)
    # removing the last entry leaves a valid empty registry
    assert remove_percolator_queries(spark, [2], table=t) == 1
    assert spark.table(t).count() == 0


def test_percolator_rejects_duplicate_query_ids(spark):
    """ADVICE r08: a duplicate query_id used to silently overwrite the
    earlier stored query — silently missed alerts. Both the compile path
    and table registration must fail loudly."""
    import pytest

    from sparkfulltextquery_spark.functions.fulltext_queries import (
        _percolate_bool,
        register_percolator_queries,
    )

    rel = spark.createDataFrame(
        [(1, "spark", [0])], "doc_id long, term string, positions array<int>"
    )
    with pytest.raises(ValueError, match="duplicate stored percolator"):
        _percolate_bool(rel, [(1, "spark"), (1, "join")])
    with pytest.raises(ValueError, match="duplicate stored percolator"):
        register_percolator_queries(
            spark, [(7, "spark"), (7, "join")], table="t_perc_dup"
        )
    assert not spark.catalog.tableExists("t_perc_dup")


def test_percolator_registry_table_name_validated(spark):
    """ADVICE r08: the registry table name is interpolated into SQL and
    into the managed-location path — qualified, quoted, or otherwise
    unsafe names are rejected before any catalog mutation."""
    import pytest

    from sparkfulltextquery_spark.functions.fulltext_queries import (
        register_percolator_queries,
    )

    for bad in ("db.tbl", "t;drop", "t`x", "t-x", "1tab", "t x", ""):
        with pytest.raises(ValueError, match="unqualified identifier"):
            register_percolator_queries(spark, [(1, "spark")], table=bad)
