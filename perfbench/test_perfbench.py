"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import reference as ref  # noqa: E402
from tracer import Span, Tracer, percentile, self_times  # noqa: E402

K1, B = 1.2, 0.75


def test_percentile_reports_value_and_count():
    xs = list(range(1, 101))
    assert percentile(xs, 0.5) == (50, 100)
    assert percentile(xs, 0.9) == (90, 100)


def test_percentile_refuses_thin_tail():
    with pytest.raises(ValueError, match="beyond"):
        percentile(list(range(99)), 0.9)
    # the median is not a tail: three samples are enough
    assert percentile([3, 1, 2], 0.5) == (2, 3)


def test_self_time_subtracts_covered_child_interval():
    spans = [
        Span(1, None, 7, "parent", 0.0, 10.0),
        Span(2, 1, 7, "child", 1.0, 3.0),
        Span(3, 1, 7, "child", 2.0, 5.0),  # overlaps the first child
        Span(4, 1, 7, "child", 6.0, 7.0),
        Span(5, 4, 7, "grandchild", 6.0, 6.5),
    ]
    st = self_times(spans)
    assert st["parent"] == pytest.approx((5.0, 1))  # 10 - (1..5) - (6..7)
    assert st["child"] == pytest.approx((2.0 + 3.0 + 0.5, 3))
    assert st["grandchild"] == pytest.approx((0.5, 1))


def test_tracer_links_parent_and_inherits_op():
    tr = Tracer()
    assert tr.span("x").__enter__() is None  # unmarked: nothing recorded
    tr.mark(True)
    with tr.span("outer", op=3):
        with tr.span("inner"):
            pass
    inner, outer = tr.spans
    assert inner.parent == outer.span_id and inner.op == 3


def test_bm25_matches_hand_computed_three_doc_corpus():
    # dl = 2, 3, 1 -> avgdl = 2; N = 3
    c = ref.Corpus([(1, "a b"), (2, "a c c"), (3, "b")], K1, B)
    idf_a = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))  # df(a) = 2
    idf_c = math.log(1 + (3 - 1 + 0.5) / (1 + 0.5))  # df(c) = 1
    # tf-part = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    d1_a = 1 * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 2 / 2))
    d2_a = 1 * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 3 / 2))
    d2_c = 2 * 2.2 / (2 + 1.2 * (0.25 + 0.75 * 3 / 2))
    assert d1_a == pytest.approx(1.0)
    assert d2_a == pytest.approx(2.2 / 2.65)
    assert d2_c == pytest.approx(4.4 / 3.65)
    got = c.bm25(["a", "c"])
    assert got == pytest.approx({1: idf_a * d1_a, 2: idf_a * d2_a + idf_c * d2_c})
    assert got[1] == pytest.approx(0.470004, abs=1e-6)
    assert got[2] == pytest.approx(0.390192 + 1.182369, abs=1e-6)


def test_boolean_subset_evaluation():
    c = ref.Corpus(
        [(1, "kala mino rupa"), (2, "kalo mino"), (3, "rupa kala"), (4, "zeta")], K1, B
    )

    def ev(q):
        return ref.evaluate(ref.parse(q), c)

    assert ev('"kala mino"') == {1}
    assert ev("kal* AND NOT rupa") == {2}
    assert ev("kala~1 OR zeta") == {1, 2, 3, 4}
    assert ev("[kala TO kalo] AND NOT mino") == {3}
    assert ev("(mino OR zeta) AND NOT kalo") == {1, 4}
    assert ref.positive_terms(ref.parse('"kala mino" AND NOT rupa OR zeta~1')) == [
        "kala",
        "mino",
    ]


def test_check_topk_accepts_ties_and_rejects_omissions():
    scores = {1: 3.0, 2: 2.0, 3: 2.0, 4: 1.0}
    assert ref.check_topk([(1, 3.0), (2, 2.0)], scores, 2)
    assert ref.check_topk([(1, 3.0), (3, 2.0)], scores, 2)
    assert not ref.check_topk([(1, 3.0), (4, 1.0)], scores, 2)
    assert not ref.check_topk([(1, 3.0)], scores, 2)


def test_percolation_reference_matches_per_document():
    docs = [(1, "kala mino rupa"), (2, "mino zeta")]
    queries = [(7, "kala AND mino"), (8, "mino AND NOT kala"), (9, '"mino zeta"')]
    assert ref.percolate(docs, queries, K1, B) == {(7, 1), (8, 2), (9, 2)}


def test_near_duplicate_reference():
    a = ref.shingles("w1 w2 w3 w4")
    assert a == {"w1 w2 w3", "w2 w3 w4"}
    assert ref.jaccard(a, ref.shingles("w1 w2 w3 w5")) == pytest.approx(1 / 3)
    assert ref.components([(5, 3), (3, 9), (7, 8)]) == {3: 3, 5: 3, 9: 3, 7: 7, 8: 7}


def test_generator_is_seeded():
    import numpy as np

    def make(seed):
        rng = np.random.default_rng(seed)
        vocab = gen.make_vocab(rng, 200)
        return vocab, gen.make_docs(rng, vocab, 5), gen.cold_queries(rng, vocab, 20)

    assert make(4) == make(4)
    assert make(4) != make(5)
    _, _, cold = make(4)
    assert len({q for _, q in cold}) == 20


def test_hot_stream_walks_the_pool_in_passes():
    import numpy as np

    pool = [("bm25" if i % gen.HOT_CYCLE < 2 else "boolean", f"q{i}") for i in range(12)]
    stream = list(gen.hot_stream(np.random.default_rng(1), pool, 36))
    for p in range(3):
        one_pass = stream[12 * p : 12 * (p + 1)]
        assert sorted(one_pass) == sorted(pool)
        assert [k for k, _ in one_pass] == [k for k, _ in pool]
    assert stream[:12] != stream[12:24]  # each pass has its own order
