"""Tests of the benchmark's brute-force BM25 reference; no Spark needed.

    python3 -m pytest e2ebench -q
"""

import math

import numpy as np

import inputs
from reference import (Collection, byte4_to_int, check_topk, int_to_byte4,
                       tokenize)


def test_byte4_round_trip_all_256_values():
    for b in range(256):
        assert int_to_byte4(byte4_to_int(b)) == b
    decoded = [byte4_to_int(b) for b in range(256)]
    assert decoded == sorted(decoded)
    assert decoded[:24] == list(range(24))          # exact below 24
    assert decoded[255] == 2013265944               # Lucene's LENGTH_TABLE


def test_byte4_rounds_down():
    for n in (25, 100, 129, 1000, 123456):
        b = int_to_byte4(n)
        assert byte4_to_int(b) <= n < byte4_to_int(b + 1)


def test_hand_computed_score_for_one_doc():
    c = Collection()
    c.add([("d0", "alpha beta"), ("d1", "alpha alpha gamma"),
           ("d2", "beta gamma delta")])
    ranked = c.rank((), ("alpha",))
    # docCount 3, docFreq 2, avgdl 8/3, doc d1 has length 3 and freq 2
    w = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))
    inv = 1 / (1.2 * (0.25 + 0.75 * 3 / (8 / 3)))
    want = w - w / (1 + 2 * inv)
    assert ranked[0][0] == 1
    assert abs(float(ranked[0][1]) - want) < 1e-6
    assert [d for d, _s in ranked] == [1, 0]


def test_boolean_semantics():
    c = Collection()
    c.add([("d0", "a b"), ("d1", "a c"), ("d2", "b c")])
    assert {d for d, _ in c.rank(("a",), ("b",))} == {0, 1}
    assert {d for d, _ in c.rank(("a", "b"), ())} == {0}
    assert {d for d, _ in c.rank((), ("a", "qx"))} == {0, 1}
    assert c.rank(("qx",), ("a",)) == []
    assert c.stats("a") == (2, 2) and c.stats("qx") == (0, 0)


def _ranked():
    s = np.float32
    return [(4, s(3.0)), (2, s(2.5)), (7, s(2.0)), (1, s(1.5)), (3, s(1.5)),
            (9, s(1.5))]


def test_exact_topk_passes():
    r = _ranked()
    assert check_topk([(d, float(s)) for d, s in r[:4]], r, 4) is None


def test_perturbed_topk_fails():
    r = _ranked()
    good = [(d, float(s)) for d, s in r[:4]]
    swapped = [good[1], good[0]] + good[2:]
    assert check_topk(swapped, r, 4) is not None
    nudged = good[:2] + [(7, float(np.nextafter(np.float32(2.0),
                                                np.float32(3.0))))] + good[3:]
    assert check_topk(nudged, r, 4) is not None
    assert check_topk(good[:3], r, 4) is not None
    wrong_doc = good[:3] + [(8, 1.5)]
    assert check_topk(wrong_doc, r, 4) is not None


def test_tie_at_rank_k_accepts_either_doc():
    r = _ranked()
    head = [(d, float(s)) for d, s in r[:3]]
    for tied in (1, 3, 9):
        assert check_topk(head + [(tied, 1.5)], r, 4) is None
    assert check_topk(head + [(3, 1.5), (3, 1.5)], r, 5) is not None


def test_inputs_tokenize_like_the_reference():
    from lucene_1_spark.corpus import vocab

    docs = inputs.make_docs(7, 50)
    words = set(vocab())
    for d in docs:
        toks = tokenize(d.content)
        assert 5 <= len(toks) <= 400
        assert set(toks) <= words
        assert " ".join(toks) == " ".join(d.content.split())
    assert len({d.key for d in docs}) == len(docs)
    assert not set(inputs.ABSENT) & words
    assert set(inputs.HELD_QUERY.split()) <= words


def test_bands_are_disjoint_and_filled():
    docs = inputs.make_docs(3, 300)
    maker = inputs.QueryMaker(np.random.default_rng(3), docs)
    pools = [set(maker.pool[b]) for b in inputs.BANDS]
    assert all(len(p) >= 4 for p in pools)
    assert sum(map(len, pools)) == len(set().union(*pools))
