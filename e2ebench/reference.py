"""Brute-force BM25 over the raw text, independent of the engine.

Lucene's BM25Similarity in float32: k1 = 1.2, b = 0.75, document
lengths quantised with ``SmallFloat.intToByte4``, per-term scores
``w - w / (1 + freq * normInverse)`` and a query's term scores summed
in double and cast to float.  Ties rank by docID; docIDs follow key
order within a bulk build and within each appended segment, and append
order across segments.  The tokenizer splits on anything but ASCII
letters and digits and lowercases, which matches UAX#29 word breaks on
text made of such words and whitespace.
"""

from __future__ import annotations

import re
from collections import Counter

import numpy as np

K1 = np.float32(1.2)
B = np.float32(0.75)
_TOKEN = re.compile(r"[A-Za-z0-9]+")


def tokenize(text: str) -> list[str]:
    return [t.lower() for t in _TOKEN.findall(text)]


# -- SmallFloat (org.apache.lucene.util.SmallFloat) ------------------------
def _long_to_int4(i: int) -> int:
    bits = i.bit_length()
    if bits < 4:
        return i
    shift = bits - 4
    return ((i >> shift) & 0x07) | ((shift + 1) << 3)


def _int4_to_long(i: int) -> int:
    bits, shift = i & 0x07, (i >> 3) - 1
    return bits if shift == -1 else (bits | 0x08) << shift


_FREE = 255 - _long_to_int4(2**31 - 1)   # 24


def int_to_byte4(i: int) -> int:
    if i < 0:
        raise ValueError(i)
    return i if i < _FREE else _FREE + _long_to_int4(i - _FREE)


def byte4_to_int(b: int) -> int:
    return b if b < _FREE else _FREE + _int4_to_long(b - _FREE)


LENGTH_TABLE = np.array([byte4_to_int(b) for b in range(256)],
                        dtype=np.float32)


def idf(doc_freq: int, doc_count: int) -> np.float32:
    return np.float32(np.log(1.0 + (doc_count - doc_freq + 0.5)
                             / (doc_freq + 0.5)))


def norm_inverse(avgdl: np.float32) -> np.ndarray:
    one = np.float32(1.0)
    return (one / (K1 * ((one - B) + B * LENGTH_TABLE / avgdl))) \
        .astype(np.float32)


def term_scores(weight: np.float32, freqs: np.ndarray,
                inv: np.ndarray) -> np.ndarray:
    f = freqs.astype(np.float32)
    return (weight - weight / (np.float32(1.0) + f * inv)).astype(np.float32)


class Collection:
    """Documents committed so far: docID = insertion order."""

    def __init__(self):
        self.keys: list[str] = []
        self.norms: list[int] = []
        self.sum_ttf = 0
        self._post: dict[str, tuple[list[int], list[int]]] = {}
        self._arr: dict[str, tuple[np.ndarray, np.ndarray]] = {}

    def add(self, keyed_texts: list[tuple[str, str]]) -> None:
        """Add docs in docID order: (doc_key, raw text) pairs."""
        for key, text in keyed_texts:
            toks = tokenize(text)
            doc = len(self.keys)
            self.keys.append(key)
            self.norms.append(int_to_byte4(len(toks)))
            self.sum_ttf += len(toks)
            for t, f in Counter(toks).items():
                ids, fs = self._post.setdefault(t, ([], []))
                ids.append(doc)
                fs.append(f)
        self._arr.clear()

    @property
    def n_docs(self) -> int:
        return len(self.keys)

    def postings(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        if term not in self._arr:
            ids, fs = self._post.get(term, ([], []))
            self._arr[term] = (np.asarray(ids, dtype=np.int64),
                               np.asarray(fs, dtype=np.int64))
        return self._arr[term]

    def stats(self, term: str) -> tuple[int, int]:
        """(doc_freq, total_term_freq); (0, 0) for an absent term."""
        _ids, fs = self.postings(term)
        return len(fs), int(fs.sum())

    def rank(self, must: tuple[str, ...], should: tuple[str, ...]) \
            -> list[tuple[int, np.float32]]:
        """Every matching doc as (docID, score), best first."""
        n = self.n_docs
        avgdl = np.float32(self.sum_ttf / float(n))
        inv = norm_inverse(avgdl)[np.asarray(self.norms, dtype=np.int64)]
        total = np.zeros(n, dtype=np.float64)
        n_must = np.zeros(n, dtype=np.int64)
        any_hit = np.zeros(n, dtype=bool)
        for term in must + should:
            ids, fs = self.postings(term)
            if len(ids) == 0:
                continue
            w = idf(len(ids), n)
            total[ids] += term_scores(w, fs, inv[ids]).astype(np.float64)
            any_hit[ids] = True
            if term in must:
                n_must[ids] += 1
        hit = (n_must == len(must)) & any_hit
        docs = np.flatnonzero(hit)
        scores = total[docs].astype(np.float32)
        order = np.lexsort((docs, -scores.astype(np.float64)))
        return [(int(docs[i]), scores[i]) for i in order]


def check_topk(got: list[tuple[int, float]],
               ranked: list[tuple[int, np.float32]], k: int) -> str | None:
    """None when ``got`` (docID, score) is a valid top-k of ``ranked``.

    Scores must match rank by rank in float32.  Above the k-th score
    the docs must match in order; docs tied with the k-th score may be
    any of the docs holding that score."""
    n = min(k, len(ranked))
    if len(got) != n:
        return f"{len(got)} hits, expected {n}"
    if n == 0:
        return None
    kth = ranked[n - 1][1]
    tied = {d for d, s in ranked if s == kth}
    seen = set()
    for i, ((doc, score), (rdoc, rscore)) in enumerate(zip(got, ranked)):
        if np.float32(score) != rscore:
            return f"rank {i + 1}: score {score!r} != {float(rscore)!r}"
        if rscore == kth:
            if doc not in tied or doc in seen:
                return f"rank {i + 1}: doc {doc} is not a tied doc at the cut"
            seen.add(doc)
        elif doc != rdoc:
            return f"rank {i + 1}: doc {doc} != {rdoc}"
    return None
