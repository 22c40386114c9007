"""Seeded inputs: the documents and the fixed list of operations.

Documents come from the repository's own corpus generator,
``lucene_1_spark.corpus.generate`` (the corpus ``bench.py`` and
``BASELINE.json`` measure): ``tok0`` .. ``tok499`` plus 30 code
keywords, Zipf 1.2, 5-400 tokens per document, in python, java, rust
and markdown files.  Its tokens are ASCII letters and digits separated
by spaces and newlines, so an ``[A-Za-z0-9]+`` tokenizer splits them
exactly as a UAX#29 word-break tokenizer does.

The query kinds and frequency bands, the sizes, the batch sizes and the
number of commits are the same for every seed; the seed only picks the
documents and the query terms.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

import numpy as np

from reference import tokenize

KINDS = ("term", "or", "and", "must_should")
BANDS = ("hot", "mid", "rare", "absent")

# search workload
SEARCH_DOCS = 2200
SEARCH_ROUND_S = 4.0         # nominal seconds of one round of the mix
PROBE_COMMITS = 2            # the ingest probe after the timed phase
PROBE_APPEND_DOCS = 80
PROBE_QUERIES = 2

# index workload
WARM_BUILD_DOCS = 200
WARM_BATCH_DOCS = 50
BUILD_DOCS = 1600
BATCH_DOCS = 130
APPENDS_PER_CYCLE = 2
SEGS_PER_TIER = 2            # so the second commit after a build merges
INDEX_CYCLE_S = 20.0         # nominal seconds of one build+ingest cycle
FRESH_BATCH_QUERIES = 4

# never generated: the corpus vocabulary stops at tok499
ABSENT = [f"tok{500 + i}" for i in range(64)]
# the held-searcher query is the same for every seed
HELD_QUERY = "tok0 tok3"


@dataclass(frozen=True)
class Doc:
    key: tuple[str, str, str]
    lang: str
    content: str

    @property
    def doc_key(self) -> str:
        repo, path, commit = self.key
        return f"{repo}/{path}@{commit}"


def make_docs(seed: int, n: int) -> list[Doc]:
    """``n`` documents of the repository corpus for ``seed``; their
    paths are numbered, so no two documents of one call share a key."""
    from lucene_1_spark.corpus import generate

    pdf = generate(n, seed=seed % 2**32)
    return [Doc((r.repo, r.path, r.commit), r.lang, r.content)
            for r in pdf.itertuples(index=False)]


def in_doc_order(docs: list[Doc]) -> list[Doc]:
    """A build or an append numbers its documents in key order."""
    return sorted(docs, key=lambda d: d.key)


def doc_rows(docs: list[Doc]) -> dict[str, list]:
    return {"repo": [d.key[0] for d in docs],
            "path": [d.key[1] for d in docs],
            "commit": [d.key[2] for d in docs],
            "lang": [d.lang for d in docs],
            "content": [d.content for d in docs]}


@dataclass(frozen=True)
class Query:
    kind: str
    band: str
    must: tuple[str, ...]
    should: tuple[str, ...]

    @property
    def text(self) -> str:
        return " ".join([f"+{t}" for t in self.must] + list(self.should))

    @property
    def terms(self) -> tuple[str, ...]:
        return self.must + self.should


class QueryMaker:
    """Picks query terms by band from the documents' frequencies: hot =
    the 12 most frequent terms, rare = the 16 least frequent, mid = df
    in 3%-10% of the documents.  Absent terms never occur."""

    def __init__(self, rng: np.random.Generator, docs: list[Doc]):
        self.rng = rng
        df = Counter(t for d in docs for t in set(tokenize(d.content)))
        order = sorted(df, key=lambda t: (-df[t], t))
        n = len(docs)
        self.pool = {
            "hot": order[:12],
            "mid": [t for t in order[12:-16]
                    if 0.03 * n <= df[t] <= 0.10 * n],
            "rare": order[-16:],
            "absent": ABSENT,
        }
        for band, pool in self.pool.items():
            if len(pool) < 4:
                raise ValueError(f"band {band} has only {len(pool)} terms")

    def _pick(self, band: str, n: int) -> list[str]:
        pool = self.pool[band]
        return [pool[i] for i in self.rng.choice(len(pool), n, replace=False)]

    def make(self, kind: str, band: str) -> Query:
        n = {"term": 1, "or": 3, "and": 2, "must_should": 3}[kind]
        if band == "absent":
            # one absent term among mid terms: OR and should still match
            terms = self._pick("absent", 1) + self._pick("mid", n - 1)
            if kind == "or":
                terms = terms[1:] + terms[:1]
        else:
            terms = self._pick(band, n)
        if kind in ("term", "or"):
            return Query(kind, band, (), tuple(terms))
        if kind == "and":
            return Query(kind, band, tuple(terms), ())
        return Query(kind, band, (terms[0],), tuple(terms[1:]))

    def batch(self) -> list[Query]:
        return [self.make(k, b) for k in KINDS for b in BANDS]


def rounds_for(seconds: float, round_s: float) -> int:
    """Whole rounds of the mix for a requested run length."""
    return max(1, int(round(seconds / round_s)))
